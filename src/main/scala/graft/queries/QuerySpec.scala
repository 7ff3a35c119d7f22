package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body and the DuckDB twin that gates
  * it, side by side. `run` takes the session and the testdata directory.
  *
  * Determinism rules shared by every `run` and its `oracleSql`:
  *  - identical output column NAMES on both sides (the result compare
  *    sorts columns by name before hashing);
  *  - a total ORDER BY on both sides;
  *  - double outputs are either exact IEEE-deterministic arithmetic on
  *    identical inputs (divisions, min/max) or decimal-exact aggregation
  *    (`sum(cast(x as decimal))`) cast back to double — never a
  *    float-accumulation whose order could differ between engines;
  *  - timestamps never leave a query raw (testdata `events.ts` has
  *    shipped as both INT64 nanos and TIMESTAMP_NTZ micros across
  *    generations; the loader normalizes, see [[Shared.t]]) — only
  *    dates / epoch-µs / ids are emitted.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** The registered queries, keyed by name. Construction rejects a
  * repeated name: a second spec under one name would otherwise replace
  * the first in both views and drop a query from every harness without
  * an error.
  */
final class QueryRegistry(specs: Seq[QuerySpec]) {
  private val repeated = specs.groupBy(_.name).collect {
    case (name, same) if same.size > 1 => name
  }
  require(repeated.isEmpty,
    s"duplicate query names: ${repeated.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap
  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
