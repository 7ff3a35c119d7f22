package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.queries._
import graft.queries.ReferenceParityQueries.priceHistory
import graft.warehouse.Models

/** Public contract: `entry`, plus `queries` (name → Spark body) and
  * `oracleSql` (name → DuckDB twin), both views of ONE registry. Each
  * query and its oracle are a single [[graft.queries.QuerySpec]] in the
  * object of its family under `graft.queries` (reference parity,
  * relational/lakehouse, dedup, ANN/retrieval, tokenizer/packing,
  * corpus curation, multimodal); helpers several families use live once
  * in [[graft.queries.Shared]]. A new query is one `QuerySpec` in its
  * family's `specs`.
  */
object SparkEntry {

  private lazy val registry = new QueryRegistry(
    ReferenceParityQueries.specs ++ RelationalQueries.specs ++
      DedupQueries.specs ++ AnnQueries.specs ++ TokenizerQueries.specs ++
      CurationQueries.specs ++ MultimodalQueries.specs)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  lazy val oracleSql: Map[String, String] = registry.oracleSql

  /** Flagship: the securities warehouse pipeline end-to-end on synthetic
    * price history — staging casts/rounds + forward-fill window + core
    * UNION ALL (fct_prices). Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val fx = Models.stgFxPrices(priceHistory(spark, dir, fx = true))
    val st = Models.stgStockPrices(priceHistory(spark, dir, fx = false))
    Models.fctPrices(fx, st).orderBy("symbol", "date_stamp")
  }

  // ---- helpers the tests, tools and ScaleSmoke reach through the facade

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Shared.t(s, dir, name)

  private[graft] def slicedBacklog(s: SparkSession, root: String,
      slices: Seq[DataFrame]): (String, StructType) =
    Shared.slicedBacklog(s, root, slices)

  private[graft] def parityBacklog(s: SparkSession, root: String,
      df: DataFrame): (String, StructType) =
    Shared.parityBacklog(s, root, df)

  private[graft] def idRangeBacklog(s: SparkSession, root: String,
      df: DataFrame, nFiles: Int = 2): (String, StructType) =
    Shared.idRangeBacklog(s, root, df, nFiles)

  private[graft] def multimodalDocs(docs: DataFrame): DataFrame =
    MultimodalQueries.multimodalDocs(docs)

  private[graft] def wipeStaleFixtures(): Unit = Shared.wipeStaleFixtures()
}
