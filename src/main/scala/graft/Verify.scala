package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD: a query that throws gets its message recorded in
  * `errors.json` (name → message) next to `oracle_sql.json`, and the
  * process exits nonzero — round 8 proved that a dead query which merely
  * vanishes from the output directory reads as "not run" instead of
  * "broken" and can hide a 21-query breakage.
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def jsonObj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")

  /** Run each query, writing its result parquet under `outDir/<name>` and
    * recording thrown queries. Always writes `errors.json` (empty object
    * when everything ran) and returns the name → message failures in run
    * order — the testable core of the correctness dump.
    */
  private[graft] def dumpQueries(spark: SparkSession, sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val errors = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name failed: $msg")
        Some(name -> msg)
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObj(errors))
    errors
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — builder-local
    // iteration only; the driver always passes exactly two args
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // drop stale fixture trees from prior runs (memoFixture's cache is
    // per-JVM; without this, the tmpdir-fallback scratch accumulates one
    // tree per verify run forever)
    SparkEntry.wipeStaleFixtures()
    val spark = Harness.session(cpus)
    // harness sessions carry the full graft surface: SQL-registered
    // kernels plus the size(bpe_encode)->count rewrite, so any query
    // spelling the naive form gets the allocation-free kernel
    GraftExtensions.install(spark)
    val errors = dumpQueries(spark, sfDir, outDir,
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
