package graft.store

import java.nio.file.Files
import java.util.Properties

import graft.SparkSpec

/** S9 warehouse semantics against an in-process Derby database — the same
  * JDBC surface the reference exercises against Postgres
  * (tests/load_test.py:81-157): first write creates, merge updates matched
  * PKs and inserts new ones while untouched rows survive, replace
  * recreates.
  */
class JdbcWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def derby(): (String, Properties) = {
    val dir = Files.createTempDirectory("graft_derby_").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Derby maps Spark StringType to CLOB by default, which cannot join a
    // MERGE ON clause — pin VARCHAR like a real warehouse schema would
    props.setProperty("createTableColumnTypes",
      "symbol VARCHAR(32), close DOUBLE")
    (url, props)
  }

  test("first upsert creates the table; second merges on PK") {
    val (url, props) = derby()
    val v0 = Seq(("AAPL", 10.0), ("MSFT", 20.0), ("GOOG", 30.0))
      .toDF("symbol", "close")
    JdbcWarehouse.upsert(spark, v0, url, "prices", Seq("symbol"), props)
    assert(JdbcWarehouse.tableExists(url, "prices", props))

    val delta = Seq(("MSFT", 21.5), ("NVDA", 40.0), ("NVDA", 40.0))
      .toDF("symbol", "close")
    JdbcWarehouse.upsert(spark, delta, url, "prices", Seq("symbol"), props)

    val got = JdbcWarehouse.read(spark, url, "prices", props)
      .as[(String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("AAPL", 10.0), ("GOOG", 30.0),
      ("MSFT", 21.5), ("NVDA", 40.0)))
  }

  test("dropStrandedStages reclaims only <table>_stage_<nonce> tables") {
    val (url, props) = derby()
    val v0 = Seq(("AAPL", 10.0)).toDF("symbol", "close")
    JdbcWarehouse.upsert(spark, v0, url, "prices", Seq("symbol"), props)
    // simulate a JVM that crashed between the stage write and its DROP:
    // two stranded stages for `prices`, plus look-alikes that must survive —
    // a user table named like a stage but with the wrong nonce shape, a
    // stage for a DIFFERENT target, and the target itself
    for (t <- Seq("prices_stage_0123abcd", "prices_stage_deadbeef",
        "prices_stage_notanonce", "prices_stage_0123abcd9", "other_stage_0123abcd")) {
      import scala.jdk.CollectionConverters._
      val opts = props.stringPropertyNames().asScala
        .map(k => k -> props.getProperty(k)).toMap
      v0.write.options(opts).jdbc(url, t, props)
    }
    val dropped = JdbcWarehouse.dropStrandedStages(url, "prices", props)
    assert(dropped.map(_.toLowerCase).toSet ==
      Set("prices_stage_0123abcd", "prices_stage_deadbeef"))
    assert(JdbcWarehouse.tableExists(url, "prices", props))
    assert(JdbcWarehouse.tableExists(url, "prices_stage_notanonce", props))
    assert(JdbcWarehouse.tableExists(url, "prices_stage_0123abcd9", props))
    assert(JdbcWarehouse.tableExists(url, "other_stage_0123abcd", props))
    assert(!JdbcWarehouse.tableExists(url, "prices_stage_0123abcd", props))
    assert(!JdbcWarehouse.tableExists(url, "prices_stage_deadbeef", props))
    // a second reclaim finds nothing — idempotent
    assert(JdbcWarehouse.dropStrandedStages(url, "prices", props).isEmpty)
    // the target still upserts normally after reclaim
    JdbcWarehouse.upsert(spark,
      Seq(("AAPL", 11.0)).toDF("symbol", "close"),
      url, "prices", Seq("symbol"), props)
    val got = JdbcWarehouse.read(spark, url, "prices", props)
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("AAPL", 11.0)))
  }

  test("replace recreates the table with exactly the new rows") {
    val (url, props) = derby()
    JdbcWarehouse.replace(
      Seq(("AAPL", 10.0)).toDF("symbol", "close"), url, "prices2", props)
    JdbcWarehouse.replace(
      Seq(("TSLA", 5.0), ("NVDA", 6.0)).toDF("symbol", "close"),
      url, "prices2", props)
    val got = JdbcWarehouse.read(spark, url, "prices2", props)
      .as[(String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("NVDA", 6.0), ("TSLA", 5.0)))
  }

  test("promoteJdbc date-filters the lake scan and merges into the DB") {
    val (url, props) = derby()
    val lakeRoot = Files.createTempDirectory("graft_lake_").toString
    val lake = graft.pipeline.Extract.lakePath(lakeRoot, "price_history", "t")
    val df = Seq(
      (java.sql.Date.valueOf("2024-01-01"), "AAPL", 1.0),
      (java.sql.Date.valueOf("2024-02-01"), "AAPL", 2.0),
      (java.sql.Date.valueOf("2024-03-01"), "AAPL", 3.0))
      .toDF("date_stamp", "symbol", "close")
    df.write.parquet(lake)
    val p2 = new Properties()
    p2.putAll(props)
    p2.setProperty("createTableColumnTypes",
      "date_stamp DATE, symbol VARCHAR(32), close DOUBLE")
    graft.pipeline.Flow.promoteJdbc(spark, lakeRoot, "price_history", "t",
      url, "dw_prices", Some(Seq("date_stamp", "symbol")), p2,
      dateRange = Some((java.time.LocalDate.parse("2024-01-15"),
        java.time.LocalDate.parse("2024-02-15"))))
    val got = JdbcWarehouse.read(spark, url, "dw_prices", p2)
    assert(got.count() == 1)
    assert(got.select("close").as[Double].collect().toSeq == Seq(2.0))
  }
}
