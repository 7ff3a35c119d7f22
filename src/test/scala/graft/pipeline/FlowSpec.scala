package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

/** End-to-end ETL flow over fixture sources (reference:
  * tests/e2e_test.py — full flow, chunking, partial failure, idempotent
  * re-runs with overlapping date ranges).
  */
class FlowSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic in-memory source standing in for Wikipedia/Yahoo. */
  private class FixtureSource(failSymbols: Set[String] = Set.empty,
      nullSymbols: Set[String] = Set.empty) extends RawSource {
    override def fetchSymbols(s: SparkSession, cat: String): DataFrame =
      if (cat == "sp_stocks")
        Seq(
          ("AAPL", "Apple", Some("Tech"), Some("Hardware"),
            Some(false), Some(true), Some(false)),
          ("BRK.B", "Berkshire", None, None, None, Some(true), None))
          .toDF("Symbol", "Security", "GICS Sector", "GICS Sub-Industry",
            "in_sp400", "in_sp500", "in_sp600")
      else Seq("EURUSD=X", "CHF=X").toDF("Symbol")

    override def fetchPrices(s: SparkSession, symbols: Seq[String],
        start: LocalDate, end: LocalDate): (DataFrame, Seq[String]) = {
      val ok = symbols.filterNot(failSymbols)
      val days = Iterator.iterate(start)(_.plusDays(1))
        .takeWhile(!_.isAfter(end)).toSeq
      val rows = days.map { d =>
        val base = Timestamp.valueOf(d.atStartOfDay())
        val cells: Seq[Any] = ok.flatMap { sym =>
          val v = (sym.hashCode.abs % 100 + d.getDayOfMonth).toDouble
          if (nullSymbols(sym)) Seq.fill[Any](5)(null)
          else Seq[Any](v, v + 1.0, v - 1.0, v + 0.5, (d.getDayOfMonth * 10).toLong)
        }
        org.apache.spark.sql.Row.fromSeq(base +: cells)
      }
      val fields = org.apache.spark.sql.types.StructField("Date",
        org.apache.spark.sql.types.TimestampType, nullable = false) +:
        ok.flatMap { sym =>
          Seq("Open", "High", "Low", "Close").map(f =>
            org.apache.spark.sql.types.StructField(s"${f}_$sym",
              org.apache.spark.sql.types.DoubleType)) :+
            org.apache.spark.sql.types.StructField(s"Volume_$sym",
              org.apache.spark.sql.types.LongType)
        }
      val df = s.createDataFrame(s.sparkContext.parallelize(rows),
        org.apache.spark.sql.types.StructType(fields))
      (df, symbols.filter(failSymbols))
    }
  }

  private def roots() = {
    val d = Files.createTempDirectory("graft_flow_").toString
    (s"$d/lake", s"$d/dw")
  }

  test("fx flow end-to-end: replace symbols, merge prices, promote, model") {
    val (lake, dw) = roots()
    Flow.etlFlow(spark, new FixtureSource(), lake, dw, "fx",
      start = Some(LocalDate.parse("2024-01-01")),
      end = Some(LocalDate.parse("2024-01-05")),
      today = LocalDate.parse("2024-06-01"))
    val prices = spark.read.parquet(s"$dw/price_history_fx")
    assert(prices.count() == 10) // 2 symbols x 5 days
    // fx normalization applied: CHF=X -> USDCHF
    val syms = prices.select("symbol").distinct().as[String].collect().toSet
    assert(syms == Set("EURUSD", "USDCHF"))
  }

  test("overlapping re-run is exactly-once (PK merge idempotency)") {
    val (lake, dw) = roots()
    val src = new FixtureSource()
    def run(s: String, e: String) = Flow.etlFlow(spark, src, lake, dw, "fx",
      start = Some(LocalDate.parse(s)), end = Some(LocalDate.parse(e)),
      today = LocalDate.parse("2024-06-01"))
    run("2024-01-01", "2024-01-05")
    run("2024-01-03", "2024-01-08") // overlaps days 3-5
    val prices = spark.read.parquet(s"$dw/price_history_fx")
    assert(prices.count() == 16) // 2 symbols x 8 distinct days, no dups
    assert(prices.groupBy("date_stamp", "symbol").count()
      .where($"count" > 1).isEmpty)
  }

  test("partial failure still promotes, then raises with the failed set") {
    val (lake, dw) = roots()
    // the universe carries RAW symbols (CHF=X); normalization happens in
    // the price transform, so failures are reported in raw form too
    val e = intercept[Flow.PartialFailure] {
      Flow.etlFlow(spark, new FixtureSource(failSymbols = Set("CHF=X")),
        lake, dw, "fx",
        start = Some(LocalDate.parse("2024-01-01")),
        end = Some(LocalDate.parse("2024-01-03")),
        today = LocalDate.parse("2024-06-01"))
    }
    assert(e.failed == Seq("CHF=X"))
    // promotion happened BEFORE the raise (O3)
    assert(spark.read.parquet(s"$dw/price_history_fx").count() == 3)
  }

  test("a chunk whose every ticker is all-null merges nothing") {
    val (lake, dw) = roots()
    // chunkSize 1: CHF=X is a chunk of its own, fetched but all-null
    Flow.etlFlow(spark, new FixtureSource(nullSymbols = Set("CHF=X")),
      lake, dw, "fx",
      start = Some(LocalDate.parse("2024-01-01")),
      end = Some(LocalDate.parse("2024-01-05")),
      today = LocalDate.parse("2024-06-01"), chunkSize = 1)
    val syms = spark.read.parquet(s"$dw/price_history_fx")
      .select("symbol").as[String].collect().toSeq
    assert(syms.length == 5 && syms.toSet == Set("EURUSD"))
  }

  test("stock flow: models produce dim_symbols and fct_prices that pass DQ") {
    val (lake, dw) = roots()
    val src = new FixtureSource()
    Flow.etlFlow(spark, src, lake, dw, "sp_stocks",
      start = Some(LocalDate.parse("2024-01-01")),
      end = Some(LocalDate.parse("2024-01-03")),
      today = LocalDate.parse("2024-06-01"))
    Flow.etlFlow(spark, src, lake, dw, "fx",
      start = Some(LocalDate.parse("2024-01-01")),
      end = Some(LocalDate.parse("2024-01-03")),
      today = LocalDate.parse("2024-06-01"))
    Flow.runModels(spark, dw)
    val dim = spark.read.parquet(s"$dw/dim_symbols")
    assert(dim.count() == 4) // BRK-B, AAPL, EURUSD, USDCHF
    val results = Flow.runDataTests(spark, dw)
    assert(results.forall(_.passed), results.filterNot(_.passed).mkString("; "))
  }

  test("promotion pushes its date filter down to the lake's parquet scan") {
    val (lake, dw) = roots()
    Seq("2024-01-01", "2024-01-02", "2024-01-03")
      .map(d => (java.sql.Date.valueOf(d), "EURUSD", 1.0))
      .toDF("date_stamp", "symbol", "close")
      .write.parquet(Extract.lakePath(lake, "price_history", "fx"))
    val day = LocalDate.parse("2024-01-02")
    val rec = new graft.tools.Profile.Recorder(spark)
    val run = try rec.record(Flow.promote(spark, lake, "price_history", "fx",
        s"$dw/price_history_fx", Some(Seq("date_stamp", "symbol")),
        dateRange = Some((day, day))))._2
      finally rec.close()
    val pushed = run.executions.flatMap(_.plan.linesIterator)
      .filter(_.contains("PushedFilters"))
    assert(pushed.exists(l => l.contains("GreaterThanOrEqual(date_stamp") &&
      l.contains("LessThanOrEqual(date_stamp")), pushed)
    assert(spark.read.parquet(s"$dw/price_history_fx").count() == 1)
    // a lake table that was never written promotes nothing
    Flow.promote(spark, lake, "symbols", "fx", s"$dw/symbols_fx", None)
    assert(!Files.exists(Paths.get(s"$dw/symbols_fx")))
  }

  test("one fixture day runs in at most 78 Spark jobs") {
    val (lake, dw) = roots()
    val src = new FixtureSource()
    def day(s: String, e: String): Unit = {
      Seq("sp_stocks", "fx").foreach(cat => Flow.etlFlow(spark, src, lake, dw, cat,
        start = Some(LocalDate.parse(s)), end = Some(LocalDate.parse(e)),
        today = LocalDate.parse("2024-06-01")))
      Flow.runModels(spark, dw)
      Flow.runDataTests(spark, dw)
    }
    day("2024-01-01", "2024-01-05") // history
    val rec = new graft.tools.Profile.Recorder(spark)
    val run = try rec.record(day("2024-01-06", "2024-01-06"))._2 finally rec.close()
    // per flow: the symbol gate and merge, the price transform, gate and
    // merge, two promotions; then the model rebuild and the one-action DQ
    // suite (78 jobs on local[4])
    assert(run.jobs.length <= 78,
      s"${run.jobs.length} jobs:\n" + run.jobs.map(_.desc).mkString("\n"))
  }

  test("resolveDates reproduces the reference's defaulting rules") {
    val today = LocalDate.parse("2024-06-15")
    assert(Flow.resolveDates(None, None, today) ==
      (today.minusDays(1), today))
    assert(Flow.resolveDates(None, Some(LocalDate.parse("2024-01-01")), today) ==
      (LocalDate.parse("2000-01-01"), LocalDate.parse("2024-01-01")))
    assert(Flow.resolveDates(Some(LocalDate.parse("2024-05-01")), None, today) ==
      (LocalDate.parse("2024-05-01"), today))
  }

  test("chunked respects the 500-symbol batch size") {
    val chunks = Flow.chunked((1 to 1200).map(_.toString)).toSeq
    assert(chunks.map(_.size) == Seq(500, 500, 200))
  }
}
