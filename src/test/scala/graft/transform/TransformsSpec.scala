package graft.transform

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.validate.Validator

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  test("transformStockSymbols: rename, BRK.B fix, null fills, projection") {
    val raw = Seq(
      ("BRK.B", "Berkshire", Option.empty[String], Option.empty[String],
        Option.empty[Boolean], Some(true), Option.empty[Boolean]),
      ("AAPL", "Apple", Some("Tech"), Some("Hardware"),
        Some(false), Some(true), Some(false)))
      .toDF("Symbol", "Security", "GICS Sector", "GICS Sub-Industry",
        "in_sp400", "in_sp500", "in_sp600")
    val out = SymbolTransforms
      .transformStockSymbols(raw, Date.valueOf("2024-06-01"))
      .orderBy("symbol").collect()
    assert(out(0).getString(0) == "AAPL")
    val brk = out(1)
    assert(brk.getString(0) == "BRK-B")       // '.' -> '-' literal, not regex
    assert(brk.getString(2) == "Missing")     // null sector filled
    assert(!brk.getBoolean(4))                // null in_sp400 -> false
    assert(brk.getDate(7) == Date.valueOf("2024-06-01"))
  }

  test("transformPrices: dead-column drop, stack unpivot, all-null rows kept") {
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"),
        Some(1.0), Some(2.0), Some(0.5), Some(1.5), Some(10L),
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Long]),
      (Timestamp.valueOf("2024-01-02 00:00:00"),
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Long],
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Long]))
      .toDF("Date",
        "Open_AAPL", "High_AAPL", "Low_AAPL", "Close_AAPL", "Volume_AAPL",
        "Open_DEAD", "High_DEAD", "Low_DEAD", "Close_DEAD", "Volume_DEAD")
    val out = PriceTransforms.transformPrices(wide, "sp_stocks")._1
    val rows = out.orderBy("date_stamp").collect()
    // DEAD ticker (all-null columns) dropped entirely: only AAPL rows remain
    assert(rows.map(_.getString(1)).distinct.toSeq == Seq("AAPL"))
    // the all-null day SURVIVES as a null-OHLCV row (future_stack=True parity)
    assert(rows.length == 2)
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(5))
  }

  test("transformPrices: fx symbols get =X stripped and USD-base remap") {
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0), Some(1.0),
        Some(1.0), Some(1.0), Some(0L), Some(2.0), Some(2.0), Some(2.0),
        Some(2.0), Some(0L)))
      .toDF("Date",
        "Open_EURUSD=X", "High_EURUSD=X", "Low_EURUSD=X", "Close_EURUSD=X",
        "Volume_EURUSD=X",
        "Open_CHF=X", "High_CHF=X", "Low_CHF=X", "Close_CHF=X", "Volume_CHF=X")
    val out = PriceTransforms.transformPrices(wide, "fx")._1
      .select("symbol").distinct().orderBy("symbol")
      .as[String].collect().toSeq
    assert(out == Seq("EURUSD", "USDCHF")) // suffix strip + whole-value remap
  }

  test("transformPrices: empty input returns unchanged (guard)") {
    val empty = Seq.empty[(Timestamp, Option[Double])].toDF("Date", "Open_A")
    assert(PriceTransforms.transformPrices(empty, "fx")._1.count() == 0)
  }

  test("transformPrices: every ticker all-null gives an empty long frame") {
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"),
        Option.empty[Double], Option.empty[Long]))
      .toDF("Date", "Open_DEAD", "Volume_DEAD")
    val out = PriceTransforms.transformPrices(wide, "sp_stocks")._1
    assert(out.schema == graft.model.Schemas.transformedPrices)
    assert(out.isEmpty)
  }

  test("transformPrices: empty input a validator would reject returns unchanged") {
    // the guard precedes validation (transform.py:73-74): an empty fetch
    // with a wrong-typed matched column is not a schema failure
    val empty = Seq.empty[(Timestamp, Boolean)].toDF("Date", "Open_AAPL")
    val out = PriceTransforms.transformPrices(empty, "sp_stocks")._1
    assert(out eq empty)
  }

  test("transformPrices rejects a wrong-typed matched column (lazy validation)") {
    val bad = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), true))
      .toDF("Date", "Open_AAPL") // boolean is not coercible to double
    val e = intercept[Validator.SchemaValidationException] {
      PriceTransforms.transformPrices(bad, "sp_stocks")
    }
    assert(e.violations.exists(_.check == "dtype"))
  }

  test("extra Adj Close columns pass validation and survive the stack") {
    // pandera strict=False parity: the reference's raw CSVs carry
    // Adj Close_<ticker> columns no pattern declares (e2e_test.py:173)
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"),
        Some(1.0), Some(2.0), Some(0.5), Some(1.5), Some(1.4), Some(10L)))
      .toDF("Date", "Open_AAPL", "High_AAPL", "Low_AAPL", "Close_AAPL",
        "Adj Close_AAPL", "Volume_AAPL")
    val out = PriceTransforms.transformPrices(wide, "sp_stocks")._1
    assert(out.columns.toSeq ==
      Seq("date_stamp", "symbol", "open", "high", "low", "close", "volume",
        "adj close"))
    assert(out.collect()(0).getAs[Double]("adj close") == 1.4)
  }

  test("a price chunk runs at most 2 Spark jobs from the wide frame to the gated rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_").toString
    Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"),
        Some(1.0), Some(2.0), Some(0.5), Some(1.5), Some(10L),
        Option.empty[Double], Option.empty[Long]),
      (Timestamp.valueOf("2024-01-02 00:00:00"),
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Long],
        Option.empty[Double], Option.empty[Long]))
      .toDF("Date", "Open_AAPL", "High_AAPL", "Low_AAPL", "Close_AAPL",
        "Volume_AAPL", "Open_DEAD", "Volume_DEAD")
      .write.mode("overwrite").parquet(dir)
    val wide = spark.read.parquet(dir)
    val rec = new graft.tools.Profile.Recorder(spark)
    val ((gated, rows), run) = try rec.record {
      val (long, rows) = PriceTransforms.transformPrices(wide, "sp_stocks")
      (Validator.validateOrThrow(long, graft.model.Schemas.transformedPrices), rows)
    } finally rec.close()
    // a wide pre-pass, a separate materialize and a two-stage gate
    // aggregate would be 5
    assert(run.jobs.length <= 2,
      s"${run.jobs.length} jobs:\n" + run.jobs.map(_.desc).mkString("\n"))
    assert(rows == 2L)
    assert(gated.select("symbol").as[String].collect().toSeq == Seq("AAPL", "AAPL"))
  }

  test("a field all-null in every ticker is dropped: Volume fails the gate, Adj Close goes") {
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0), Option.empty[Long],
        Option.empty[Double], Some(2.0), Option.empty[Long], Option.empty[Double]))
      .toDF("Date", "Open_A", "Volume_A", "Adj Close_A",
        "Open_B", "Volume_B", "Adj Close_B")
    val (long, rows) = PriceTransforms.transformPrices(wide, "sp_stocks")
    assert(long.columns.toSeq == Seq("date_stamp", "symbol", "open"))
    assert(rows == 2L)
    val e = intercept[Validator.SchemaValidationException] {
      Validator.validateOrThrow(long, graft.model.Schemas.transformedPrices)
    }
    assert(e.violations.filter(_.column == "volume").map(_.check) ==
      Seq("column_in_dataframe"))
  }

  test("a dead CHF=X beside a live USDCHF=X leaves only the live rows") {
    val wide = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0), Option.empty[Double]),
      (Timestamp.valueOf("2024-01-02 00:00:00"), Some(2.0), Option.empty[Double]))
      .toDF("Date", "Close_USDCHF=X", "Close_CHF=X")
    val (long, rows) = PriceTransforms.transformPrices(wide, "fx")
    val got = long.orderBy("date_stamp").select("symbol", "close")
      .as[(String, Double)].collect().toSeq
    // the dead ticker is dropped by its raw name, before the remap would
    // give it the live one's
    assert(got == Seq(("USDCHF", 1.0), ("USDCHF", 2.0)))
    assert(rows == 2L)
  }

  test("winsorize clips to exact per-group quantiles; nulls pass through") {
    import spark.implicits._
    val df = ((1 to 10).map(i => ("a", Some(i.toDouble))) ++
      Seq(("a", None), ("b", Some(100.0)), ("b", Some(200.0)),
        ("b", Some(300.0))))
      .toDF("g", "x")
    val got = PriceTransforms.winsorize(df, "g", "x", 0.25, 0.75)
      .orderBy("g", "x").as[(String, Option[Double])].collect().toSeq
    // group a: p25 of 1..10 = 3.25, p75 = 7.75 (linear interpolation);
    // group b: p25 of {100,200,300} = 150, p75 = 250; null stays null and
    // does not perturb the bounds
    assert(got == Seq(
      ("a", None), ("a", Some(3.25)), ("a", Some(3.25)), ("a", Some(3.25)),
      ("a", Some(4.0)), ("a", Some(5.0)), ("a", Some(6.0)), ("a", Some(7.0)),
      ("a", Some(7.75)), ("a", Some(7.75)), ("a", Some(7.75)),
      ("b", Some(150.0)), ("b", Some(200.0)), ("b", Some(250.0))))
  }
}
