package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Temporal
import graft.store.UpsertWriter
import graft.validate.Validator
import graft.warehouse.Models

import Shared._

/** Reference-parity family: the operators of the reference pipeline
  * (SURVEY.md §2) — scans, casts, unpivot, PK merge, forward-fill
  * staging, `dim_symbols`/`fct_prices`, the DQ suite — plus the daily
  * flow end to end (q82) over the events-derived price history.
  */
private[graft] object ReferenceParityQueries {

  /** Synthetic OHLCV price history derived deterministically from `events`
    * — gives the securities staging models (ffill, rounding) a harness
    * input with genuine nulls. Mirrored 1:1 by [[phSql]].
    */
  def priceHistory(s: SparkSession, dir: String, fx: Boolean): DataFrame = {
    val ev = t(s, dir, "events")
    val sym =
      if (fx)
        when(col("event_type") === "click", "USDJPY")
          .when(col("event_type") === "view", "EURUSD")
          .when(col("event_type") === "purchase", "GBPUSD")
          .when(col("event_type") === "signup", "USDCHF")
          .otherwise("USDCAD")
      else col("event_type")
    ev.groupBy(to_date(col("ts")).as("date_stamp"), sym.as("symbol"))
      .agg(count(lit(1)).as("cnt"), min("value").as("mn"), max("value").as("mx"))
      .select(
        col("date_stamp"), col("symbol"),
        when(col("cnt") % 3 === 0, lit(null)).otherwise(col("mn") / 8).as("open"),
        (col("mx") / 8).as("high"),
        (col("mn") / 8).as("low"),
        when(col("cnt") % 4 === 0, lit(null)).otherwise(col("mx") / 8).as("close"),
        when(col("cnt") % 5 === 0, lit(null)).otherwise(col("cnt")).as("volume"))
  }

  private def phSql(fx: Boolean): String = {
    val sym =
      if (fx)
        "CASE event_type WHEN 'click' THEN 'USDJPY' WHEN 'view' THEN 'EURUSD' " +
          "WHEN 'purchase' THEN 'GBPUSD' WHEN 'signup' THEN 'USDCHF' " +
          "ELSE 'USDCAD' END"
      else "event_type"
    s"""base_ev AS (
       |  SELECT CAST(ts AS DATE) AS date_stamp, $sym AS symbol,
       |         count(*) AS cnt, min(value) AS mn, max(value) AS mx
       |  FROM events GROUP BY 1, 2),
       |ph AS (
       |  SELECT date_stamp, symbol,
       |    CASE WHEN cnt % 3 = 0 THEN NULL ELSE mn / 8 END AS open,
       |    mx / 8 AS high,
       |    mn / 8 AS low,
       |    CASE WHEN cnt % 4 = 0 THEN NULL ELSE mx / 8 END AS close,
       |    CASE WHEN cnt % 5 = 0 THEN NULL ELSE cnt END AS volume
       |  FROM ph_src)""".stripMargin.replace("ph_src", "base_ev")
  }

  private val ffillFrame =
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"

  private def ffillSelectSql: String =
    s"""SELECT date_stamp, symbol,
       |  CASE WHEN open IS NULL THEN last_value(close) OVER w ELSE open END AS open,
       |  CASE WHEN high IS NULL THEN last_value(close) OVER w ELSE high END AS high,
       |  CASE WHEN low IS NULL THEN last_value(close) OVER w ELSE low END AS low,
       |  CASE WHEN close IS NULL THEN last_value(close) OVER w ELSE close END AS close,
       |  CASE WHEN volume IS NULL THEN 0 ELSE volume END AS volume""".stripMargin

  /** Deterministic [[graft.pipeline.RawSource]] over the events-derived
    * price history — the fixture standing in for the reference's network
    * sources (py_pipeline/extract.py:45-64,125-137) so the FULL flow is
    * oracle-checkable: the wide frames it serves round-trip through the
    * price transform back to exactly [[priceHistory]], which [[phSql]]
    * mirrors. FX tickers are served in their raw Yahoo "=X" forms so the
    * transform's strip/remap path is exercised.
    */
  private final class PhFixtureSource(dir: String)
      extends graft.pipeline.RawSource {
    private val fxRaw = Map(
      "EURUSD" -> "EURUSD=X", "GBPUSD" -> "GBPUSD=X",
      "USDJPY" -> "JPY=X", "USDCHF" -> "CHF=X", "USDCAD" -> "CAD=X")

    override def fetchSymbols(s: SparkSession, cat: String): DataFrame = {
      import s.implicits._
      if (cat == "sp_stocks") {
        val types = t(s, dir, "events").select("event_type").distinct()
          .orderBy("event_type").collect().map(_.getString(0)).toSeq
        types.map(et => (et, et + " Inc", Option.empty[String],
            Option.empty[String], Option.empty[Boolean], Option(true),
            Option.empty[Boolean]))
          .toDF("Symbol", "Security", "GICS Sector", "GICS Sub-Industry",
            "in_sp400", "in_sp500", "in_sp600")
      } else fxRaw.values.toSeq.sorted.toDF("Symbol")
    }

    override def fetchPrices(s: SparkSession, symbols: Seq[String],
        start: java.time.LocalDate, end: java.time.LocalDate)
        : (DataFrame, Seq[String]) = {
      val fx = symbols.exists(_.endsWith("=X"))
      val raw = if (fx) fxRaw else symbols.map(x => x -> x).toMap
      val syms = raw.keys.toSeq.sorted
      val ph = priceHistory(s, dir, fx)
        .where(col("date_stamp").between(
          java.sql.Date.valueOf(start), java.sql.Date.valueOf(end)))
      // one row per (date, symbol) → yfinance-shaped wide Field_RawTicker
      val wide = ph.groupBy("date_stamp").pivot("symbol", syms)
        .agg(first("open").as("Open"), first("high").as("High"),
          first("low").as("Low"), first("close").as("Close"),
          first("volume").as("Volume"))
      // pivot columns are "<sym>_<Field>"; strip the EXACT known-symbol
      // prefix (longest match first, so a symbol containing '_' — e.g. a
      // future "page_view" event type — still renames correctly) instead
      // of splitting at the first underscore
      val bySymLen = syms.sortBy(-_.length)
      val fields = Seq("Open", "High", "Low", "Close", "Volume")
      val renamed = wide.columns.foldLeft(wide) { (df, c) =>
        bySymLen.find(sym => c.startsWith(sym + "_")) match {
          case Some(sym) =>
            df.withColumnRenamed(c, s"${c.substring(sym.length + 1)}_${raw(sym)}")
          case None => df
        }
      }
      val expected = for { sym <- syms; f <- fields } yield s"${f}_${raw(sym)}"
      val missing = expected.filterNot(renamed.columns.contains)
      require(missing.isEmpty,
        s"PhFixtureSource: pivot rename missed columns $missing")
      (renamed
        .withColumn("Date", col("date_stamp").cast(TimestampType))
        .drop("date_stamp"), Seq.empty)
    }
  }

  val specs: Seq[QuerySpec] = Seq(

    // S5/S6/P14: column-pruned, date-filtered scan
    QuerySpec("q01_pruned_scan",
      (s, dir) =>
        t(s, dir, "lineitem")
          .where(to_date(col("l_shipdate"))
            .between(lit("1996-03-01").cast(DateType), lit("1996-06-30").cast(DateType)))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            to_date(col("l_shipdate")).as("ship_date"))
          .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE)
        |  BETWEEN DATE '1996-03-01' AND DATE '1996-06-30'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P1/P2/P3: projection + rename
    QuerySpec("q02_project_rename",
      (s, dir) =>
        t(s, dir, "customer")
          .withColumnsRenamed(Map(
            "c_custkey" -> "custkey", "c_name" -> "name",
            "c_mktsegment" -> "segment"))
          .select("custkey", "name", "segment")
          .orderBy("custkey"),
      """SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
        |FROM customer ORDER BY custkey""".stripMargin),

    // P4: literal translate; string normalization
    QuerySpec("q03_string_clean",
      (s, dir) =>
        t(s, dir, "part")
          .select(col("p_partkey"),
            translate(col("p_name"), " ", "-").as("name_slug"),
            regexp_replace(col("p_brand"), "#", "").as("brand_clean"),
            lower(col("p_type")).as("type_lower"))
          .orderBy("p_partkey"),
      """SELECT p_partkey, translate(p_name, ' ', '-') AS name_slug,
        |  replace(p_brand, '#', '') AS brand_clean,
        |  lower(p_type) AS type_lower
        |FROM part ORDER BY p_partkey""".stripMargin),

    // P5: whole-value remap (when/otherwise chain, NOT substring replace)
    QuerySpec("q04_value_remap",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderstatus") === "O", "OPEN")
              .when(col("o_orderstatus") === "F", "FINISHED")
              .when(col("o_orderstatus") === "P", "PARTIAL")
              .otherwise(col("o_orderstatus")).as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status"),
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FINISHED'
        |  WHEN 'P' THEN 'PARTIAL' ELSE o_orderstatus END AS status,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin),

    // P6/P7/P8/P10: null fill + casts
    QuerySpec("q05_null_fill_cast",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            to_date(col("ts")).as("event_date"),
            col("user_id").cast(IntegerType).as("user_id_int"),
            coalesce(
              when(col("event_type") === "error", lit(null)).otherwise(col("value")),
              lit(0.0)).as("value_filled"))
          .orderBy("event_id"),
      """SELECT event_id, CAST(ts AS DATE) AS event_date,
        |  CAST(user_id AS INTEGER) AS user_id_int,
        |  coalesce(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0.0)
        |    AS value_filled
        |FROM events ORDER BY event_id""".stripMargin),

    // P11/P12: conditional decimal rounding
    QuerySpec("q06_round_conditional",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            when(col("l_returnflag") === "A",
              round((col("l_extendedprice") / 8).cast(DecimalType(38, 9)), 1))
              .otherwise(
                round((col("l_extendedprice") / 8).cast(DecimalType(38, 9)), 3))
              .cast(DoubleType).as("price_rounded"))
          .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'A'
        |    THEN round(CAST(l_extendedprice / 8 AS DECIMAL(38,9)), 1)::DOUBLE
        |    ELSE round(CAST(l_extendedprice / 8 AS DECIMAL(38,9)), 3)::DOUBLE
        |  END AS price_rounded
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // R1: wide→long unpivot via stack()
    QuerySpec("q07_unpivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("stack(4, 'quantity', l_quantity, 'extendedprice', " +
              "l_extendedprice, 'discount', l_discount, 'tax', l_tax) " +
              "as (measure, val)"))
          .orderBy("l_orderkey", "l_linenumber", "measure"),
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
        |    l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
        |    l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |    FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),

    // R2/J1: unionByName with missing columns
    QuerySpec("q08_union_by_name",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val a = c.where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            lit(true).as("is_building"))
        val b = c.where(col("c_mktsegment") =!= "BUILDING")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        a.unionByName(b, allowMissingColumns = true).orderBy("c_custkey")
      },
      """SELECT c_custkey, c_mktsegment AS segment, true AS is_building
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, NULL
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY c_custkey""".stripMargin),

    // long→wide pivot (inverse of the R1 unpivot), explicit value list
    QuerySpec("q60_pivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType))
          .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END)::DOUBLE AS qty_f,
        |  sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END)::DOUBLE AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // calendar spine: per-day event counts INCLUDING zero-event days.
    // Aggregate the fact FIRST, then left-join the tiny daily aggregate to
    // the sequence-generated spine — the raw events never pass through the
    // join, so the join inputs are O(days) regardless of fact size
    QuerySpec("q61_date_spine",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .select(to_date(col("ts")).as("d"))
          .groupBy("d").agg(count(lit(1)).as("cnt"))
        val bounds = daily.agg(min("d").as("lo"), max("d").as("hi"))
        val spine = bounds.select(
          explode(sequence(col("lo"), col("hi"))).as("d"))
        spine.join(daily, Seq("d"), "left")
          .select(col("d"), coalesce(col("cnt"), lit(0L)).as("n_events"))
          .orderBy("d")
      },
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,
        |  max(CAST(ts AS DATE)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi,
        |  INTERVAL 1 DAY))::DATE AS d FROM b),
        |ev AS (SELECT CAST(ts AS DATE) AS d, event_id FROM events)
        |SELECT spine.d AS d, CAST(count(ev.event_id) AS BIGINT) AS n_events
        |FROM spine LEFT JOIN ev ON spine.d = ev.d
        |GROUP BY spine.d ORDER BY d""".stripMargin),

    // A1/A2: distinct
    QuerySpec("q09_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus").distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // A3: per-column null/non-null counts (one aggregate pass)
    QuerySpec("q10_null_counts",
      (s, dir) =>
        t(s, dir, "documents")
          .agg(count(lit(1)).as("n_rows"),
            count(col("text")).as("n_text"),
            count(col("lang")).as("n_lang"),
            count(col("source")).as("n_source")),
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(text) AS BIGINT) AS n_text,
        |  CAST(count(lang) AS BIGINT) AS n_lang,
        |  CAST(count(source) AS BIGINT) AS n_source
        |FROM documents""".stripMargin),

    // A4/Q2: uniqueness violation check
    QuerySpec("q11_unique_check",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
          .where(col("n_orders") > 1)
          .orderBy("o_custkey"),
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING count(*) > 1
        |ORDER BY o_custkey""".stripMargin),

    // W1/J2/A5: PK merge (upsert) — anti-join + union form
    QuerySpec("q12_upsert_merge",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val target = o.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus").as("status"),
            col("o_totalprice").as("totalprice"))
        val updates = o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("U").as("status"),
            (col("o_totalprice") / 2).as("totalprice"))
        UpsertWriter.mergePlan(target, updates, Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS totalprice
        |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'U', o_totalprice / 2
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY o_orderkey""".stripMargin),

    // F1: the exact ffill_candles window semantics (no ignore-nulls!)
    QuerySpec("q13_ffill_candles",
      (s, dir) =>
        Models.ffillCandles(priceHistory(s, dir, fx = false), "symbol")
          .orderBy("symbol", "date_stamp"),
      s"""WITH ${phSql(fx = false)}
         |$ffillSelectSql
         |FROM ph
         |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame)
         |ORDER BY symbol, date_stamp""".stripMargin),

    // incremental ffill: seed-row windowing for dates >= cutoff; oracle
    // computes the FULL window then filters — results must be identical
    QuerySpec("q58_ffill_incremental",
      (s, dir) =>
        Models.ffillCandlesIncremental(priceHistory(s, dir, fx = false),
            "symbol", java.sql.Date.valueOf("2024-01-15"))
          .orderBy("symbol", "date_stamp"),
      s"""WITH ${phSql(fx = false)},
         |filled AS (
         |$ffillSelectSql
         |FROM ph
         |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame))
         |SELECT * FROM filled WHERE date_stamp >= DATE '2024-01-15'
         |ORDER BY symbol, date_stamp""".stripMargin),

    // full stg_stock_prices model: decimal cast + round(2) + ffill
    QuerySpec("q14_stg_stock_prices",
      (s, dir) =>
        Models.stgStockPrices(priceHistory(s, dir, fx = false))
          .orderBy("symbol", "date_stamp"),
      s"""WITH ${phSql(fx = false)},
         |rounded AS (
         |  SELECT date_stamp, symbol,
         |    round(CAST(open AS DECIMAL(38,9)), 2)::DOUBLE AS open,
         |    round(CAST(high AS DECIMAL(38,9)), 2)::DOUBLE AS high,
         |    round(CAST(low AS DECIMAL(38,9)), 2)::DOUBLE AS low,
         |    round(CAST(close AS DECIMAL(38,9)), 2)::DOUBLE AS close,
         |    CAST(volume AS BIGINT) AS volume
         |  FROM ph)
         |$ffillSelectSql
         |FROM rounded
         |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame)
         |ORDER BY symbol, date_stamp""".stripMargin),

    // full stg_fx_prices model: conditional precision (USDJPY 3dp / else 5dp)
    QuerySpec("q15_stg_fx_prices",
      (s, dir) =>
        Models.stgFxPrices(priceHistory(s, dir, fx = true))
          .orderBy("symbol", "date_stamp"),
      s"""WITH ${phSql(fx = true)},
         |rounded AS (
         |  SELECT date_stamp, symbol,
         |    CASE WHEN symbol = 'USDJPY'
         |      THEN round(CAST(open AS DECIMAL(38,9)), 3)::DOUBLE
         |      ELSE round(CAST(open AS DECIMAL(38,9)), 5)::DOUBLE END AS open,
         |    CASE WHEN symbol = 'USDJPY'
         |      THEN round(CAST(high AS DECIMAL(38,9)), 3)::DOUBLE
         |      ELSE round(CAST(high AS DECIMAL(38,9)), 5)::DOUBLE END AS high,
         |    CASE WHEN symbol = 'USDJPY'
         |      THEN round(CAST(low AS DECIMAL(38,9)), 3)::DOUBLE
         |      ELSE round(CAST(low AS DECIMAL(38,9)), 5)::DOUBLE END AS low,
         |    CASE WHEN symbol = 'USDJPY'
         |      THEN round(CAST(close AS DECIMAL(38,9)), 3)::DOUBLE
         |      ELSE round(CAST(close AS DECIMAL(38,9)), 5)::DOUBLE END AS close,
         |    CAST(volume AS BIGINT) AS volume
         |  FROM ph)
         |$ffillSelectSql
         |FROM rounded
         |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame)
         |ORDER BY symbol, date_stamp""".stripMargin),

    // J1/P9: dim_symbols UNION ALL with typed null/literal attributes
    QuerySpec("q16_dim_symbols_union",
      (s, dir) => {
        val fxSyms = Models.stgFxSymbols(
          t(s, dir, "events").select(col("event_type").as("symbol")))
        val stock = Models.stgStockSymbols(
          t(s, dir, "nation").select(
            col("n_name").as("symbol"),
            lower(col("n_name")).as("name"),
            concat(lit("R"), col("n_regionkey").cast(StringType)).as("sector"),
            lit("Missing").as("industry"),
            (col("n_regionkey") === 0).as("in_sp400"),
            (col("n_regionkey") === 1).as("in_sp500"),
            (col("n_regionkey") === 2).as("in_sp600"),
            lit("2024-01-01").cast(DateType).as("date_stamp")))
        Models.dimSymbols(fxSyms, stock).orderBy("symbol")
      },
      """SELECT symbol, name, sector, industry, asset_type,
        |  in_sp400, in_sp500, in_sp600, date_stamp
        |FROM (
        |  SELECT symbol, NULL AS name, NULL AS sector, NULL AS industry,
        |    'FX' AS asset_type, false AS in_sp400, false AS in_sp500,
        |    false AS in_sp600, CAST(NULL AS DATE) AS date_stamp
        |  FROM (SELECT DISTINCT event_type AS symbol FROM events)
        |  UNION ALL
        |  SELECT n_name, lower(n_name), 'R' || CAST(n_regionkey AS VARCHAR),
        |    'Missing', 'Stock', n_regionkey = 0, n_regionkey = 1,
        |    n_regionkey = 2, DATE '2024-01-01'
        |  FROM nation
        |) ORDER BY symbol""".stripMargin),

    // J3/Q4: referential-integrity anti-join (orphan keys)
    QuerySpec("q17_referential_orphans",
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct(),
            Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // hash aggregate with decimal-exact sums (TPC-H Q1 shape)
    QuerySpec("q18_groupby_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_base"),
            (sum(col("l_discount").cast(DecimalType(18, 2))).cast(DoubleType)
              / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base,
        |  sum(CAST(l_discount AS DECIMAL(18,2)))::DOUBLE / count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // multi-way join: broadcast dims, shuffle-free fact aggregation shape
    QuerySpec("q19_join_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = broadcast(t(s, dir, "customer"))
        val n = broadcast(t(s, dir, "nation"))
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
          .orderBy("n_name")
      },
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // sort + limit (top-k) with deterministic tie-break
    QuerySpec("q20_topk",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("o_custkey").asc)
          .limit(10),
      """SELECT o_custkey,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin),

    // window functions: row_number / lag / frame-bounded running agg
    QuerySpec("q21_window_funcs",
      (s, dir) => {
        val seqW = Window.partitionBy("user_id").orderBy("event_id")
        val frame = seqW.rowsBetween(-2, Window.currentRow)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("value").desc, col("event_id").asc)).as("value_rank"),
            lag(col("value"), 1).over(seqW).as("prev_value"),
            (sum(col("value").cast(DecimalType(18, 2))).over(frame)
              .cast(DoubleType) / count(lit(1)).over(frame)).as("mov_avg3"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS INTEGER) AS value_rank,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS prev_value,
        |  sum(CAST(value AS DECIMAL(18,2))) OVER w3::DOUBLE
        |    / count(*) OVER w3 AS mov_avg3
        |FROM events
        |WINDOW w3 AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // gap sessionization (lag + running conditional sum)
    QuerySpec("q22_sessionize",
      (s, dir) =>
        Temporal.sessionize(t(s, dir, "events"), Seq("user_id"), "ts", 1800L)
          .groupBy("user_id")
          .agg((max("session_id") + 1).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id"),
      """WITH o AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY ts)) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin),

    // native session_window aggregation (gap-merged sessions per key)
    QuerySpec("q59_session_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(session_window(col("ts"), "1800 seconds"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_timestamp(col("session_window.start")).as("sess_start"),
            col("user_id"), col("n_events"))
          .orderBy("user_id", "sess_start"),
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT (epoch_us(min(ts)) // 1000000) AS sess_start, user_id,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin),

    // as-of join via union + last(ignoreNulls) window (one shuffle, no range join)
    QuerySpec("q23_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        Temporal.asOfJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
            Seq("click_id"))
          .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS side, event_id AS l_id,
        |    CAST(NULL AS BIGINT) AS r_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT user_id, side, l_id,
        |    last_value(r_id IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, side, r_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM u)
        |SELECT l_id AS purchase_id, user_id, click_id
        |FROM w WHERE side = 1 ORDER BY purchase_id""".stripMargin),

    // Q1–Q4: declarative data-quality suite (dbt-test parity)
    QuerySpec("q24_dq_suite",
      (s, dir) => {
        val nation = t(s, dir, "nation")
        val region = t(s, dir, "region")
        val events = t(s, dir, "events")
        def labeled(name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("violations"))
            .select(lit(name).as("check_name"), col("violations"))
        labeled("accepted_values_event_type",
            events.where(!col("event_type").isin(
              "click", "view", "purchase", "signup", "error")
              || col("event_type").isNull))
          .unionByName(labeled("not_null_n_name", nation.where(col("n_name").isNull)))
          .unionByName(labeled("relationships_nation_region",
            nation.join(broadcast(region.select(col("r_regionkey").as("n_regionkey"))),
              Seq("n_regionkey"), "left_anti")))
          .unionByName(labeled("unique_n_nationkey",
            nation.groupBy("n_nationkey").agg(count(lit(1)).as("c"))
              .where(col("c") > 1)))
          .orderBy("check_name")
      },
      """SELECT 'accepted_values_event_type' AS check_name,
        |  CAST(count(*) AS BIGINT) AS violations
        |FROM events WHERE event_type NOT IN
        |  ('click','view','purchase','signup','error') OR event_type IS NULL
        |UNION ALL
        |SELECT 'not_null_n_name', CAST(count(*) AS BIGINT)
        |FROM nation WHERE n_name IS NULL
        |UNION ALL
        |SELECT 'relationships_nation_region', CAST(count(*) AS BIGINT)
        |FROM nation WHERE NOT EXISTS
        |  (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
        |UNION ALL
        |SELECT 'unique_n_nationkey', CAST(count(*) AS BIGINT) FROM
        |  (SELECT n_nationkey FROM nation GROUP BY 1 HAVING count(*) > 1)
        |ORDER BY check_name""".stripMargin),

    // Q5: declared-schema validation with coercion (pandera parity)
    QuerySpec("q25_schema_validate",
      (s, dir) => {
        val expected = StructType(Seq(
          StructField("l_orderkey", LongType, nullable = false),
          StructField("l_linenumber", LongType, nullable = false), // int → long coerce
          StructField("l_quantity", DoubleType, nullable = true),
          StructField("l_returnflag", StringType, nullable = false)))
        Validator.validateOrThrow(
            t(s, dir, "lineitem")
              .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
            expected)
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // R1/P16/P5/S8: the FULL wide→long price transform pipeline — validate
    // (regex columns), drop all-null ticker columns, stack() unpivot keeping
    // all-null rows, FX suffix strip + whole-value remap
    QuerySpec("q26_price_transform",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val wide = ev.groupBy(to_date(col("ts")).cast(TimestampType).as("Date"))
          .agg(
            min(when(col("event_type") === "click", col("value"))).as("Open_AAA"),
            max(when(col("event_type") === "click", col("value"))).as("High_AAA"),
            min(when(col("event_type") === "view", col("value"))).as("Low_AAA"),
            max(when(col("event_type") === "view", col("value"))).as("Close_AAA"),
            count(when(col("event_type") === "click", lit(1))).as("Volume_AAA"),
            min(when(col("event_type") === "purchase", col("value"))).as("Open_CHF=X"),
            max(when(col("event_type") === "purchase", col("value"))).as("High_CHF=X"),
            min(when(col("event_type") === "signup", col("value"))).as("Low_CHF=X"),
            max(when(col("event_type") === "signup", col("value"))).as("Close_CHF=X"),
            count(when(col("event_type") === "purchase", lit(1))).as("Volume_CHF=X"),
            max(lit(null).cast(DoubleType)).as("Open_DEAD"),
            max(lit(null).cast(DoubleType)).as("High_DEAD"),
            max(lit(null).cast(DoubleType)).as("Low_DEAD"),
            max(lit(null).cast(DoubleType)).as("Close_DEAD"),
            max(lit(null).cast(LongType)).as("Volume_DEAD"))
        graft.transform.PriceTransforms.transformPrices(wide, "fx")._1
          .orderBy("symbol", "date_stamp")
      },
      """WITH wide AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    min(CASE WHEN event_type='click' THEN value END) AS o_a,
        |    max(CASE WHEN event_type='click' THEN value END) AS h_a,
        |    min(CASE WHEN event_type='view' THEN value END) AS l_a,
        |    max(CASE WHEN event_type='view' THEN value END) AS c_a,
        |    count(CASE WHEN event_type='click' THEN 1 END) AS v_a,
        |    min(CASE WHEN event_type='purchase' THEN value END) AS o_c,
        |    max(CASE WHEN event_type='purchase' THEN value END) AS h_c,
        |    min(CASE WHEN event_type='signup' THEN value END) AS l_c,
        |    max(CASE WHEN event_type='signup' THEN value END) AS c_c,
        |    count(CASE WHEN event_type='purchase' THEN 1 END) AS v_c
        |  FROM events GROUP BY 1)
        |SELECT d AS date_stamp, symbol, open, high, low, close, volume FROM (
        |  SELECT d, 'AAA' AS symbol, o_a AS open, h_a AS high, l_a AS low,
        |    c_a AS close, v_a AS volume FROM wide
        |  UNION ALL
        |  SELECT d, 'USDCHF', o_c, h_c, l_c, c_c, v_c FROM wide)
        |ORDER BY symbol, date_stamp""".stripMargin),

    // P1–P8: the stock-symbol transform — validate, rename map, literal
    // '.'→'-' fix, null fills, bool casts, date stamp, 8-col projection
    QuerySpec("q27_symbol_transform",
      (s, dir) => {
        val raw = t(s, dir, "nation").select(
          concat(col("n_name"), lit(".X")).as("Symbol"),
          lower(col("n_name")).as("Security"),
          when(col("n_regionkey") === 0, lit(null).cast(StringType))
            .otherwise(concat(lit("S"), col("n_regionkey").cast(StringType)))
            .as("GICS Sector"),
          lit(null).cast(StringType).as("GICS Sub-Industry"),
          (col("n_regionkey") === 0).as("in_sp400"),
          lit(null).cast(BooleanType).as("in_sp500"),
          (col("n_regionkey") === 2).as("in_sp600"))
        graft.transform.SymbolTransforms
          .transformStockSymbols(raw, java.sql.Date.valueOf("2024-06-01"))
          .orderBy("symbol")
      },
      """SELECT translate(n_name || '.X', '.', '-') AS symbol,
        |  lower(n_name) AS name,
        |  coalesce(CASE WHEN n_regionkey = 0 THEN NULL
        |    ELSE 'S' || CAST(n_regionkey AS VARCHAR) END, 'Missing') AS sector,
        |  'Missing' AS industry,
        |  n_regionkey = 0 AS in_sp400,
        |  false AS in_sp500,
        |  n_regionkey = 2 AS in_sp600,
        |  DATE '2024-06-01' AS date_stamp
        |FROM nation ORDER BY symbol""".stripMargin),

    // P17: deterministic hash-based sampling (portable md5 — the
    // distributed-safe replacement for pandas .sample(n))
    QuerySpec("q28_hash_sample",
      (s, dir) =>
        t(s, dir, "customer")
          .where(TextFunctions.portableHash(col("c_name")) % 20 === 0)
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey"),
      s"""SELECT c_custkey, c_name, c_mktsegment FROM customer
         |WHERE ${pHashSql("c_name")} % 20 = 0
         |ORDER BY c_custkey""".stripMargin),

    // W2: replace (full-overwrite) write semantics — second replace wins
    QuerySpec("q29_replace_write",
      (s, dir) => {
        val out = scratch("graft_replace_") + "/tbl"
        UpsertWriter.replace(
          t(s, dir, "nation").select(col("n_nationkey").as("key"),
            col("n_name").as("name")), out)
        UpsertWriter.replace(
          t(s, dir, "region").select(col("r_regionkey").as("key"),
            col("r_name").as("name")), out)
        s.read.parquet(out).orderBy("key")
      },
      """SELECT r_regionkey AS key, r_name AS name FROM region
        |ORDER BY key""".stripMargin),

    // O1-O5 end-to-end: the FULL orchestration path — etlFlow (symbols
    // ETL, chunked price ETL with PK merge, lake→warehouse promotion) for
    // both asset categories over the deterministic fixture source, then
    // the dbt stage (runModels) and the declared DQ suite. Output =
    // fct_prices + the suite's total violation count; a green row proves
    // the composed path, not just its pieces (the reference's CI runs the
    // whole flow, .github/workflows/ci_cd.yml:55-61)
    QuerySpec("q82_flow_e2e",
      (s, dir) => {
        val root = scratch("graft_q82_")
        val (lake, dw) = (s"$root/lake", s"$root/dw")
        val src = new PhFixtureSource(dir)
        val start = java.time.LocalDate.parse("2024-01-01")
        val end = java.time.LocalDate.parse("2024-02-01")
        // the flow's tables are O(symbols×days) rows — run its many small
        // stages at few shuffle partitions (a real deployment sizes
        // partitions to data; 32 empty tasks per tiny stage is pure
        // scheduler overhead), restored after
        val violations = withShufflePartitions(s, 4) {
          // the two asset flows touch disjoint lake/warehouse paths — run
          // them CONCURRENTLY (what a real orchestrator does with
          // independent DAG branches); Spark schedules both flows' small
          // jobs into the idle cores the serial version wasted
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.global
          val flows = Seq("sp_stocks", "fx").map(cat => Future {
            graft.pipeline.Flow.etlFlow(s, src, lake, dw, cat,
              Some(start), Some(end), today = end)
          })
          flows.foreach(Await.result(_, Duration.Inf))
          graft.pipeline.Flow.runModels(s, dw)
          graft.pipeline.Flow.runDataTests(s, dw).map(_.violations).sum
        }
        s.read.parquet(s"$dw/fct_prices")
          .withColumn("dq_violations", lit(violations))
          .orderBy("symbol", "date_stamp")
      },
      {
        val fxPh = phSql(fx = true)
          .replace("base_ev", "bevf").replace("ph AS", "phf AS")
        val stPh = phSql(fx = false)
          .replace("base_ev", "bevs").replace("ph AS", "phs AS")
        def fxRound(c: String) =
          s"CASE WHEN symbol = 'USDJPY' " +
            s"THEN round(CAST($c AS DECIMAL(38,9)), 3)::DOUBLE " +
            s"ELSE round(CAST($c AS DECIMAL(38,9)), 5)::DOUBLE END AS $c"
        def stRound(c: String) =
          s"round(CAST($c AS DECIMAL(38,9)), 2)::DOUBLE AS $c"
        s"""WITH $fxPh,
           |$stPh,
           |fxr AS (SELECT date_stamp, symbol,
           |  ${fxRound("open")}, ${fxRound("high")},
           |  ${fxRound("low")}, ${fxRound("close")},
           |  CAST(volume AS BIGINT) AS volume FROM phf),
           |str AS (SELECT date_stamp, symbol,
           |  ${stRound("open")}, ${stRound("high")},
           |  ${stRound("low")}, ${stRound("close")},
           |  CAST(volume AS BIGINT) AS volume FROM phs),
           |fxs AS (
           |$ffillSelectSql
           |FROM fxr
           |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame)),
           |sts AS (
           |$ffillSelectSql
           |FROM str
           |WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp $ffillFrame))
           |SELECT date_stamp, symbol, open, high, low, close, volume,
           |  CAST(0 AS BIGINT) AS dq_violations
           |FROM (SELECT * FROM fxs UNION ALL SELECT * FROM sts)
           |ORDER BY symbol, date_stamp""".stripMargin
      }),
  )
}
