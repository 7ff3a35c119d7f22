package graft.transform

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.validate.Validator

/** The reference's transform layer as pure `DataFrame => DataFrame`
  * functions (reference: py_pipeline/transform.py). All narrow, shuffle-free
  * projections — Catalyst fuses the whole chain into one codegen stage, so
  * these cost one pass over the data regardless of how many steps compose.
  */
object SymbolTransforms {

  /** transform_stocks_symbol_df (py_pipeline/transform.py:29-63):
    * validate → lowercase names → rename map → literal '.'→'-' symbol fix
    * (BRK.B→BRK-B) → null fills → bool cast → date stamp → 8-col projection.
    */
  def transformStockSymbols(df: DataFrame, dateStamp: Date): DataFrame = {
    val validated = Validator.validateOrThrow(df, Schemas.rawStockSymbols)
    validated
      .toDF(validated.columns.map(_.toLowerCase).toSeq: _*)
      .withColumnsRenamed(Map(
        "security" -> "name",
        "gics sector" -> "sector",
        "gics sub-industry" -> "industry",
      ))
      // literal (non-regex) replace, matching pandas str.replace(".", "-")
      .withColumn("symbol", translate(col("symbol"), ".", "-"))
      .withColumn("sector", coalesce(col("sector"), lit("Missing")))
      .withColumn("industry", coalesce(col("industry"), lit("Missing")))
      .withColumn("in_sp400", coalesce(col("in_sp400"), lit(false)).cast(BooleanType))
      .withColumn("in_sp500", coalesce(col("in_sp500"), lit(false)).cast(BooleanType))
      .withColumn("in_sp600", coalesce(col("in_sp600"), lit(false)).cast(BooleanType))
      .withColumn("date_stamp", lit(dateStamp))
      .select("symbol", "name", "sector", "industry",
        "in_sp400", "in_sp500", "in_sp600", "date_stamp")
  }

  /** transform_fx_symbol_df (py_pipeline/transform.py:66-69). */
  def transformFxSymbols(df: DataFrame): DataFrame = {
    val validated = Validator.validateOrThrow(df, Schemas.rawFxSymbols)
    validated.toDF(validated.columns.map(_.toLowerCase).toSeq: _*)
  }
}

object PriceTransforms {

  private val fields = Seq("Open", "High", "Low", "Close", "Volume")

  /** FX symbol normalization (py_pipeline/transform.py:84-89): strip the
    * Yahoo "=X" suffix, then remap the three USD-base quotes that Yahoo
    * abbreviates. The pandas `Series.replace` is a WHOLE-VALUE map (not a
    * substring replace) — hence when/otherwise, not regexp_replace.
    */
  def normalizeFxSymbol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stripped = regexp_replace(c, "=X$", "")
    when(stripped === "CHF", "USDCHF")
      .when(stripped === "CAD", "USDCAD")
      .when(stripped === "JPY", "USDJPY")
      .otherwise(stripped)
  }

  /** transform_price_df (py_pipeline/transform.py:72-90).
    *
    * Input: the wide frame flattened to columns `Date, Field_Ticker...`
    * (SURVEY.md §1.1 — Spark has no column MultiIndex).
    * Steps: validate (regex patterns + index) → wide→long unpivot via a
    * generated SQL `stack()` → drop failed tickers and all-null fields →
    * lowercase/rename → timestamp→date → optional FX symbol
    * normalization. Returns the long frame and its row count.
    *
    * The unpivot keeps all-null rows (pandas `future_stack=True`,
    * transform.py:80) — absent days survive as null OHLCV and are
    * forward-filled later in staging.
    *
    * Scale: ONE job, the local checkpoint of every ticker's stacked rows.
    * Its [[Observation]] gives the row count (the empty-input guard,
    * transform.py:73-74; a frame the validator rejects probes emptiness
    * first), the tickers with a non-null field and each field's non-null
    * count: the all-null drop (P16) is a narrow filter and projection.
    */
  def transformPrices(df: DataFrame, assetCategory: String): (DataFrame, Long) = {
    val validated = Validator
      .validateWide(df, Schemas.rawPricePatterns, Schemas.rawPriceIndex) match {
        case Right(v) => v
        case Left(_) if df.isEmpty => return (df, 0L)
        case Left(vs) => throw Validator.SchemaValidationException(vs)
      }
    // every ticker all-null: transform.py stacks what is left to an empty
    // frame, and a stack() of no tickers is not valid SQL
    def noTickers = (df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[Row], Schemas.transformedPrices), 0L)
    val dataCols = validated.columns.filter(_ != "Date")
    if (dataCols.isEmpty) return if (df.isEmpty) (df, 0L) else noTickers

    // R1: wide→long. Tickers = union of suffixes across field columns;
    // fields = union of prefixes — extra fields beyond OHLCV (e.g.
    // "Adj Close") survive the stack exactly like pandas df.stack does
    // (pandera strict=False lets them through validation).
    val tickers = dataCols.map(_.split("_", 2)(1)).distinct.sorted
    val present = dataCols.map(_.split("_", 2)(0)).distinct
    val orderedFields = fields.filter(present.contains) ++
      present.filterNot(fields.contains).sorted
    val colSet = dataCols.toSet
    def cellExpr(field: String, t: String): String =
      if (colSet(s"${field}_$t"))
        s"cast(`${field}_$t` as ${if (field == "Volume") "bigint" else "double"})"
      else if (field == "Volume") "cast(null as bigint)"
      else "cast(null as double)"
    val outNames = orderedFields.map(f => s"`${f.toLowerCase}`")
    val outCols = outNames.map(col)
    val stackArgs = tickers.map { t =>
      (s"'$t'" +: orderedFields.map(f => cellExpr(f, t))).mkString(", ")
    }.mkString(", ")
    val obs = Observation()
    val stacked = validated.select(
      to_date(col("Date")).as("date_stamp"),
      expr(s"stack(${tickers.length}, $stackArgs) as " +
        s"(symbol, ${outNames.mkString(", ")})"))
      .observe(obs, count(lit(1)).as("n"), collect_set(
        when(outCols.map(_.isNotNull).reduce(_ || _), col("symbol"))).as("live") +:
        outCols.zipWithIndex.map { case (c, i) => count(c).as(s"f$i") }: _*)
      .localCheckpoint()
    val m = obs.get
    val live = m("live").asInstanceOf[Seq[String]]
    if (m("n") == 0L) return (df, 0L)
    if (live.isEmpty) return noTickers

    // the drop reads raw tickers, ahead of the FX remap (which may map a
    // failed ticker onto a live one's name)
    val longDf = (if (live.size == tickers.length) stacked
        else stacked.where(col("symbol").isin(live: _*)))
      .select(col("date_stamp") +: col("symbol") +: outCols.zipWithIndex.collect {
        case (c, i) if m(s"f$i") != 0L => c }: _*)
    // each ticker stacks one long row per wide row
    val rows = m("n").asInstanceOf[Long] / tickers.length * live.size
    (if (assetCategory != "fx") longDf
      else longDf.withColumn("symbol", normalizeFxSymbol(col("symbol"))), rows)
  }

  /** Per-group winsorization: clip `valueCol` to its group's exact
    * [lo, hi] quantiles — the standard outlier treatment before
    * statistics on heavy-tailed financial series (a fat-finger print
    * stops dominating a daily mean without dropping the row). Quantiles
    * are sort-based EXACT percentiles with linear interpolation — the
    * same definition as DuckDB's quantile_cont, parity pinned by q74 —
    * so the clip is engine-portable. Null values pass through null.
    *
    * Scale shape: the bounds frame is one row per group (symbol
    * cardinality — dim-sized) and broadcasts to the clip join, so the
    * data is scanned twice but never shuffled; drop the broadcast hint if
    * the group count is genuinely corpus-scale.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi,
      "quantile bounds must satisfy 0 <= lo <= hi <= 1")
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($valueCol, $lo)").as("__wlo"),
      expr(s"percentile($valueCol, $hi)").as("__whi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(valueCol,
        when(col(valueCol).isNull, lit(null))
          .otherwise(least(greatest(col(valueCol).cast("double"),
            col("__wlo")), col("__whi"))))
      .drop("__wlo", "__whi")
  }
}
