package graft.model

import org.apache.spark.sql.types._

/** Declared schemas for the securities pipeline, mirroring the reference's
  * pandera declarations (reference: py_pipeline/validate.py:9-85).
  *
  * Spark mapping notes (SURVEY.md §1.3/§1.4):
  *  - pandas `Int64` (nullable int) → LongType nullable (Spark is
  *    nullable-native).
  *  - the 2-level (Price, Ticker) column MultiIndex is flattened to
  *    `Price_Ticker` column names; the "regex column" pandera feature
  *    (validate.py:54-58) becomes a [[ColumnPattern]] on the flattened names.
  */
object Schemas {

  /** Raw S&P stock symbols (py_pipeline/validate.py:9-20). */
  val rawStockSymbols: StructType = StructType(Seq(
    StructField("Symbol", StringType, nullable = false),
    StructField("Security", StringType, nullable = false),
    StructField("GICS Sector", StringType, nullable = true),
    StructField("GICS Sub-Industry", StringType, nullable = true),
    StructField("in_sp400", BooleanType, nullable = true),
    StructField("in_sp500", BooleanType, nullable = true),
    StructField("in_sp600", BooleanType, nullable = true),
  ))

  /** Raw FX symbols (py_pipeline/validate.py:22-24). */
  val rawFxSymbols: StructType = StructType(Seq(
    StructField("Symbol", StringType, nullable = false),
  ))

  /** Transformed stock symbols (py_pipeline/validate.py:29-41). */
  val transformedStockSymbols: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("sector", StringType, nullable = false),
    StructField("industry", StringType, nullable = false),
    StructField("in_sp400", BooleanType, nullable = false),
    StructField("in_sp500", BooleanType, nullable = false),
    StructField("in_sp600", BooleanType, nullable = false),
    StructField("date_stamp", DateType, nullable = false),
  ))

  /** Transformed FX symbols (py_pipeline/validate.py:43-46). */
  val transformedFxSymbols: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
  ))

  /** Transformed (long-format) prices (py_pipeline/validate.py:74-85). */
  val transformedPrices: StructType = StructType(Seq(
    StructField("date_stamp", DateType, nullable = false),
    StructField("symbol", StringType, nullable = false),
    StructField("open", DoubleType, nullable = true),
    StructField("high", DoubleType, nullable = true),
    StructField("low", DoubleType, nullable = true),
    StructField("close", DoubleType, nullable = true),
    StructField("volume", LongType, nullable = true),
  ))

  /** A pandera-style regex column pattern over flattened wide-price column
    * names: e.g. `Open_.+` of DoubleType (validate.py:54-58). Every
    * pattern is nullable and coerced, as in the reference.
    */
  final case class ColumnPattern(regex: String, dataType: DataType)

  /** Raw wide prices (py_pipeline/validate.py:51-72): columns are
    * (Price ∈ {Open,High,Low,Close,Volume}) × Ticker, flattened to
    * `Price_Ticker`, plus the DatetimeIndex flattened to a `Date` column.
    */
  val rawPricePatterns: Seq[ColumnPattern] = Seq(
    ColumnPattern("Open_.+", DoubleType),
    ColumnPattern("High_.+", DoubleType),
    ColumnPattern("Low_.+", DoubleType),
    ColumnPattern("Close_.+", DoubleType),
    ColumnPattern("Volume_.+", LongType),
  )

  /** The raw wide-price frame's index column (the DatetimeIndex check at
    * validate.py:66-70).
    */
  val rawPriceIndex: StructField = StructField("Date", TimestampType, nullable = false)

  /** Table catalog — the 4 raw lake tables and 2 core warehouse models
    * (SURVEY.md §1.1; naming per py_pipeline/load.py:97, extract.py:115).
    */
  val lakeTables: Seq[String] = Seq(
    "symbols_fx", "symbols_sp_stocks",
    "price_history_fx", "price_history_sp_stocks",
  )
  val coreModels: Seq[String] = Seq("dim_symbols", "fct_prices")
}
