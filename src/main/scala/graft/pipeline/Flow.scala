package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Schemas
import graft.store.UpsertWriter
import graft.transform.{PriceTransforms, SymbolTransforms}
import graft.validate.Validator
import graft.warehouse.{DataTests, Models}

/** Pluggable raw-data sources. The reference pulls Wikipedia HTML and the
  * Yahoo Finance API (py_pipeline/extract.py:45-64,125-137); network is out
  * of scope here, so production sources would implement this trait and the
  * tests use fixture-file implementations. `fetchPrices` returns the wide
  * frame plus the per-symbol failure channel (yfinance shared._ERRORS,
  * extract.py:122,134-137).
  */
trait RawSource {
  def fetchSymbols(spark: SparkSession, assetCategory: String): DataFrame
  def fetchPrices(spark: SparkSession, symbols: Seq[String],
      start: LocalDate, end: LocalDate): (DataFrame, Seq[String])
}

/** Orchestration control plane (reference: py_pipeline/orchestration.py;
  * SURVEY.md §2.12, §3.1). One SparkSession, sequential steps; each step is
  * a lazy DataFrame graph — shuffle boundaries replace the reference's
  * process boundaries.
  */
object Flow {

  /** O1: date-window defaulting (orchestration.py:11-29):
    *  - neither given → (yesterday, today);
    *  - only end   → backfill from 2000-01-01;
    *  - only start → through today.
    */
  def resolveDates(start: Option[LocalDate], end: Option[LocalDate],
      today: LocalDate): (LocalDate, LocalDate) = (start, end) match {
    case (None, None) => (today.minusDays(1), today)
    case (None, Some(e)) => (LocalDate.parse("2000-01-01"), e)
    case (Some(s), None) => (s, today)
    case (Some(s), Some(e)) => (s, e)
  }

  /** O2: chunked fetch — ≤500 symbols per request batch
    * (orchestration.py:61,90-101).
    */
  def chunked[A](symbols: Seq[A], chunkSize: Int = 500): Iterator[Seq[A]] =
    symbols.grouped(chunkSize)

  final case class PartialFailure(failed: Seq[String])
      extends RuntimeException(s"failed symbols: ${failed.mkString(",")}")

  /** The full ETL flow (orchestration.py:155-209) against a lake root:
    * symbols ETL → distinct symbol universe → chunked price ETL with
    * per-chunk PK merge → promotion (O3: promote even on partial failure,
    * then raise).
    */
  def etlFlow(
      spark: SparkSession,
      source: RawSource,
      lakeRoot: String,
      warehouseRoot: String,
      assetCategory: String,
      start: Option[LocalDate] = None,
      end: Option[LocalDate] = None,
      today: LocalDate = LocalDate.now(),
      chunkSize: Int = 500,
  ): Unit = {
    val (s, e) = resolveDates(start, end, today)

    // symbols ETL (orchestration.py:166-172): stamp = end − 1 day
    val rawSymbols = source.fetchSymbols(spark, assetCategory)
    val symbolsPath = Extract.lakePath(lakeRoot, "symbols", assetCategory)
    if (assetCategory == "sp_stocks") {
      val t = SymbolTransforms.transformStockSymbols(
        rawSymbols, Date.valueOf(e.minusDays(1)))
      val gated = Validator.validateOrThrow(t, Schemas.transformedStockSymbols)
      UpsertWriter.upsert(spark, symbolsPath, gated, Seq("symbol", "date_stamp"))
    } else {
      val t = SymbolTransforms.transformFxSymbols(rawSymbols)
      val gated = Validator.validateOrThrow(t, Schemas.transformedFxSymbols)
      UpsertWriter.replace(gated, symbolsPath) // W2: FX symbols replace
    }

    // symbol universe: distinct-collect from the lake (extract.py:80-99)
    val universe =
      Extract.symbolUniverse(spark, lakeRoot, "symbols", assetCategory)

    // chunked price ETL with PK merge (orchestration.py:56-108)
    val pricesPath = Extract.lakePath(lakeRoot, "price_history", assetCategory)
    val failed = Seq.newBuilder[String]
    chunked(universe, chunkSize).foreach { chunk =>
      val (wide, errs) = source.fetchPrices(spark, chunk, s, e)
      failed ++= errs
      // two jobs before the merge: the unpivot and the gate each observe
      // their counts in the job that materializes their rows
      val (long, rows) = PriceTransforms.transformPrices(wide, assetCategory)
      if (rows > 0) {
        val gated = Validator.validateOrThrow(long, Schemas.transformedPrices)
        UpsertWriter.upsert(spark, pricesPath, gated, Seq("date_stamp", "symbol"))
      }
    }

    // O3: promote lake→warehouse even on partial failure, THEN raise.
    // A promotion error must not be masked by the partial-failure signal —
    // it propagates with the symbol failures attached as suppressed.
    val allFailed = failed.result()
    try {
      promote(spark, lakeRoot, "symbols", assetCategory,
        s"$warehouseRoot/symbols_$assetCategory",
        if (assetCategory == "sp_stocks") Some(Seq("symbol", "date_stamp")) else None)
      promote(spark, lakeRoot, "price_history", assetCategory,
        s"$warehouseRoot/price_history_$assetCategory",
        Some(Seq("date_stamp", "symbol")), dateRange = Some((s, e)))
    } catch {
      case e: Throwable =>
        if (allFailed.nonEmpty) e.addSuppressed(PartialFailure(allFailed))
        throw e
    }
    if (allFailed.nonEmpty) throw PartialFailure(allFailed)
  }

  /** S3→DW promotion (orchestration.py:122-152): the lake table's
    * date-filtered scan ([[Extract.fromLake]]; the filter pushes down to
    * parquet), merged (or replaced when pk=None) into the warehouse table.
    * A lake table that was never written promotes nothing.
    */
  def promote(spark: SparkSession, lakeRoot: String, dataset: String,
      assetCategory: String, dwPath: String, pk: Option[Seq[String]],
      dateRange: Option[(LocalDate, LocalDate)] = None): Unit =
    lakeTable(spark, lakeRoot, dataset, assetCategory, dateRange).foreach { scan =>
      pk match {
        case Some(keys) => UpsertWriter.upsert(spark, dwPath, scan, keys)
        case None => UpsertWriter.replace(scan, dwPath)
      }
    }

  /** S9 variant of [[promote]]: the warehouse is a JDBC database (the
    * reference selects Postgres/Snowflake via config, load.py:126-137).
    * Same lake read; merge (pk given) runs as a server-side MERGE from a
    * staged table, replace recreates the table.
    */
  def promoteJdbc(spark: SparkSession, lakeRoot: String, dataset: String,
      assetCategory: String, url: String, table: String,
      pk: Option[Seq[String]], props: java.util.Properties,
      dateRange: Option[(LocalDate, LocalDate)] = None): Unit =
    lakeTable(spark, lakeRoot, dataset, assetCategory, dateRange).foreach { scan =>
      pk match {
        case Some(keys) =>
          graft.store.JdbcWarehouse.upsert(spark, scan, url, table, keys, props)
        case None => graft.store.JdbcWarehouse.replace(scan, url, table, props)
      }
    }

  /** [[Extract.fromLake]] over `dateRange`; None when the lake table was
    * never written. */
  private def lakeTable(spark: SparkSession, lakeRoot: String, dataset: String,
      assetCategory: String, dateRange: Option[(LocalDate, LocalDate)])
      : Option[DataFrame] =
    if (!Files.exists(Paths.get(Extract.lakePath(lakeRoot, dataset, assetCategory))))
      None
    else Some(Extract.fromLake(spark, lakeRoot, dataset, assetCategory,
      dateRange = dateRange.map { case (s, e) => (Date.valueOf(s), Date.valueOf(e)) }))

  /** O5: the dbt stage — run the 6 models in topo order, then the declared
    * data-test suite (orchestration.py:261-274).
    */
  def runModels(spark: SparkSession, warehouseRoot: String): Unit = {
    def table(n: String): DataFrame = spark.read.parquet(s"$warehouseRoot/$n")
    val fxPrices = table("price_history_fx") // feeds two models, read once
    val stgFxP = Models.stgFxPrices(fxPrices)
    val stgStP = Models.stgStockPrices(table("price_history_sp_stocks"))
    val stgFxS = Models.stgFxSymbols(fxPrices)
    val stgStS = Models.stgStockSymbols(table("symbols_sp_stocks"))
    UpsertWriter.replace(Models.dimSymbols(stgFxS, stgStS),
      s"$warehouseRoot/dim_symbols")
    UpsertWriter.replace(Models.fctPrices(stgFxP, stgStP),
      s"$warehouseRoot/fct_prices")
  }

  def runDataTests(spark: SparkSession, warehouseRoot: String)
      : Seq[DataTests.CheckResult] =
    DataTests.coreModelSuite(
      spark.read.parquet(s"$warehouseRoot/dim_symbols"),
      spark.read.parquet(s"$warehouseRoot/fct_prices"))
}
