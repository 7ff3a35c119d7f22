package pipebench

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pipeline.RawSource

/** The benchmark's stand-in for Wikipedia and Yahoo Finance: it serves the
  * generated raw symbol lists and the generated wide `Field_Ticker` OHLCV
  * parquet, one file per 500-symbol chunk of the sorted universe. A fetch
  * materializes its frame (as a download into driver memory would), so the
  * read cost lands inside the fetch and is timed as `sources.fetch_s`.
  *
  * `failOnFetch` makes the n-th price fetch (0-based, counted over the
  * source's life) throw: the self-test uses it to prove that an operation
  * that throws is counted as failed.
  */
final class WideParquetSource(rawRoot: String, chunks: Map[String, Seq[(String, Seq[String])]],
    failOnFetch: Int = -1) extends RawSource {

  @volatile var fetchNanos = 0L
  private val fetches = new java.util.concurrent.atomic.AtomicInteger(0)

  private def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally synchronized { fetchNanos += System.nanoTime() - t0 }
  }

  override def fetchSymbols(spark: SparkSession, assetCategory: String): DataFrame =
    timed(spark.read.parquet(s"$rawRoot/symbols_$assetCategory.parquet").localCheckpoint())

  override def fetchPrices(spark: SparkSession, symbols: Seq[String],
      start: LocalDate, end: LocalDate): (DataFrame, Seq[String]) = timed {
    if (fetches.getAndIncrement() == failOnFetch)
      throw new IllegalStateException("injected fetch failure")
    val cat = if (symbols.forall(_.endsWith("=X"))) "fx" else "sp_stocks"
    val (file, held) = chunks(cat).find(_._2.contains(symbols.head))
      .getOrElse(throw new IllegalArgumentException(s"no chunk holds ${symbols.head}"))
    require(symbols.forall(held.toSet), "a fetch must stay inside one generated chunk")
    val fields = Seq("Open", "High", "Low", "Close", "Volume")
    val cols = col("Date") +: fields.flatMap(f => symbols.map(s => col(s"`${f}_$s`")))
    val frame = spark.read.parquet(file)
      .where(col("Date") >= Timestamp.valueOf(start.atStartOfDay()) &&
        col("Date") < Timestamp.valueOf(end.plusDays(1).atStartOfDay()))
      .select(cols: _*)
      .localCheckpoint()
    (frame, Nil)
  }
}
