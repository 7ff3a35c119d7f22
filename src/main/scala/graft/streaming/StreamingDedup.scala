package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Streaming exact deduplication: `dropDuplicates(keys)` on an unbounded
  * stream keeps seen keys in the checkpointed state store, so duplicates
  * are dropped EXACTLY-ONCE across micro-batches and restarts — the
  * streaming analogue of `Dedup.exact` and the first stage of any
  * continuously-ingesting training-data pipeline.
  *
  * Without a watermark the key state grows unboundedly (correct for
  * bounded backlog replay, as here); a live deployment passes
  * `withWatermarkCol`/`delay` so state for old event-times is evicted —
  * Spark then guarantees dedup only within the watermark horizon.
  *
  * Output goes through the parquet file sink ([[Backlog.toFiles]]): its
  * `_spark_metadata` log commits each batch's files under the batch id,
  * so a batch replayed after a crash writes nothing new.
  */
object StreamingDedup {

  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      keys: Seq[String],
      maxFilesPerTrigger: Int = 1,
      withWatermarkCol: Option[String] = None,
      delay: String = "1 hour",
  ): Unit = {
    val raw = Backlog.read(spark, sourceDir, schema, Some(maxFilesPerTrigger))
    val withWm = withWatermarkCol.fold(raw)(c => raw.withWatermark(c, delay))
    Backlog.toFiles(withWm.dropDuplicates(keys), targetPath, checkpointDir)
  }
}
