package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Streaming exact deduplication: `dropDuplicates(keys)` on an unbounded
  * stream keeps seen keys in the checkpointed state store, so duplicates
  * are dropped EXACTLY-ONCE across micro-batches and restarts — the
  * streaming analogue of `Dedup.exact` and the first stage of any
  * continuously-ingesting training-data pipeline.
  *
  * The backlog replays one file per micro-batch with no watermark, so
  * the key state grows with the distinct keys seen: exact for a bounded
  * backlog. A live deployment would add a watermark to evict old
  * event-times, and Spark then dedups only within its horizon.
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
  ): Unit =
    Backlog.toFiles(
      Backlog.read(spark, sourceDir, schema, Some(1)).dropDuplicates(keys),
      targetPath, checkpointDir)
}
