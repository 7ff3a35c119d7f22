package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.store.Marker

/** The one source and the two drains every file-backlog stream in this
  * package runs through — the streaming shape of the reference's cron
  * incremental loads (SURVEY.md §2.11): a parquet backlog replayed under
  * `Trigger.AvailableNow`, which processes what is there and stops.
  *
  * Exactly-once needs a replayable source plus a sink a replay cannot
  * double (Structured Streaming, SIGMOD 2018). The file source is
  * replayable through the checkpoint's offset log; a batch that ran but
  * whose `commits/<N>` entry never landed runs again with the same
  * files. So the only sinks offered are the two that absorb that replay:
  *  - [[toFiles]], Spark's parquet file sink. It records each batch's
  *    files in `<target>/_spark_metadata` under the batch id, readers
  *    see only logged files, and a replayed batch id that already has a
  *    log entry writes nothing.
  *  - [[eachBatch]], `foreachBatch` for a sink that is idempotent on its
  *    own: a PK merge, the [[VersionedStateRunner]] marker commit with
  *    its id replay guard, or a complete-mode overwrite. A replayed id
  *    that the `_state_batch` marker (committed after the sink) holds
  *    skips the sink, so e.g. no extra table version; a crash before that
  *    marker still replays, so a `foreachBatch` body must never append.
  */
private[streaming] object Backlog {

  /** The file-stream source force-sets basePath to the raw path unless it
    * is a glob — and a file basePath is rejected. For a single parquet file,
    * turn the filename into an exact-match glob ([e]vents.parquet) and
    * anchor basePath at the parent directory.
    */
  private def globAndBase(sourcePath: String): (String, String) = {
    val p = new org.apache.hadoop.fs.Path(sourcePath)
    if (sourcePath.endsWith(".parquet")) {
      val n = p.getName
      (new org.apache.hadoop.fs.Path(
        p.getParent, s"[${n.head}]${n.tail}").toString, p.getParent.toString)
    } else (sourcePath, sourcePath)
  }

  /** The parquet backlog under `sourcePath` (a directory or one parquet
    * file) as a stream pinned to `schema`, at most `maxFilesPerTrigger`
    * files per micro-batch (None: the whole backlog in one). */
  def read(spark: SparkSession, sourcePath: String, schema: StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val (src, base) = globAndBase(sourcePath)
    val r = spark.readStream.schema(schema).option("basePath", base)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(src)
  }

  /** Drain `stream` into the parquet file sink at `targetPath` (append
    * output mode). */
  def toFiles(stream: Dataset[_], targetPath: String,
      checkpointDir: String): Unit =
    drain(stream.writeStream.outputMode("append").format("parquet")
      .option("path", targetPath), checkpointDir)

  /** Drain `stream` through `sink` once per micro-batch, skipping a
    * replayed batch id the `_state_batch` marker holds. `sink` must be
    * idempotent on a replay the marker misses (see the object doc). */
  def eachBatch(stream: DataFrame, checkpointDir: String,
      outputMode: String = "append")(sink: DataFrame => Unit): Unit =
    drain(stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!Marker.read(checkpointDir, "_state_batch").exists(_ >= id)) {
          sink(batch)
          Marker.commit(checkpointDir, "_state_batch", id)
        }
      }, checkpointDir)

  private def drain(w: DataStreamWriter[_], checkpointDir: String): Unit =
    w.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .start()
      .awaitTermination()
}
