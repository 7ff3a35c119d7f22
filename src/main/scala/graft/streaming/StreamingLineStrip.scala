package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming frequent-line STRIP — [[Dedup.lineCountAddBatch]] per
  * micro-batch: the CCNet shared-chrome removal mode run continuously.
  * A persistent per-line distinct-doc count index absorbs each arriving
  * batch; a line whose cumulative count reaches `minDocs` strips from
  * the batch being processed and every later one (arrival-order
  * semantics — already-emitted copies stand; the batch operator over
  * the accumulated corpus is the retroactive form).
  *
  * State: the [[VersionedStateRunner]] layout — batch N appends
  * `delta/d<N>/cleaned` (batch-stamped stripped docs) and
  * `delta/d<N>/counts` (the batch's per-line distinct-doc counts —
  * deltas SUM to the live index, since globally-unique doc ids make
  * per-batch distinct sets disjoint), `_current` last. Without the id
  * replay guard a replayed batch would double-count its own lines.
  */
object StreamingLineStrip {

  /** The count log's fold: per-line sums. Summing is associative, so a
    * folded snapshot plus later deltas re-folds correctly.
    */
  private val sumCounts: DataFrame => DataFrame =
    _.groupBy("line").agg(sum(col("n_docs")).as("n_docs"))

  private def state(idCol: String = "doc_id", textCol: String = "text") =
    VersionedStateRunner(
      "cleaned" -> StructType(Seq(StructField(idCol, LongType),
        StructField(textCol, StringType), StructField("batch", LongType))),
      "counts" -> StructType(Seq(StructField("line", StringType),
        StructField("n_docs", LongType))),
      idCol, fold = sumCounts)

  /** Read the live cleaned/count state — counts summed per line — and
    * its committed version (see [[VersionedStateRunner.read]]).
    */
  def readState(spark: SparkSession, stateRoot: String,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame, Long) =
    state(idCol, textCol).read(spark, stateRoot)

  /** Fold the committed log into one snapshot — the count sub-state
    * compacts to its per-line sums, so the snapshot is index-sized
    * rather than log-sized; [[vacuum]] deletes what the snapshot covers.
    * Run between batches, like any lakehouse OPTIMIZE.
    */
  def compact(spark: SparkSession, stateRoot: String): Unit =
    state().compact(spark, stateRoot)

  def vacuum(stateRoot: String): Unit = VersionedStateRunner.vacuum(stateRoot)

  /** Replay a parquet backlog with AvailableNow, one file per
    * micro-batch by default. After the run, [[readState]] yields the
    * stripped corpus with each doc's processing batch.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      stateRoot: String,
      checkpointDir: String,
      minDocs: Long,
      maxFilesPerTrigger: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit =
    state(idCol, textCol).runAvailableNow(spark, sourceDir, schema,
        stateRoot, checkpointDir, maxFilesPerTrigger,
        _.select(col(idCol), col(textCol))) { (counts, batch, unseen) =>
      Dedup.lineCountAddBatch(counts, unseen(batch), minDocs, idCol,
        textCol)
    }
}
