package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming line-level dedup — [[Dedup.lineIndexAddBatch]] applied per
  * micro-batch, the line-granular member of the streaming dedup family
  * (whole-doc exact dedup has `StreamingDedup`, near-dup has
  * `StreamingDedupIndex`): every arriving document sheds the lines the
  * corpus has already seen (CCNet/RefinedWeb keep-first semantics,
  * batch by batch), WITHOUT ever rescanning the accepted corpus.
  *
  * State: the [[VersionedStateRunner]] layout — batch N appends
  * `delta/d<N>/cleaned` (the batch's docs with seen lines removed, each
  * stamped with its acceptance batch) and `delta/d<N>/lines` (the
  * batch's FRESH distinct lines, the index delta), `_current` last. Per-
  * batch state I/O is O(batch lines + probe), never O(corpus). The id
  * replay guard also keeps a replayed batch from re-probing its own
  * lines out of its own output; cleaned TEXT is never read back.
  */
object StreamingLineDedup {

  private def state(idCol: String = "doc_id", textCol: String = "text",
      hashLines: Boolean = false) = VersionedStateRunner(
    "cleaned" -> StructType(Seq(StructField(idCol, LongType),
      StructField(textCol, StringType), StructField("batch", LongType))),
    "lines" -> StructType(Seq(StructField("line",
      if (hashLines) LongType else StringType))),
    idCol)

  /** Read the live cleaned/line-index state and its committed version
    * (see [[VersionedStateRunner.read]]). `hashLines` picks the index
    * representation (see [[Dedup.lineIndexAddBatch]]) and pins the scan
    * schema; a PERSISTED index whose parquet representation contradicts
    * the declared one fails loudly at scan time (the long/string
    * physical types are not convertible).
    */
  def readState(spark: SparkSession, stateRoot: String,
      idCol: String = "doc_id", textCol: String = "text",
      hashLines: Boolean = false)
      : (DataFrame, DataFrame, Long) =
    state(idCol, textCol, hashLines).read(spark, stateRoot)

  /** Fold the committed log into one snapshot so [[readState]] stops
    * unioning an ever-growing delta list; [[vacuum]] deletes what the
    * snapshot covers. Run between batches, like any lakehouse OPTIMIZE.
    */
  def compact(spark: SparkSession, stateRoot: String): Unit =
    state().compact(spark, stateRoot)

  def vacuum(stateRoot: String): Unit = VersionedStateRunner.vacuum(stateRoot)

  /** Replay a parquet backlog with AvailableNow, one file per
    * micro-batch by default. After the run, [[readState]] yields the
    * line-deduplicated corpus with each doc's acceptance batch: under
    * the backlog's mtime arrival order the composition equals the
    * batch-by-batch [[Dedup.lineIndexAddBatch]] chain doc-for-doc —
    * lines are OWNED by the batch that saw them first (a later batch's
    * smaller doc id never wins retroactively), which is what the
    * arrival-order oracle gates.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      stateRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashLines: Boolean = false,
  ): Unit =
    state(idCol, textCol, hashLines).runAvailableNow(spark, sourceDir,
        schema, stateRoot, checkpointDir, maxFilesPerTrigger,
        _.select(col(idCol), col(textCol))) { (lines, batch, unseen) =>
      // both writes read the ONE materialization lineIndexAddBatchParts
      // made of the probed batch
      Dedup.lineIndexAddBatchParts(lines, unseen(batch), idCol, textCol,
        hashLines)
    }
}
