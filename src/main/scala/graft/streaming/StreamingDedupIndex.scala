package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming near-dup dedup — [[graft.operators.Dedup.dedupIndexAddBatch]]
  * applied per micro-batch, the streaming member of the dedup family
  * (exact streaming dedup has `StreamingDedup`; the ANN index has
  * `runVersionedWithAnnIndex`). Each batch dedups against everything
  * accepted so far WITHOUT rescanning the corpus it already accepted:
  * the state holds the accepted docs plus their LSH band keys.
  *
  * State: the [[VersionedStateRunner]] layout — batch N appends its own
  * accepted docs and their band keys to `delta/d<N>/{accepted,keys}`,
  * `_current` commits last — so per-batch state I/O is O(batch), never
  * O(corpus). The replay guard reads only the accepted ids; accepted
  * TEXT is never read after a doc's admission batch (the verify runs on
  * the persisted `hashes` witness sets — see
  * [[graft.operators.Dedup.dedupIndexKeys]]).
  */
object StreamingDedupIndex {

  private def state(idCol: String, textCol: String) =
    VersionedStateRunner(
      "accepted" -> StructType(Seq(StructField(idCol, LongType),
        StructField(textCol, StringType), StructField("batch", LongType))),
      "keys" -> StructType(Seq(StructField(idCol, LongType),
        StructField("band", IntegerType), StructField("key", StringType),
        StructField("hashes", ArrayType(LongType)))),
      idCol)

  /** The live accepted/keys state and its committed version (see
    * [[VersionedStateRunner.read]]); empty frames before the first batch.
    */
  def readState(spark: SparkSession, stateRoot: String,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame, Long) =
    state(idCol, textCol).read(spark, stateRoot)

  /** Fold the committed log into one snapshot so `readState` stops
    * unioning an ever-growing delta list; [[vacuum]] then deletes what
    * the snapshot covers (see [[VersionedStateRunner.compact]]).
    */
  def compact(spark: SparkSession, stateRoot: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    state(idCol, textCol).compact(spark, stateRoot)

  def vacuum(stateRoot: String): Unit = VersionedStateRunner.vacuum(stateRoot)

  private def addBatch(threshold: Double, idCol: String, textCol: String)
      (keys: DataFrame, fresh: DataFrame): (DataFrame, DataFrame) =
    Dedup.dedupIndexAddBatchParts(keys, fresh, threshold, idCol = idCol,
      textCol = textCol)

  /** One micro-batch's acceptance frame, LAZY — factored out of
    * [[runAvailableNow]] so its executed plan can be audited (the
    * read-schema pin that accepted TEXT is never re-read: the only scan
    * of the accepted state is the id-column replay guard; the near-dup
    * verify runs on the keys state's persisted `hashes` sets). Returns
    * the accepted subset of `batch` judged against the committed state,
    * the batch's materialized [[graft.operators.Dedup.dedupIndexKeys]]
    * frame (slice it to accepted ids for the keys delta — no re-keying),
    * and the state version it read.
    */
  def batchAccepted(spark: SparkSession, stateRoot: String, batch: DataFrame,
      threshold: Double = 0.3, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame, Long) = {
    val ((acc, batchKeys), v) = state(idCol, textCol).judge(spark,
      stateRoot, batch.select(col(idCol), col(textCol)))(
      addBatch(threshold, idCol, textCol))
    (acc, batchKeys, v)
  }

  /** Replay a parquet backlog with AvailableNow, one file per micro-batch
    * by default. After the run, `readState` yields the accepted corpus
    * with each doc's acceptance batch number.
    *
    * `prepare` runs on each micro-batch BEFORE the dedup judgment — the
    * curation hook (scrub → score → gate, all stateless narrow/broadcast
    * stages) that turns this runner into the full streaming corpus
    * pipeline: what gets banded, verified, and persisted is the PREPARED
    * text (the corpus the trainer will see), and a doc the gate drops is
    * never judged, never a witness. Must be deterministic and
    * slicing-invariant (per-row, no cross-batch state) — exactly the
    * q135 stage contract — or replays would not be idempotent.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      stateRoot: String,
      checkpointDir: String,
      threshold: Double = 0.3,
      maxFilesPerTrigger: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
      prepare: DataFrame => DataFrame = identity,
  ): Unit =
    state(idCol, textCol).runAvailableNow(spark, sourceDir, schema,
        stateRoot, checkpointDir, maxFilesPerTrigger,
        b => prepare(b).select(col(idCol), col(textCol))) { (keys, fresh) =>
      val (acc, batchKeys) = addBatch(threshold, idCol, textCol)(keys, fresh)
      // the accepted write computes the judgment ONCE; the keys delta is
      // the batch's already-materialized key frame sliced to the ids just
      // written (read back from the delta — the parquet IS the
      // materialization), so accepted text is never re-keyed and no extra
      // localCheckpoint pass runs
      (acc, accepted => batchKeys.join(fresh.sparkSession.read
        .parquet(accepted).select(col(idCol)), Seq(idCol), "left_semi"))
    }
}
