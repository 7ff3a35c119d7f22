package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, Sizing}

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

  private val state = VersionedStateRunner(
    "accepted" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("batch", LongType))),
    "keys" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("key", StringType),
      StructField("hashes", ArrayType(LongType)))),
    "doc_id")

  /** The live accepted/keys state and its committed version (see
    * [[VersionedStateRunner.read]]); empty frames before the first batch.
    */
  def readState(spark: SparkSession, stateRoot: String)
      : (DataFrame, DataFrame, Long) =
    state.read(spark, stateRoot)

  /** Fold the committed log into one snapshot so `readState` stops
    * unioning an ever-growing delta list; [[vacuum]] then deletes what
    * the snapshot covers (see [[VersionedStateRunner.compact]]).
    */
  def compact(spark: SparkSession, stateRoot: String): Unit =
    state.compact(spark, stateRoot)

  def vacuum(stateRoot: String): Unit = VersionedStateRunner.vacuum(stateRoot)

  /** Replay a parquet backlog (`doc_id`, `text`, …) with AvailableNow,
    * at most `maxFilesPerTrigger` files per micro-batch. After the run,
    * `readState` yields the accepted corpus with each doc's acceptance
    * batch number.
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
      prepare: DataFrame => DataFrame = identity,
  ): Unit =
    state.runAvailableNow(spark, sourceDir, schema, stateRoot,
        checkpointDir, maxFilesPerTrigger,
        b => prepare(b).select(col("doc_id"), col("text"))) {
      (k, b, unseen) =>
        // both parts are narrow projections of ONE materialized verdict:
        // no read-back of the accepted delta, no second pass over the
        // batch; the replay guard prunes the accepted state to its ids,
        // so accepted TEXT is never read after its admission batch
        val (judged, _) = Sizing.materialize(unseen(
          Dedup.dedupIndexVerdict(k, b, threshold)))
        Dedup.dedupIndexParts(judged, "doc_id", "text")
    }
}
