package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Multimodal

/** Streaming frame-store ingest — [[Multimodal.frameIndexAddBatch]]
  * applied per micro-batch, the frame-granular member of the streaming
  * dedup family (whole-doc exact dedup has `StreamingDedup`, line-level
  * has `StreamingLineDedup`): every arriving asset's payload cuts into
  * fixed-size frames, frames whose digest the store already holds dedup
  * against their canonical stored copy, fresh frames resolve first-
  * occurrence ownership within the batch, and the batch's new digests
  * fold into the persistent index — WITHOUT ever rescanning the store.
  *
  * State: the [[VersionedStateRunner]] layout, keyed by `asset_id` —
  * batch N appends `delta/d<N>/stats` (one row per batch asset:
  * n_frames / stored / dup / reclaimable bytes, stamped with its ingest
  * batch) and `delta/d<N>/digests` (the batch's FRESH distinct frame
  * digests, the index delta), `_current` last. Per-batch state I/O is
  * O(batch frames + probe), never O(store). The id replay guard keeps a
  * replayed batch from re-probing its own frames out of its own digest
  * delta; and because [[Multimodal.frameIndexAddBatch]] distinct()s its
  * index projection, even an index state carrying overlapping deltas
  * could only mark frames seen, never multiply their rows.
  */
object StreamingFrameIndex {

  private val state = VersionedStateRunner(
    "stats" -> StructType(Seq(
      StructField("asset_id", LongType),
      StructField("n_frames", LongType),
      StructField("stored_frames", LongType),
      StructField("dup_frames", LongType),
      StructField("dup_bytes", LongType),
      StructField("batch", LongType))),
    "digests" -> StructType(Seq(StructField("digest", StringType))),
    "asset_id", fold = _.distinct())

  /** Read the live (stats, digest-index) state — digests in their
    * semantic form, distinct — and its committed version (see
    * [[VersionedStateRunner.read]]).
    */
  def readState(spark: SparkSession, stateRoot: String)
      : (DataFrame, DataFrame, Long) =
    state.read(spark, stateRoot)

  /** Fold the committed log into one snapshot so [[readState]] stops
    * unioning an ever-growing delta list; [[vacuum]] deletes what the
    * snapshot covers. The digest sub folds to distinct digests, so the
    * snapshot stays index-sized even if deltas ever overlapped.
    */
  def compact(spark: SparkSession, stateRoot: String): Unit =
    state.compact(spark, stateRoot)

  def vacuum(stateRoot: String): Unit = VersionedStateRunner.vacuum(stateRoot)

  /** Replay a parquet backlog of documents-shaped rows (doc_id, text,
    * source) with AvailableNow, one file per micro-batch;
    * each batch renders to binary assets via [[Multimodal.fromDocuments]]
    * and ingests against the digest index. After the run, [[readState]]
    * yields per-asset storage stats with each asset's ingest batch:
    * under the backlog's mtime arrival order the composition equals the
    * batch-by-batch [[Multimodal.frameIndexAddBatch]] chain
    * asset-for-asset — a frame's canonical copy belongs to the batch
    * that saw its digest first (a later batch's smaller asset id never
    * wins retroactively), which is what the arrival-order oracle gates.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      stateRoot: String,
      checkpointDir: String,
      frameBytes: Int,
  ): Unit =
    state.runAvailableNow(spark, sourceDir, schema, stateRoot,
        checkpointDir, 1, Multimodal.fromDocuments) {
      (digests, batch, unseen) =>
        Multimodal.frameIndexAddBatch(digests, unseen(batch), frameBytes)
    }
}
