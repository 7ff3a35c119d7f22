package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, Sizing}
import graft.store.UpsertWriter

/** Incremental NEAR-duplicate dedup of a document stream — the
  * daily-crawl-increment shape of a continuously-ingesting training-data
  * pipeline: each micro-batch's docs are MinHash-banded with the fused
  * codegen kernel (one narrow pass, no shuffle), rejected when any band
  * key collides with the accumulated band-key HISTORY of all previously
  * seen docs (or with a lower-id doc inside the same batch), and the
  * batch's keys join the history either way — a rejected doc still
  * "occupies" its keys, so the filter is "have I seen anything like this
  * before", not "is a surviving representative similar".
  *
  * State: the [[VersionedStateRunner]] layout keyed by `doc_id` — batch
  * N writes its accepted docs (every source column, batch-stamped) to
  * `delta/d<N>/accepted` and every batch doc's band keys to
  * `delta/d<N>/keys`, `_current` last. A batch replayed after its
  * marker landed finds every one of its ids in the key history and
  * judges nothing.
  *
  * Scale shape: the key history grows as bands×docs small fixed-width
  * rows; the per-batch work is one semi join against it — the same
  * linear candidate profile as [[Dedup.minhashLshPairs]].
  */
object StreamingNearDup {

  private def state(schema: StructType) = VersionedStateRunner(
    "accepted" -> schema.add(StructField("batch", LongType)),
    "keys" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("key", StringType))),
    "doc_id")

  /** The live accepted docs (each source `schema` column plus its
    * acceptance batch), the band-key history and the committed version
    * (see [[VersionedStateRunner.read]]); empty before the first batch.
    */
  def readState(spark: SparkSession, stateRoot: String, schema: StructType)
      : (DataFrame, DataFrame, Long) =
    state(schema).read(spark, stateRoot)

  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      stateRoot: String,
      checkpointDir: String,
  ): Unit =
    state(schema).runAvailableNow(spark, sourceDir, schema, stateRoot,
        checkpointDir, 1, identity) { (hist, batch, _) =>
      // the replay guard runs on the HISTORY's ids, a superset of the
      // accepted ones (every judged doc's keys land there): a replayed
      // batch then re-adds no keys for the docs it rejected, either
      val docs = UpsertWriter.antiJoin(batch, hist.select("doc_id"),
        Seq("doc_id"))
      // the keys feed both probes and the index part: banded once
      val (banded, _) = Sizing.materialize(Dedup.bandedKeys(docs,
        bands = 4, rowsPerBand = 2, shingleN = 3, idCol = "doc_id",
        textCol = "text", outIdCol = "doc_id"))
      val rejectHist = banded
        .join(hist.select("band", "key"), Seq("band", "key"), "left_semi")
        .select("doc_id")
      val rejectLocal = banded
        .join(banded.toDF("other_id", "band", "key"), Seq("band", "key"))
        .where(col("other_id") < col("doc_id"))
        .select("doc_id")
      val rejected = rejectHist.union(rejectLocal).distinct()
      (UpsertWriter.antiJoin(docs, rejected, Seq("doc_id")), banded)
    }
}
