package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}

class StreamingDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dup = "the quick brown fox jumps over the lazy dog tonight"

  private def writeBacklog(root: String): String =
    SparkEntry.slicedBacklog(spark, root, Seq(
      // batch 1: 10 and 20 duplicate (smaller id survives), 30 clean
      Seq((10L, dup), (20L, dup), (30L, "some clean unrelated words here")),
      // batch 2: 5 duplicates ACCEPTED doc 10 (index wins though 5 < 10),
      // 40 clean
      Seq((5L, dup), (40L, "entirely novel content for batch two")))
      .map(_.toDF("doc_id", "text")))._1

  private def accepted(stateRoot: String): Map[Long, Long] = {
    val (acc, _, _) = StreamingDedupIndex.readState(spark, stateRoot)
    acc.select("doc_id", "batch").as[(Long, Long)].collect().toMap
  }

  test("sessions of batches dedup across the micro-batch boundary") {
    val root = Files.createTempDirectory("graft_sdi_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    assert(accepted(s"$root/state")
      == Map(10L -> 1L, 30L -> 1L, 40L -> 2L))
  }

  test("prepare hook: gated docs are never judged, never witnesses; text transformed") {
    val root = Files.createTempDirectory("graft_sdi_prep_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    import org.apache.spark.sql.functions.{concat, lit}
    // gate drops doc 10 (the batch-1 dup pair's SURVIVOR under no gate);
    // the transform stamps every surviving text. With 10 gone, 20 is the
    // smallest copy of `dup` in batch 1 and must now be ACCEPTED — and 5
    // must still reject in batch 2 against 20's persisted witness set
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt",
      prepare = b => b.where(col("doc_id") =!= 10L)
        .select(col("doc_id"), concat(lit("curated "), col("text")).as("text")))
    assert(accepted(s"$root/state") == Map(20L -> 1L, 30L -> 1L, 40L -> 2L))
    // the persisted state holds the PREPARED text, not the raw source
    val (acc, _, _) = StreamingDedupIndex.readState(spark, s"$root/state")
    val texts = acc.select("text").as[String].collect()
    assert(texts.nonEmpty && texts.forall(_.startsWith("curated ")))
  }

  test("a full backlog replay (fresh checkpoint) adds nothing") {
    val root = Files.createTempDirectory("graft_sdi2_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val first = accepted(s"$root/state")
    // same backlog, NEW checkpoint, SAME state: every doc id is already
    // indexed, shares all band keys with itself, and verifies at
    // jaccard 1 — the replay rejects wholesale
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt_replay")
    assert(accepted(s"$root/state") == first)
  }

  test("replay guard: null-text docs (no band keys) don't double-append") {
    val root = Files.createTempDirectory("graft_sdi5_").toString
    // a null-text doc has no shingles and no band keys, so it can never
    // reject against its indexed self through the near-dup verify — the
    // id anti-join is the only thing keeping a checkpoint-lost replay
    // from double-appending it under a second batch number
    val src = SparkEntry.slicedBacklog(spark, root, Seq(
      Seq((50L, null.asInstanceOf[String]), (60L, "perfectly normal words"))
        .toDF("doc_id", "text")))._1
    val schema = spark.read.parquet(src).schema
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    assert(accepted(s"$root/state") == Map(50L -> 1L, 60L -> 1L))
    // same backlog, FRESH checkpoint (simulates the crash-after-marker
    // replay): nothing re-appends, null text included
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt_replay")
    assert(accepted(s"$root/state") == Map(50L -> 1L, 60L -> 1L))
    val (acc, _, _) = StreamingDedupIndex.readState(spark, s"$root/state")
    assert(acc.count() == 2) // no duplicate doc_ids under two batch numbers
  }

  test("compact + vacuum preserve the state; orphan snapshots invisible") {
    val root = Files.createTempDirectory("graft_sdi4_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val before = accepted(s"$root/state")
    // an orphan snapshot (crashed compaction: no marker) is invisible
    Seq((777L, "orphan snap", 1L)).toDF("doc_id", "text", "batch")
      .write.parquet(s"$root/state/snapshot/s2/accepted")
    assert(accepted(s"$root/state") == before)
    // committed compaction preserves the state exactly...
    StreamingDedupIndex.compact(spark, s"$root/state")
    assert(accepted(s"$root/state") == before)
    // re-compacting at the same head version is a safe no-op (it must
    // not overwrite the snapshot it would be reading from)
    StreamingDedupIndex.compact(spark, s"$root/state")
    assert(accepted(s"$root/state") == before)
    // ...and vacuum may then delete the covered deltas, leaving stray
    // directories under snapshot/ alone (a directory named exactly "s"
    // must not abort the vacuum on a toLong parse)
    Files.createDirectories(Paths.get(s"$root/state/snapshot/s"))
    Files.createDirectories(Paths.get(s"$root/state/snapshot/sother"))
    StreamingDedupIndex.vacuum(s"$root/state")
    assert(!Files.exists(Paths.get(s"$root/state/delta/d1")))
    assert(Files.isDirectory(Paths.get(s"$root/state/snapshot/s")))
    assert(Files.isDirectory(Paths.get(s"$root/state/snapshot/sother")))
    assert(accepted(s"$root/state") == before)
    // the stream continues on top of the compacted state: a replay with
    // a fresh checkpoint still rejects wholesale
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt2")
    assert(accepted(s"$root/state") == before)
  }

  test("readState trusts the marker, not stray version directories") {
    val root = Files.createTempDirectory("graft_sdi3_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingDedupIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val before = accepted(s"$root/state")
    // an orphan delta a crashed batch left behind must be invisible
    // until its marker commit lands
    Seq((999L, "orphan row")).toDF("doc_id", "text")
      .withColumn("batch", col("doc_id"))
      .write.parquet(s"$root/state/delta/d99/accepted")
    assert(accepted(s"$root/state") == before)
  }
}
