package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSpec}

class StreamingLineStripSpec extends SparkSpec {
  import spark.implicits._

  private val chrome = "nav home about contact"

  private def writeBacklog(root: String): String =
    SparkEntry.slicedBacklog(spark, root, Seq(
      // batch 1: `chrome` on TWO docs — under minDocs=3 it survives
      // batch 1; "promo text" on three docs crosses WITHIN the batch
      Seq(
        (10L, s"$chrome\nalpha body"),
        (20L, s"$chrome\nbeta body"),
        (30L, s"promo text\ngamma body"),
        (40L, s"promo text\ndelta body"),
        (50L, s"promo text\nepsilon body")),
      // batch 2: doc 5 brings `chrome`'s cumulative count to 3 — stripped
      // HERE, while batch-1 copies stand (no retraction)
      Seq((5L, s"$chrome\nzeta body")))
      .map(_.toDF("doc_id", "text")))._1

  private def cleaned(stateRoot: String): Map[Long, (String, Long)] = {
    val (c, _, _) = StreamingLineStrip.readState(spark, stateRoot)
    c.select("doc_id", "text", "batch").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("a line strips from the batch that crosses minDocs onward; " +
      "earlier copies stand") {
    val root = Files.createTempDirectory("graft_sls_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineStrip.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", minDocs = 3)
    assert(cleaned(s"$root/state") == Map(
      10L -> ((s"$chrome\nalpha body", 1L)), // count 2 at batch 1: kept
      20L -> ((s"$chrome\nbeta body", 1L)),
      30L -> (("gamma body", 1L)), // crossed within batch 1: stripped
      40L -> (("delta body", 1L)),
      50L -> (("epsilon body", 1L)),
      5L -> (("zeta body", 2L)))) // cumulative 3 at batch 2: stripped
    // the count index folded the two batches' disjoint distinct sets
    val (_, counts, v) = StreamingLineStrip.readState(spark, s"$root/state")
    assert(v == 2L)
    val byLine = counts.as[(String, Long)].collect().toMap
    assert(byLine(chrome) == 3L && byLine("promo text") == 3L &&
      byLine("alpha body") == 1L)
  }

  test("a full backlog replay (fresh checkpoint) adds nothing — " +
      "especially not doubled counts") {
    val root = Files.createTempDirectory("graft_sls2_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineStrip.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", minDocs = 3)
    val first = cleaned(s"$root/state")
    StreamingLineStrip.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt_replay", minDocs = 3)
    assert(cleaned(s"$root/state") == first)
    // without the id replay guard, `chrome`'s count would have doubled
    val (_, counts, _) = StreamingLineStrip.readState(spark, s"$root/state")
    assert(counts.as[(String, Long)].collect().toMap.apply(chrome) == 3L)
  }

  test("compact folds the count log per line; vacuum spares the state") {
    val root = Files.createTempDirectory("graft_sls4_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineStrip.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", minDocs = 3)
    val before = cleaned(s"$root/state")
    val (_, countsBefore, _) =
      StreamingLineStrip.readState(spark, s"$root/state")
    val cb = countsBefore.as[(String, Long)].collect().toMap
    StreamingLineStrip.compact(spark, s"$root/state")
    StreamingLineStrip.vacuum(s"$root/state")
    // deltas are gone, the snapshot serves reads, state is identical —
    // and the count snapshot is the SEMANTIC fold (one row per line)
    assert(!Files.isDirectory(Paths.get(s"$root/state/delta/d1")))
    assert(cleaned(s"$root/state") == before)
    val (_, countsAfter, _) =
      StreamingLineStrip.readState(spark, s"$root/state")
    assert(countsAfter.as[(String, Long)].collect().toMap == cb)
    val snapRows = spark.read
      .parquet(s"$root/state/snapshot/s2/counts").count()
    assert(snapRows == cb.size)
    // a compacted stream keeps absorbing batches: chrome is frequent
    // now, so a late doc carrying it arrives pre-stripped
    val late = SparkEntry.slicedBacklog(spark, s"$root/late", Seq(
      Seq((7L, s"$chrome\nlate body")).toDF("doc_id", "text")))._1
    StreamingLineStrip.runAvailableNow(spark, late, schema,
      s"$root/state", s"$root/ckpt_late", minDocs = 3)
    assert(cleaned(s"$root/state")(7L) == (("late body", 3L)))
  }

  test("readState trusts the marker: an orphan delta is invisible") {
    val root = Files.createTempDirectory("graft_sls3_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineStrip.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", minDocs = 3)
    val before = cleaned(s"$root/state")
    Seq((99L, "phantom", 3L)).toDF("doc_id", "text", "batch")
      .write.parquet(s"$root/state/delta/d3/cleaned")
    Seq(("phantom line", 9L)).toDF("line", "n_docs")
      .write.parquet(s"$root/state/delta/d3/counts")
    assert(cleaned(s"$root/state") == before)
    val (_, counts, v) = StreamingLineStrip.readState(spark, s"$root/state")
    assert(v == 2L)
    assert(!counts.as[(String, Long)].collect().toMap.contains("phantom line"))
  }
}
