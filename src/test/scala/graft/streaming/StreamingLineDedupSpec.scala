package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSpec}

class StreamingLineDedupSpec extends SparkSpec {
  import spark.implicits._

  private def writeBacklog(root: String): String =
    SparkEntry.slicedBacklog(spark, root, Seq(
      // batch 1: docs 10 and 20 share "beta two" — within-batch
      // keep-first gives it to 10 (smaller (id, pos) occurrence)
      Seq((10L, "alpha one\nbeta two"), (20L, "beta two\ngamma three")),
      // batch 2: doc 5 repeats "alpha one" — batch 1 OWNS it even though
      // 5 < 10; doc 40 is nothing but owned lines and must survive EMPTY
      Seq((5L, "alpha one\ndelta four"), (40L, "alpha one")))
      .map(_.toDF("doc_id", "text")))._1

  private def cleaned(stateRoot: String): Map[Long, (String, Long)] = {
    val (c, _, _) = StreamingLineDedup.readState(spark, stateRoot)
    c.select("doc_id", "text", "batch").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("lines are owned by the batch that saw them first, not by the " +
      "smaller doc id") {
    val root = Files.createTempDirectory("graft_sld_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineDedup.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    assert(cleaned(s"$root/state") == Map(
      10L -> (("alpha one\nbeta two", 1L)),
      20L -> (("gamma three", 1L)),
      5L -> (("delta four", 2L)),
      40L -> (("", 2L)))) // every line owned elsewhere -> kept, emptied
    // the line-index state is exactly the distinct lines ever seen
    val (_, lines, v) = StreamingLineDedup.readState(spark, s"$root/state")
    assert(v == 2L)
    assert(lines.as[String].collect().toSet == Set(
      "alpha one", "beta two", "gamma three", "delta four"))
  }

  test("a full backlog replay (fresh checkpoint) adds nothing") {
    val root = Files.createTempDirectory("graft_sld2_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineDedup.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val first = cleaned(s"$root/state")
    // same backlog, NEW checkpoint, SAME state: every doc id is already
    // in the cleaned state, so the replay guard drops both batches
    // wholesale — without it, a replayed doc would probe its own lines
    // out of its own (re)output
    StreamingLineDedup.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt_replay")
    assert(cleaned(s"$root/state") == first)
  }

  test("compact + vacuum preserve the line-index state") {
    val root = Files.createTempDirectory("graft_sld4_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineDedup.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val before = cleaned(s"$root/state")
    StreamingLineDedup.compact(spark, s"$root/state")
    StreamingLineDedup.vacuum(s"$root/state")
    assert(!Files.isDirectory(Paths.get(s"$root/state/delta/d1")))
    assert(cleaned(s"$root/state") == before)
    val (_, lines, v) = StreamingLineDedup.readState(spark, s"$root/state")
    assert(v == 2L && lines.as[String].collect().toSet == Set(
      "alpha one", "beta two", "gamma three", "delta four"))
  }

  test("readState trusts the marker: an orphan delta is invisible") {
    val root = Files.createTempDirectory("graft_sld3_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingLineDedup.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt")
    val before = cleaned(s"$root/state")
    // simulate a crash AFTER the delta write, BEFORE the marker rename:
    // d3 exists on disk but `_current` still says 2
    Seq((99L, "phantom line", 3L)).toDF("doc_id", "text", "batch")
      .write.parquet(s"$root/state/delta/d3/cleaned")
    Seq("phantom line").toDF("line")
      .write.parquet(s"$root/state/delta/d3/lines")
    assert(cleaned(s"$root/state") == before)
    val (_, _, v) = StreamingLineDedup.readState(spark, s"$root/state")
    assert(v == 2L)
  }
}
