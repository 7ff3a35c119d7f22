package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSpec}

class StreamingFrameIndexSpec extends SparkSpec {
  import spark.implicits._

  // documents-shaped backlog; fromDocuments turns text into the binary
  // payload, frameBytes = 4 cuts it into 4-byte frames
  private def writeBacklog(root: String): String =
    SparkEntry.slicedBacklog(spark, root, Seq(
      // batch 1: assets 10/20 share frame BBBB — within-batch keep-first
      // gives it to 10 (smaller packed (id, idx) occurrence)
      Seq((10L, "AAAABBBB", "web"), (20L, "BBBBCCCC", "web")),
      // batch 2: asset 5 repeats AAAA — batch 1 OWNS its digest even
      // though 5 < 10; asset 40 is nothing but seen frames
      Seq((5L, "AAAADDDD", "web"), (40L, "AAAA", "web")))
      .map(_.toDF("doc_id", "text", "source")))._1

  private def stats(stateRoot: String)
      : Map[Long, (Long, Long, Long, Long, Long)] = {
    val (st, _, _) = StreamingFrameIndex.readState(spark, stateRoot)
    st.as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  private val expected = Map(
    10L -> ((2L, 2L, 0L, 0L, 1L)),
    20L -> ((2L, 1L, 1L, 4L, 1L)),
    5L -> ((2L, 1L, 1L, 4L, 2L)),
    40L -> ((1L, 0L, 1L, 4L, 2L)))

  test("frame digests are owned by the batch that saw them first, not " +
      "by the smaller asset id") {
    val root = Files.createTempDirectory("graft_sfi_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingFrameIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", frameBytes = 4)
    assert(stats(s"$root/state") == expected)
    // the digest index state is exactly the distinct frames ever seen
    val (_, digests, v) = StreamingFrameIndex.readState(spark, s"$root/state")
    assert(v == 2L)
    assert(digests.as[String].collect().toSet ==
      Seq("AAAA", "BBBB", "CCCC", "DDDD").map(f =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          f.getBytes("UTF-8").map("%02x".format(_)).mkString
            .getBytes("UTF-8"))).toSet)
  }

  test("a full backlog replay (fresh checkpoint) adds nothing") {
    val root = Files.createTempDirectory("graft_sfi2_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingFrameIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", frameBytes = 4)
    // same backlog, NEW checkpoint, SAME state: every asset id is
    // already in the stats state, so the replay guard drops both
    // batches wholesale — without it, a replayed asset would count its
    // own stored frames as duplicates of its own digest delta
    StreamingFrameIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt_replay", frameBytes = 4)
    assert(stats(s"$root/state") == expected)
    val (_, digests, v) = StreamingFrameIndex.readState(spark, s"$root/state")
    assert(v == 4L) // two empty replay deltas committed
    assert(digests.count() == 4L)
  }

  test("compact + vacuum fold the digest log and preserve the state") {
    val root = Files.createTempDirectory("graft_sfi3_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingFrameIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", frameBytes = 4)
    val before = stats(s"$root/state")
    StreamingFrameIndex.compact(spark, s"$root/state")
    StreamingFrameIndex.vacuum(s"$root/state")
    assert(!Files.isDirectory(Paths.get(s"$root/state/delta/d1")))
    assert(stats(s"$root/state") == before)
    val (_, digests, v) = StreamingFrameIndex.readState(spark, s"$root/state")
    assert(v == 2L && digests.count() == 4L)
  }

  test("readState trusts the marker: an orphan delta is invisible") {
    val root = Files.createTempDirectory("graft_sfi4_").toString
    val src = writeBacklog(root)
    val schema = spark.read.parquet(src).schema
    StreamingFrameIndex.runAvailableNow(spark, src, schema,
      s"$root/state", s"$root/ckpt", frameBytes = 4)
    val before = stats(s"$root/state")
    // simulate a crash AFTER the delta write, BEFORE the marker rename:
    // d3 exists on disk but `_current` still says 2
    Seq((99L, 1L, 1L, 0L, 0L, 3L))
      .toDF("asset_id", "n_frames", "stored_frames", "dup_frames",
        "dup_bytes", "batch")
      .write.parquet(s"$root/state/delta/d3/stats")
    Seq("phantomdigest").toDF("digest")
      .write.parquet(s"$root/state/delta/d3/digests")
    assert(stats(s"$root/state") == before)
    val (_, _, v) = StreamingFrameIndex.readState(spark, s"$root/state")
    assert(v == 2L)
  }
}
