package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def writeFile(rows: Seq[(Long, String)], dir: String,
      name: String): Unit = {
    val tmp = s"$dir/tmp_$name"
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/src/$name"))
  }

  test("cross-batch near-dups are rejected against the band-key history") {
    val root = Files.createTempDirectory("graft_sndspec_").toString
    Files.createDirectories(Paths.get(s"$root/src"))
    // batch 1: two distinct docs; batch 2: a near-copy of doc 1 (same
    // text → same minhash bands), one fresh doc, and an in-batch dup pair
    writeFile(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about securities data")), root, "f1.parquet")
    writeFile(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "fresh unseen content with novel words entirely"),
      (12L, "fresh unseen content with novel words entirely")), root, "f2.parquet")
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    StreamingNearDup.runAvailableNow(spark, s"$root/src", schema,
      s"$root/state", s"$root/ckpt")
    val (table, hist, _) =
      StreamingNearDup.readState(spark, s"$root/state", schema)
    val kept = table
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 10 collides with history (doc 1); 12 collides with 11 in-batch
    assert(kept == Seq(1L, 2L, 11L))
    // history retains keys for ALL seen docs, rejected ones included
    val histDocs = hist
      .select("doc_id").distinct().count()
    assert(histDocs == 5)
  }
}
