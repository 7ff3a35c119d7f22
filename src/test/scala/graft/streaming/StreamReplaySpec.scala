package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, SparkSpec}
import graft.operators.Classify

/** Every stream survives a crash between its sink write and the
  * checkpoint's batch commit: the replayed batch leaves the output
  * row-identical to a clean run (and a marker-committed state at the
  * same version). The crash is simulated by deleting the checkpoint's
  * last `commits/<N>` entry after a clean 2-file drain, so the restart
  * re-runs batch N against a sink that already holds it.
  */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private val dup = "the quick brown fox jumps over the lazy dog tonight"

  private val docSlices = Seq(
    Seq((1L, dup), (2L, "completely different text about securities data"),
      (3L, dup)),
    Seq((4L, dup), (5L, "fresh unseen content with novel words entirely"),
      (6L, "fresh unseen content with novel words entirely")))

  private def uncommitLast(ckpt: String): Unit = {
    val commits = Paths.get(s"$ckpt/commits")
    val ls = Files.list(commits)
    val last = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).max finally ls.close()
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Drain `slices` with `run(src, schema, root)` twice — once clean,
    * once with the last batch replayed — and compare `output(root)`. */
  private def assertReplaySafe(slices: Seq[DataFrame])
      (run: (String, StructType, String) => Unit)
      (output: String => Seq[DataFrame]): Unit = {
    def drained(replay: Boolean): Seq[Seq[String]] = {
      val root = Files.createTempDirectory("graft_replay_").toString
      val (src, schema) = SparkEntry.slicedBacklog(spark, root, slices)
      run(src, schema, root)
      if (replay) {
        uncommitLast(s"$root/ckpt")
        run(src, schema, root)
      }
      output(root).map(rows)
    }
    val clean = drained(replay = false)
    assert(clean.forall(_.nonEmpty))
    assert(drained(replay = true) == clean)
  }

  test("StreamingDedup: a replayed batch appends nothing") {
    assertReplaySafe(Seq(Seq((1L, "a"), (2L, "b")), Seq((2L, "b"), (3L, "c")))
        .map(_.toDF("event_id", "v"))) { (src, schema, root) =>
      StreamingDedup.runAvailableNow(spark, src, schema, s"$root/out",
        s"$root/ckpt", Seq("event_id"))
    }(root => Seq(spark.read.parquet(s"$root/out")))
  }

  test("StatefulSessionize: a replayed batch appends nothing") {
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    assertReplaySafe(Seq(
      Seq((1L, ts("10:00:00")), (1L, ts("10:10:00")), (2L, ts("10:00:00"))),
      Seq((1L, ts("10:15:00")), (1L, ts("12:30:00")), (2L, ts("11:00:00"))))
        .map(_.toDF("user_id", "ts"))) { (src, schema, root) =>
      StatefulSessionize.runAvailableNow(spark, src, schema, s"$root/out",
        s"$root/ckpt", gapSeconds = 1800L)
    }(root => Seq(spark.read.parquet(s"$root/out")))
  }

  test("StreamingNearDup: a replayed batch adds no doc and no key") {
    assertReplaySafe(docSlices.map(_.toDF("doc_id", "text"))) {
      (src, schema, root) =>
        StreamingNearDup.runAvailableNow(spark, src, schema,
          s"$root/state", s"$root/ckpt")
    } { root =>
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      val (acc, keys, v) =
        StreamingNearDup.readState(spark, s"$root/state", schema)
      Seq(acc, keys, Seq(v).toDF("version"))
    }
  }

  test("StreamingCurate: a replayed batch appends nothing") {
    val docs = docSlices.flatten.toDF("doc_id", "text")
    val model = Classify.centroidModel(docs, col("doc_id") % 2 === 0)
      .localCheckpoint()
    assertReplaySafe(docSlices.map(_.toDF("doc_id", "text"))) {
      (src, schema, root) =>
        StreamingCurate.runAvailableNow(spark, src, schema, model,
          s"$root/out", s"$root/ckpt")
    }(root => Seq(spark.read.parquet(s"$root/out")))
  }

  test("StreamingPack: a replayed batch appends nothing") {
    assertReplaySafe(docSlices.map(_.toDF("doc_id", "text"))) {
      (src, schema, root) =>
        StreamingPack.runAvailableNow(spark, src, schema, s"$root/out",
          s"$root/ckpt", tokenBudget = 16L,
          prepare = _.select(col("text").substr(1, 1).as("shard"),
            col("doc_id"), length(col("text")).cast("long").as("n_tokens")))
    }(root => Seq(spark.read.parquet(s"$root/out")))
  }

  test("StreamingDedupIndex: a replayed batch adds no doc and no key") {
    assertReplaySafe(docSlices.map(_.toDF("doc_id", "text"))) {
      (src, schema, root) =>
        StreamingDedupIndex.runAvailableNow(spark, src, schema,
          s"$root/state", s"$root/ckpt")
    } { root =>
      val (acc, keys, v) = StreamingDedupIndex.readState(spark, s"$root/state")
      Seq(acc, keys, Seq(v).toDF("version"))
    }
  }

  private val pkSlices = Seq(Seq((1L, "a"), (2L, "b")), Seq((2L, "B"), (3L, "c")))
    .map(_.toDF("id", "v"))

  test("StreamingUpsert: a replayed batch re-merges to the same table") {
    assertReplaySafe(pkSlices) { (src, schema, root) =>
      StreamingUpsert.runAvailableNow(spark, src, schema, s"$root/out",
        s"$root/ckpt", Seq("id"), maxFilesPerTrigger = 1)
    }(root => Seq(spark.read.parquet(s"$root/out")))
  }

  test("StreamingUpsert versioned: a replayed batch re-merges to the same " +
      "latest snapshot") {
    assertReplaySafe(pkSlices) { (src, schema, root) =>
      StreamingUpsert.runVersionedAvailableNow(spark, src, schema,
        s"$root/tbl", s"$root/ckpt", Seq("id"))
    }(root => Seq(graft.store.VersionedTable.read(spark, s"$root/tbl"),
      graft.store.VersionedTable.latestVersion(s"$root/tbl").toSeq
        .toDF("version")))
  }
}
