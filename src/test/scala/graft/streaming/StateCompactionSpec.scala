package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.store.Marker

/** The versioned-state compaction crash matrix (r15 verdict #8) —
  * the StreamingUpsert-style path pinning, applied to
  * [[VersionedStateRunner]]'s own read/compact/vacuum: compaction
  * crashing before its marker, vacuum after compaction (including the
  * stray-directory regression), and replay/append into an
  * already-compacted state. The family specs cover their use of the
  * runner; these cases pin its marker discipline with a SEMANTIC fold in
  * play (the per-key sum the frequent-line count log uses), where a
  * wrong union would silently double-count rather than fail.
  */
class StateCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val countSchema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType)))

  private val state = VersionedStateRunner(
    "out" -> StructType(Seq(StructField("k", StringType))),
    "counts" -> countSchema, "k",
    fold = _.groupBy("k").agg(sum(col("n")).as("n")))

  /** The output part of delta d<v>: one row per key of `rows`. */
  private def writeOut(root: String, v: Long,
      rows: Seq[(String, Long)]): Unit =
    rows.map(_._1).toDF("k").write.mode("overwrite")
      .parquet(s"$root/delta/d$v/out")

  /** Write delta d<v> (both parts) and commit `_current` = v. */
  private def writeDelta(root: String, v: Long,
      rows: Seq[(String, Long)]): Unit = {
    writeOut(root, v, rows)
    rows.toDF("k", "n").write.mode("overwrite")
      .parquet(s"$root/delta/d$v/counts")
    Marker.commit(root, "_current", v)
  }

  private def readCounts(root: String): Map[String, Long] =
    state.read(spark, root)._2.as[(String, Long)].collect().toMap

  test("a compact crash BEFORE the _compacted marker leaves readers on " +
      "the delta log; re-running compact completes it") {
    val root = Files.createTempDirectory("graft_scmp1_").toString
    writeDelta(root, 1, Seq(("a", 1L), ("b", 2L)))
    writeDelta(root, 2, Seq(("a", 3L)))
    val before = readCounts(root)
    assert(before == Map("a" -> 4L, "b" -> 2L))
    // simulate the crash: the folded snapshot lands on disk but the
    // process dies before the marker commit — write an orphan snapshot by
    // hand (same bytes compact would produce, WRONG on purpose so a
    // reader that trusted it would be caught)
    Seq(("a", 999L)).toDF("k", "n").write
      .parquet(s"$root/snapshot/s2/counts")
    assert(Marker.read(root, "_compacted").isEmpty)
    // readers never see the orphan: state still reads from the log
    assert(readCounts(root) == before)
    // re-running compact overwrites the orphan and commits the marker;
    // the fold makes the snapshot one row per key (index-sized)
    state.compact(spark, root)
    assert(Marker.read(root, "_compacted").contains(2L))
    assert(readCounts(root) == before)
    assert(spark.read.parquet(s"$root/snapshot/s2/counts").count() == 2)
    // compact at the same head version is a no-op (it would otherwise
    // overwrite the snapshot being read)
    state.compact(spark, root)
    assert(readCounts(root) == before)
  }

  test("vacuum removes covered deltas and superseded snapshots only, " +
      "and survives a stray non-versioned directory") {
    val root = Files.createTempDirectory("graft_scmp2_").toString
    writeDelta(root, 1, Seq(("a", 1L)))
    state.compact(spark, root)
    writeDelta(root, 2, Seq(("b", 5L)))
    state.compact(spark, root)
    // two committed snapshots (s1 superseded by s2) + two covered
    // deltas; plant the ADVICE regression — a directory named exactly
    // "s" under snapshot/ aborted the whole vacuum on toLong before
    Files.createDirectories(Paths.get(s"$root/snapshot/s"))
    Files.createDirectories(Paths.get(s"$root/snapshot/sother"))
    VersionedStateRunner.vacuum(root)
    assert(!Files.isDirectory(Paths.get(s"$root/delta/d1")))
    assert(!Files.isDirectory(Paths.get(s"$root/delta/d2")))
    assert(!Files.isDirectory(Paths.get(s"$root/snapshot/s1")))
    assert(Files.isDirectory(Paths.get(s"$root/snapshot/s2")))
    // stray dirs are left alone, not parsed, not deleted
    assert(Files.isDirectory(Paths.get(s"$root/snapshot/s")))
    assert(Files.isDirectory(Paths.get(s"$root/snapshot/sother")))
    assert(readCounts(root) == Map("a" -> 1L, "b" -> 5L))
  }

  test("appends and replays after compact+vacuum read correctly: " +
      "snapshot + post-snapshot deltas, orphans invisible") {
    val root = Files.createTempDirectory("graft_scmp3_").toString
    writeDelta(root, 1, Seq(("a", 1L), ("b", 2L)))
    writeDelta(root, 2, Seq(("a", 3L)))
    state.compact(spark, root)
    VersionedStateRunner.vacuum(root)
    // a new batch lands on the compacted state: snapshot + d3
    writeDelta(root, 3, Seq(("b", 7L), ("c", 1L)))
    assert(readCounts(root) == Map("a" -> 4L, "b" -> 9L, "c" -> 1L))
    // a crash AFTER the d4 delta write but BEFORE the _current rename:
    // the orphan is invisible — the checkpoint replay recomputes batch
    // 4 from the marker's state and overwrites it, never double-counts
    writeOut(root, 4, Seq(("c", 100L)))
    Seq(("c", 100L)).toDF("k", "n").write
      .parquet(s"$root/delta/d4/counts")
    assert(readCounts(root) == Map("a" -> 4L, "b" -> 9L, "c" -> 1L))
    // the replayed batch rewrites d4 (overwrite, same version) and THEN
    // commits — exactly once semantics by marker, not by write count
    Seq(("c", 2L)).toDF("k", "n").write.mode("overwrite")
      .parquet(s"$root/delta/d4/counts")
    Marker.commit(root, "_current", 4L)
    assert(readCounts(root) == Map("a" -> 4L, "b" -> 9L, "c" -> 3L))
    // compacting the grown log folds snapshot + d3 + d4 into s4
    state.compact(spark, root)
    VersionedStateRunner.vacuum(root)
    assert(!Files.isDirectory(Paths.get(s"$root/delta/d3")))
    assert(readCounts(root) == Map("a" -> 4L, "b" -> 9L, "c" -> 3L))
  }

  test("readSub pins the declared schema: a reordered-column delta reads " +
      "by NAME into the declared order, an extra column can't leak into " +
      "the state schema, and a type-divergent delta fails loudly") {
    val root = Files.createTempDirectory("graft_scmp4_").toString
    writeDelta(root, 1, Seq(("a", 1L)))
    // delta 2 written with the columns REORDERED (n, k) plus an EXTRA
    // column: parquet fields resolve by name under the pinned schema,
    // so the read is value-identical whichever physical order a writer
    // used, and the stray column never reaches readers (under footer
    // inference, WHICH file got sampled decided the visible schema)
    writeOut(root, 2, Seq(("b", 5L)))
    Seq((5L, "b", true)).toDF("n", "k", "stray").write.mode("overwrite")
      .parquet(s"$root/delta/d2/counts")
    Marker.commit(root, "_current", 2L)
    assert(readCounts(root) == Map("a" -> 1L, "b" -> 5L))
    assert(state.copy(fold = identity).read(spark, root)._2
      .columns.toSeq == Seq("k", "n"))
    // delta 3 writes n with a DIVERGENT physical type — the pin makes
    // this fail loudly at scan (string is not convertible to long),
    // instead of the whole state silently adopting whichever layout
    // the inferred footer happened to come from
    writeOut(root, 3, Seq(("c", 0L)))
    Seq(("c", "oops")).toDF("k", "n").write.mode("overwrite")
      .parquet(s"$root/delta/d3/counts")
    Marker.commit(root, "_current", 3L)
    intercept[Exception] { readCounts(root) }
  }
}
