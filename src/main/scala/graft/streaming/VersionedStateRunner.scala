package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.store.{Marker, UpsertWriter}

/** The marker-committed, append-only state of the stateful streaming
  * families ([[StreamingDedupIndex]], [[StreamingLineDedup]],
  * [[StreamingLineStrip]], [[StreamingFrameIndex]], [[StreamingNearDup]])
  * and the one per-batch loop that grows it. A family declares its two
  * parts — the `output` (the batch's kept rows, keyed by `idCol`, stamped
  * with their batch number) and the `index` (what later batches probe) —
  * each a `(sub-directory, schema)`, plus its per-batch step.
  *
  * Layout under `stateRoot`: batch N writes exactly its own rows to
  * `delta/d<N>/<output>`, then `delta/d<N>/<index>`, and only then
  * commits the `_current` marker (atomic rename). The live state is the
  * committed snapshot `snapshot/s<c>` (c = `_compacted`) plus deltas
  * c+1 .. `_current`; anything past either marker is invisible. The
  * index part reads as `fold` of its log (a count log sums per line), so
  * per-batch state I/O is O(batch), never O(corpus).
  *
  * Crash note — the marker-last commit is the idempotent-sink half of
  * Structured Streaming's exactly-once contract:
  *  - A batch that dies after any delta write but before the marker
  *    leaves `_current` at N-1, so the checkpoint replay recomputes
  *    batch N from the OLD state and overwrites the orphan parts; the
  *    state is never half a batch ahead of the marker.
  *  - A batch that dies after the marker but before the stream's
  *    checkpoint commit replays against a state that already holds it.
  *    After `_current`, [[Backlog.eachBatch]] commits the batch's stream
  *    id to its `_state_batch` marker, so a replay on the same checkpoint
  *    finds its id there and writes nothing: no empty `delta/d<N+1>`, no
  *    new version.
  *  - A replay the id marker does not cover — a fresh checkpoint over
  *    existing state, or a crash between the two markers — runs again.
  *    The replay guard anti-joins away every id already in the output
  *    state (ids are globally unique, so a present id is by definition a
  *    replay), so the replay appends nothing — also for rows the
  *    family's own probe could never reject, such as null text, and
  *    without re-counting a replayed batch into a count index. The guard
  *    prunes the output part to its id column. The runner hands it to
  *    the family's step, which applies it once, before anything it
  *    writes is derived: to the batch, or (dedup) to its verdict rows.
  *    A family whose index holds every judged id (near-dup's key
  *    history) may guard by those ids instead, a superset.
  */
private[streaming] final case class VersionedStateRunner(
    output: (String, StructType),
    index: (String, StructType),
    idCol: String,
    fold: DataFrame => DataFrame = identity) {
  import VersionedStateRunner._

  /** The live (output, index) state and the version `_current` commits.
    * Each part is ONE multi-path scan pinned to its declared schema, not
    * a reduce of per-delta reads: the union form grew the state plan by
    * one scan subtree per committed batch, and inferring from one file's
    * footer would silently project nulls for a column a divergent delta
    * dropped. A delta whose physical types contradict the pin fails
    * loudly at scan time. Empty frames before the first commit.
    */
  def read(spark: SparkSession, stateRoot: String)
      : (DataFrame, DataFrame, Long) =
    Marker.read(stateRoot, "_current") match {
      case Some(v) if v >= 1 =>
        def sub(p: (String, StructType)) =
          spark.read.schema(p._2).parquet(subPaths(stateRoot, p._1, v): _*)
        (sub(output), fold(sub(index)), v)
      case _ =>
        def empty(p: (String, StructType)) =
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], p._2)
        (empty(output), empty(index), 0L)
    }

  /** Replay a parquet backlog with AvailableNow: per micro-batch,
    * `prepare` → `step` → the output part (batch-stamped) → the index
    * part → `_current`, under [[Backlog.eachBatch]]'s batch id marker
    * (see the crash note). `step` gets the live index, the prepared
    * batch and the replay guard (drops the rows of an id-keyed frame
    * whose id the output state holds), and returns the batch's output
    * rows and its index delta; a family that derives both from one
    * judgment materializes it inside `step`, so each write reads it
    * once. The judgment and the two writes each run under their own
    * job description.
    */
  def runAvailableNow(spark: SparkSession, sourceDir: String,
      schema: StructType, stateRoot: String, checkpointDir: String,
      maxFilesPerTrigger: Int, prepare: DataFrame => DataFrame)
      (step: (DataFrame, DataFrame, DataFrame => DataFrame)
        => (DataFrame, DataFrame))
      : Unit =
    Backlog.eachBatch(Backlog.read(spark, sourceDir, schema,
        Some(maxFilesPerTrigger)), checkpointDir) { batch =>
      val sc = batch.sparkSession.sparkContext
      val ((rows, indexDelta), v) = described(sc, "judge") {
        val prepared = prepare(batch)
        val (out, idx, version) = read(batch.sparkSession, stateRoot)
        val seen = out.select(col(idCol))
        (step(idx, prepared, _.join(seen, Seq(idCol), "left_anti")), version)
      }
      val next = v + 1
      described(sc, s"output part ${output._1}")(
        rows.withColumn("batch", lit(next)).write.mode("overwrite")
          .parquet(s"$stateRoot/delta/d$next/${output._1}"))
      described(sc, s"index part ${index._1}")(
        indexDelta.write.mode("overwrite")
          .parquet(s"$stateRoot/delta/d$next/${index._1}"))
      Marker.commit(stateRoot, "_current", next) // see the crash note
    }

  /** Fold the committed log into `snapshot/s<v>` — the index part through
    * `fold`, so a count log's snapshot is index-sized, not log-sized —
    * then commit `_compacted = v` LAST: a crash mid-compaction leaves an
    * orphan snapshot readers never see. Each part is read with its
    * footer schema, so the snapshot keeps exactly the schema on disk.
    * No-op when already compacted at the head version (re-running would
    * overwrite the snapshot being read). Run between batches, like any
    * lakehouse OPTIMIZE.
    */
  def compact(spark: SparkSession, stateRoot: String): Unit = {
    val v = Marker.read(stateRoot, "_current").getOrElse(0L)
    if (v < 1 || Marker.read(stateRoot, "_compacted").contains(v)) return
    Seq(output._1 -> identity[DataFrame] _, index._1 -> fold).foreach {
      case (sub, f) =>
        f(spark.read.parquet(subPaths(stateRoot, sub, v): _*))
          .write.mode("overwrite").parquet(s"$stateRoot/snapshot/s$v/$sub")
    }
    Marker.commit(stateRoot, "_compacted", v)
  }
}

private[streaming] object VersionedStateRunner {

  /** Run `body` under job description `desc`, then restore the one the
    * stream set for the batch. */
  private def described[A](sc: SparkContext, desc: String)(body: => A): A = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  private def subPaths(stateRoot: String, sub: String, v: Long)
      : Seq[String] = {
    val c = Marker.read(stateRoot, "_compacted").getOrElse(0L).min(v)
    val snap = if (c >= 1) Seq(s"$stateRoot/snapshot/s$c/$sub") else Seq.empty
    snap ++ ((c + 1) to v).map(i => s"$stateRoot/delta/d$i/$sub")
  }

  /** Delete the deltas the committed snapshot covers and superseded
    * older snapshots. Destructive: schedule it AFTER `compact`'s marker
    * landed; nothing ≤ `_compacted` is still read.
    */
  def vacuum(stateRoot: String): Unit = {
    val c = Marker.read(stateRoot, "_compacted").getOrElse(0L)
    (1L to c).foreach { i =>
      UpsertWriter.deleteRecursively(Paths.get(s"$stateRoot/delta/d$i"))
    }
    val snapRoot = Paths.get(s"$stateRoot/snapshot")
    if (Files.isDirectory(snapRoot)) {
      val ls = Files.list(snapRoot)
      try ls.forEach { p =>
        val n = p.getFileName.toString.stripPrefix("s")
        // a stray directory named exactly "s" passes the all-digits test
        // vacuously; without nonEmpty its toLong aborts the whole vacuum
        if (p.getFileName.toString.startsWith("s") && n.nonEmpty &&
            n.forall(_.isDigit) && n.toLong < c)
          UpsertWriter.deleteRecursively(p)
      } finally ls.close()
    }
  }
}
