package graft.streaming

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.{SparkEntry, SparkSpec}

/** The parquet committer every write uses, except that job setup throws
  * for the one output directory [[CrashingCommitter.armed]] names — a
  * process dying right before that write. Installed per case through
  * `spark.sql.parquet.output.committer.class`, so the program under test
  * carries no fault-injection hook.
  */
class CrashingCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def setupJob(job: JobContext): Unit = {
    if (CrashingCommitter.armed.contains(out.toUri.getPath))
      throw new IOException(s"${CrashingCommitter.message} $out")
    super.setupJob(job)
  }
}

object CrashingCommitter {
  val message = "injected crash before writing"
  @volatile var armed: Option[String] = None
}

/** The [[VersionedStateRunner]] crash matrix, run over every
  * marker-committed family. Each case drains a one-file backlog, adds a
  * second, later-mtime file, and leaves the state a crash between the
  * delta parts of batch 2 and its `_current` commit leaves behind:
  *  - only the first part of `delta/d2` (a real crash, injected as the
  *    second part's write starts), then overwritten with wrong rows;
  *  - all parts, filled with wrong rows.
  * Re-running on the same checkpoint must give a state row-identical to
  * an uninterrupted two-file run. The wrong rows are the whole reference
  * state, so a runner that read an orphan part would double batch-1 rows
  * and guard away every batch-2 id. A crash after the marker but before
  * the checkpoint commit is covered by a replay on a fresh checkpoint,
  * which must append nothing.
  */
class VersionedStateCrashSpec extends SparkSpec {
  import spark.implicits._

  private case class Family(name: String, parts: (String, String),
      run: (String, String, String) => Unit,
      read: String => (DataFrame, DataFrame, Long))

  private lazy val backlog = SparkEntry.slicedBacklog(spark,
    Files.createTempDirectory("graft_crash_backlog_").toString, Seq(
      Seq(
        (10L, "the quick brown fox jumps over the lazy dog\nshared one"),
        (20L, "the quick brown fox jumps over the lazy dog\nbeta two"),
        (30L, "nav home about\nsome clean unrelated words here")),
      Seq(
        (5L, "the quick brown fox jumps over the lazy dog\nshared one"),
        (40L, "nav home about\nentirely novel content for batch two"),
        (60L, "gamma three\nbeta two")))
      .map(_.toDF("doc_id", "text").withColumn("source",
        org.apache.spark.sql.functions.lit("web"))))

  private val families = Seq(
    Family("StreamingDedupIndex", ("accepted", "keys"),
      (src, state, ckpt) => StreamingDedupIndex.runAvailableNow(spark, src,
        backlog._2, state, ckpt),
      StreamingDedupIndex.readState(spark, _)),
    Family("StreamingLineDedup", ("cleaned", "lines"),
      (src, state, ckpt) => StreamingLineDedup.runAvailableNow(spark, src,
        backlog._2, state, ckpt),
      StreamingLineDedup.readState(spark, _)),
    Family("StreamingLineStrip", ("cleaned", "counts"),
      (src, state, ckpt) => StreamingLineStrip.runAvailableNow(spark, src,
        backlog._2, state, ckpt, minDocs = 2),
      StreamingLineStrip.readState(spark, _)),
    Family("StreamingFrameIndex", ("stats", "digests"),
      (src, state, ckpt) => StreamingFrameIndex.runAvailableNow(spark, src,
        backlog._2, state, ckpt, frameBytes = 4),
      StreamingFrameIndex.readState(spark, _)))

  /** Both parts of the live state as sorted row strings. */
  private def rows(st: (DataFrame, DataFrame, Long)): Seq[Seq[String]] =
    Seq(st._1, st._2).map(_.collect().map(_.toString).toSeq.sorted)

  /** Copy backlog file `i` into `src`, keeping its pinned mtime. */
  private def arrive(src: String, i: Int): Unit = {
    val f = Paths.get(backlog._1).resolve(f"b$i%02d.parquet")
    Files.createDirectories(Paths.get(src))
    Files.copy(f, Paths.get(src).resolve(f.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES)
  }

  private val references =
    collection.mutable.Map.empty[String, (String, Seq[Seq[String]])]

  /** The uninterrupted two-file run of `f`: its root and state rows. */
  private def reference(f: Family): (String, Seq[Seq[String]]) =
    references.getOrElseUpdate(f.name, {
      val root = Files.createTempDirectory("graft_crash_ref_").toString
      f.run(backlog._1, s"$root/state", s"$root/ckpt")
      (root, rows(f.read(s"$root/state")))
    })

  private def withCommitter[A](body: => A): A = {
    val key = "spark.sql.parquet.output.committer.class"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[CrashingCommitter].getName)
    try body finally {
      CrashingCommitter.armed = None
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  families.foreach { f =>
    test(s"${f.name}: a crash between the delta parts and the marker " +
        "replays to the uninterrupted state") {
      val (refRoot, expected) = reference(f)
      val (first, index) = f.parts
      Seq(1, 2).foreach { written =>
        val root = Files.createTempDirectory("graft_crash_").toString
        val (src, state, ckpt) = (s"$root/src", s"$root/state", s"$root/ckpt")
        arrive(src, 0)
        f.run(src, state, ckpt)
        val oneFile = rows(f.read(state))
        arrive(src, 1)
        if (written == 1) withCommitter {
          // the process dies as batch 2 starts its second part: the first
          // part is on disk, the marker must not have moved
          CrashingCommitter.armed = Some(s"$state/delta/d2/$index")
          val ex = intercept[StreamingQueryException] {
            f.run(src, state, ckpt)
          }
          def chain(t: Throwable): Seq[Throwable] =
            if (t == null) Nil else t +: chain(t.getCause)
          assert(chain(ex).exists(c => String.valueOf(c.getMessage)
            .contains(CrashingCommitter.message)), s"unexpected failure: $ex")
          assert(Files.isDirectory(Paths.get(s"$state/delta/d2/$first")))
          assert(f.read(state)._3 == 1L, "the marker moved before the " +
            "index part was written")
          assert(rows(f.read(state)) == oneFile)
        }
        // the orphan parts hold wrong rows: the whole reference state
        val (refOut, refIndex, _) = f.read(s"$refRoot/state")
        Seq(first -> refOut, index -> refIndex).take(written).foreach {
          case (sub, df) =>
            df.write.mode("overwrite").parquet(s"$state/delta/d2/$sub")
        }
        assert(rows(f.read(state)) == oneFile)
        f.run(src, state, ckpt)
        assert(rows(f.read(state)) == expected,
          s"after a crash with $written of 2 parts written")
      }
    }

    test(s"${f.name}: a crash after the marker, replayed on a fresh " +
        "checkpoint, appends nothing") {
      val (root, expected) = reference(f)
      f.run(backlog._1, s"$root/state", s"$root/ckpt_fresh")
      assert(rows(f.read(s"$root/state")) == expected)
    }
  }
}
