package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Builder-side profiler, outside the gated Verify/Bench surface. Each named
  * registered query runs cold plus `reps` times as a noop write of its
  * delivered result, and a [[Profile.Recorder]] reports per run:
  *   - each Spark job's wall, tasks, executor time, shuffle and input
  *     bytes, and the driver gap (run wall minus the jobs' walls);
  *   - each streaming query's lifetime (started to terminated), every
  *     micro-batch's `durationMs` split and its Spark job count (jobs
  *     grouped by the `streaming.sql.batchId` local property the stream
  *     sets on each batch's jobs); the lifetime minus the summed
  *     `triggerExecution` is the per-query start/stop constant;
  *   - the distinct AQE-final plans of the SQL executions it ran,
  *     micro-batches included, read from Spark's SQL status store.
  *
  * Usage (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as for Bench):
  * {{{
  *   runMain graft.tools.Profile q141_corpus_to_packs[,q158_...] [reps] [tag]
  *   runMain graft.tools.Profile PLANS.md [reps]
  * }}}
  * With a `tag`, each query's plans also go to
  * `$SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt` (default `plans/`),
  * masked by [[planKey]], without execution ids and sorted (micro-batch
  * order may vary), so two runs of the same plans write the same file:
  * `diff` of two tags' files is the plan-identity check across
  * commits. A
  * markdown file as the first argument refreshes it in place: its
  * `## <query> — <label>` headings are the query list, and only the
  * fenced plan blocks under each heading are replaced.
  */
object Profile {

  /** `batch` is the (query id, batch id) a micro-batch job ran for. */
  final case class Job(id: Int, desc: String, wallMs: Long, tasks: Long,
      execMs: Long, shuffleWrite: Long, shuffleRead: Long, input: Long,
      batch: Option[(String, Long)])
  final case class Batch(batchId: Long, durationMs: Map[String, Long])
  final case class StreamRun(name: String, lifetimeMs: Long,
      batches: Seq[Batch], jobsPerBatch: Map[Long, Int]) {
    def constantMs: Long =
      lifetimeMs - batches.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum
  }
  final case class Execution(id: Long, description: String, plan: String)

  /** What one recorded body did. */
  final case class Run(wallNs: Long, jobs: Seq[Job], streams: Seq[StreamRun],
      executions: Seq[Execution]) {
    def gapMs: Double = wallNs / 1e6 - jobs.map(_.wallMs).sum
    def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
    def shuffleRead: Long = jobs.map(_.shuffleRead).sum
    def plans: Seq[Execution] = distinctPlans(executions)
  }

  /** Expression, plan, RDD, query-stage and codegen-stage ids, file
    * paths, size statistics, call-site line numbers, stream and
    * observation UUIDs, lambda names and numbered lambda variables differ
    * between otherwise identical plans (every micro-batch re-plans over
    * its own files, and AQE numbers stages in the order they
    * materialize); mask them before comparing. */
  def planKey(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("(file:)?/[\\w.=%:/-]+", "<path>")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
    .replaceAll("\\.scala:\\d+", ".scala:")
    .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("\\$Lambda[^@\\s,]*@[0-9a-f]+", "\\$Lambda")
    .replaceAll("(lambda \\w+)_\\d+", "$1_")
    .replaceAll("codegen id : \\d+", "codegen id : ")
    .replaceAll("(QueryStage\\n(Output [^\\n]*\\n)?Arguments: )\\d+", "$1")

  /** An execution whose AQE plan never reported its final form to the
    * status store (q135's pure-streaming file-sink micro-batches). */
  def nonFinal(e: Execution): Boolean = e.plan.contains("isFinalPlan=false")

  /** The AQE-final plans of `execs`, one per masked [[planKey]]. */
  def distinctPlans(execs: Seq[Execution]): Seq[Execution] =
    execs.filterNot(nonFinal).distinctBy(e => planKey(e.plan))

  /** One `SparkListener` and one `StreamingQueryListener` on `spark`,
    * plus its SQL status store, which keeps every execution's final
    * plan even with the UI off. [[record]] brackets a body.
    */
  final class Recorder(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    // per job: start, description, (query id, batch id) of a micro-batch
    private val jobStart =
      mutable.Map[Int, (Long, String, Option[(String, Long)])]()
    private val jobEnd = mutable.Map[Int, Long]()
    private val jobOfStage = mutable.Map[Int, Int]()
    // per job: tasks, executor ms, shuffle write, shuffle read, input
    private val totals = mutable.Map[Int, Array[Long]]()
    // by run id: name, query id, start
    private val streamStart =
      mutable.LinkedHashMap[UUID, (String, String, Long)]()
    private val streamEnd = mutable.Map[UUID, Long]()
    private val batches = mutable.ArrayBuffer[(UUID, Batch)]()

    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = locked {
        // the job description, else the result stage's call site
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        val batch = for (p <- Option(e.properties);
             q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          yield (q, b.toLong)
        jobStart(e.jobId) = (System.nanoTime(), desc.getOrElse(""), batch)
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        locked(jobEnd(e.jobId) = System.nanoTime())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
        val m = e.taskMetrics
        if (m != null) jobOfStage.get(e.stageId).foreach { j =>
          val t = totals.getOrElseUpdate(j, new Array[Long](5))
          t(0) += 1
          t(1) += m.executorRunTime
          t(2) += m.shuffleWriteMetrics.bytesWritten
          t(3) += m.shuffleReadMetrics.totalBytesRead
          t(4) += m.inputMetrics.bytesRead
        }
      }
    }

    private val streams = new StreamingQueryListener {
      // delivered synchronously inside start(), so the time is exact
      override def onQueryStarted(e: QueryStartedEvent): Unit = locked {
        streamStart(e.runId) = (Option(e.name).getOrElse(e.id.toString),
          e.id.toString, System.nanoTime())
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = locked {
        val p = e.progress
        batches += p.runId -> Batch(p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        locked(streamEnd(e.runId) = System.nanoTime())
    }

    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)

    private def locked[A](body: => A): A = synchronized(body)

    /** Wait until the listener bus has delivered every posted event
      * (`listenerBus` is private[spark], public in bytecode). */
    def drain(): Unit =
      try {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Exception => Thread.sleep(800) }

    private def executions(after: Long): Seq[Execution] =
      spark.sharedState.statusStore.executionsList()
        .filter(_.executionId > after).sortBy(_.executionId)
        .map(e => Execution(e.executionId,
          e.description.split("\\s+").filter(_.nonEmpty).mkString(" "),
          e.physicalPlanDescription))

    /** Run `body`, timed between two bus drains, and return what it did. */
    def record[A](body: => A): (A, Run) = {
      drain()
      val before = executions(-1L).lastOption.fold(-1L)(_.id)
      locked {
        Seq(jobStart, jobEnd, jobOfStage, totals, streamStart, streamEnd)
          .foreach(_.clear())
        batches.clear()
      }
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      drain()
      val run = locked {
        val js = jobStart.toSeq.sortBy(_._1).map { case (id, (t, desc, b)) =>
          val x = totals.getOrElse(id, new Array[Long](5))
          Job(id, desc, jobEnd.get(id).fold(-1L)(e => (e - t) / 1000000L),
            x(0), x(1), x(2), x(3), x(4), b)
        }
        val ss = streamStart.toSeq.map { case (id, (name, query, t)) =>
          StreamRun(name, streamEnd.get(id).fold(-1L)(e => (e - t) / 1000000L),
            batches.collect { case (`id`, b) => b }.toSeq,
            js.flatMap(_.batch).collect { case (`query`, b) => b }
              .groupBy(identity).view.mapValues(_.size).toMap)
        }
        Run(wallNs, js, ss, executions(before))
      }
      (out, run)
    }

    def close(): Unit = {
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
    }
  }

  /** Cold run plus `reps` reps of `name`'s delivered result as a noop
    * write, each printed as it completes; returns the distinct plans of
    * all of them. */
  def profile(rec: Recorder, spark: SparkSession, sfDir: String,
      name: String, reps: Int): Seq[Execution] = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val runs = (0 to reps).map { rep =>
      val label = if (rep == 0) "cold" else s"rep$rep"
      val (_, run) = rec.record(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      report(name, label, run)
      run
    }
    graft.Harness.wipeScratch()
    distinctPlans(runs.flatMap(_.executions))
  }

  private def report(name: String, label: String, r: Run): Unit = {
    println(f"[profile] ==== $name $label wall=${r.wallNs / 1e9}%.2f s " +
      f"jobs=${r.jobs.length} gap=${r.gapMs / 1e3}%.2f s (driver/planning) " +
      f"executions=${r.executions.length} plans=${r.plans.length} " +
      f"nonFinal=${r.executions.count(nonFinal)}")
    r.jobs.sortBy(-_.wallMs).take(30).foreach { j =>
      println(f"[profile]   job ${j.id}%4d ${j.wallMs}%6d ms " +
        f"tasks=${j.tasks}%4d exec=${j.execMs}%5d ms " +
        f"sw=${j.shuffleWrite / 1024}%6d KiB sr=${j.shuffleRead / 1024}%6d KiB " +
        f"in=${j.input / 1024}%6d KiB  ${j.desc.replace('\n', ' ').take(80)}")
    }
    r.streams.foreach { s =>
      println(s"[profile]   stream ${s.name} lifetime=${s.lifetimeMs} ms " +
        s"batches=${s.batches.length} constant=${s.constantMs} ms " +
        "jobs/batch=" + s.jobsPerBatch.toSeq.sorted
          .map { case (b, n) => s"$b:$n" }.mkString(" "))
      s.batches.foreach { b =>
        println(s"[profile]     batch ${b.batchId} " + b.durationMs.toSeq
          .sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    }
  }

  /** One fenced block per plan, each capped at 6,000 characters. */
  private def blocks(plans: Seq[Execution]): Seq[String] = plans.map { e =>
    s"```\n-- execution ${e.id}: ${e.description}\n${e.plan.take(6000)}\n```"
  }

  /** Refresh a plan document in place: the preamble and any prose under
    * a heading stay; each heading's fenced blocks become the distinct
    * plans of that query's runs. */
  def refreshPlans(rec: Recorder, spark: SparkSession, sfDir: String,
      doc: Path, reps: Int): Unit = {
    val lines = Files.readAllLines(doc).asScala.toVector
    val heads = lines.indices.filter(lines(_).startsWith("## "))
    val sections = heads.zip(heads.drop(1) :+ lines.length).map {
      case (from, until) =>
        val name = lines(from).stripPrefix("## ").takeWhile(_ != ' ')
        val fresh = blocks(profile(rec, spark, sfDir, name, reps))
          .mkString("\n\n")
        val out = mutable.ArrayBuffer(lines(from))
        var inFence, placed = false
        for (l <- lines.slice(from + 1, until)) {
          if (l.startsWith("```")) {
            if (!inFence && !placed) { out += fresh; placed = true }
            inFence = !inFence
          } else if (!inFence && !(l.isEmpty && out.last.isEmpty)) out += l
        }
        if (!placed) out ++= Seq("", fresh)
        out.mkString("\n")
    }
    val text = (lines.take(heads.headOption.getOrElse(lines.length)) ++
      sections).mkString("\n")
    Files.writeString(doc, text + "\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile q<name>[,q<name>...]|<plans.md> [reps] [tag]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${sys.props("user.home")}/testdata/sf0.1")
    val reps = args.lift(1).fold(2)(_.toInt)
    graft.Harness.tmpfsScratch("graft_profile")
    val spark = graft.Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    graft.GraftExtensions.install(spark)
    val rec = new Recorder(spark)
    try {
      if (args(0).endsWith(".md"))
        refreshPlans(rec, spark, sfDir, Paths.get(args(0)), reps)
      else for (name <- args(0).split(",")) {
        val plans = profile(rec, spark, sfDir, name, reps)
        args.lift(2).foreach { tag =>
          val dir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans"))
          Files.createDirectories(dir)
          val p = dir.resolve(s"${name}_$tag.txt")
          Files.writeString(p, plans.map(e =>
              planKey(s"-- ${e.description}\n${e.plan}")).sorted
            .mkString("", "\n\n", "\n"))
          println(s"[profile] wrote $p (${plans.length} plans)")
        }
      }
    } finally {
      rec.close()
      spark.stop()
    }
  }
}
