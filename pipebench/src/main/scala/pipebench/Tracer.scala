package pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into the program, plus a Spark
  * listener that attributes every job inside a span to a program module by
  * the job's call site (`head at Validator.scala:90` -> validate). Spans and
  * job records stay in memory and are summarized when the run ends.
  *
  * Each span tags its thread with the `pipebench.span` local property, so
  * the jobs of two flows running at once stay apart. A job of a SQL
  * execution takes the module of the execution's call site (Spark starts
  * most of an execution's jobs on its own threads, whose call site names no
  * program file); other jobs take their own call site's, else their
  * span's.
  *
  * A streaming query pins every job's call site to the query's `start`, so
  * while attached the tracer also samples the stack of the stream's
  * execution thread every few milliseconds; a job of the streaming module
  * takes the module of the innermost program frame that thread was blocked
  * in while the job ran (a `localCheckpoint` in Dedup.scala -> operators).
  */
final class Tracer(sc: SparkContext, moduleOfFile: Map[String, String]) extends SparkListener {
  import Tracer._

  private val spanIds = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val execModule = new ConcurrentHashMap[String, String]()
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this)
    attached = true
    val t = new Thread(() => while (attached) { sampleStreamThreads(); Thread.sleep(5) },
      "pipebench-sampler")
    t.setDaemon(true)
    t.start()
  }

  def detach(): Unit = if (attached) {
    drain(sc); sc.removeSparkListener(this); attached = false
    resolveStreamingJobs()
  }

  private def sampleStreamThreads(): Unit = {
    val threads = new Array[Thread](Thread.activeCount() * 2 + 16)
    val n = Thread.enumerate(threads)
    threads.iterator.take(n).filter(_.getName.startsWith("stream execution thread")).foreach { th =>
      th.getStackTrace.iterator.flatMap(e => Option(e.getFileName).flatMap(moduleOfFile.get))
        .nextOption().foreach(m => samples.synchronized {
          samples += ((System.currentTimeMillis(), m))
        })
    }
  }

  private def resolveStreamingJobs(): Unit = {
    val ss = samples.synchronized(samples.toSeq)
    jobs.values().asScala.filter(_.module == "streaming").foreach { j =>
      val in = ss.filter { case (t, _) => t >= j.startMs && t <= j.endMs.max(j.startMs) }
      if (in.nonEmpty) j.module = in.groupBy(_._2).maxBy(_._2.size)._1
    }
  }

  /** Run `body` inside a span named `name` that belongs to `module`; its
    * parent is the span open on this thread. A no-op while detached. */
  def span[A](name: String, module: String)(body: => A): A =
    if (!attached) body else {
      val id = spanIds.incrementAndGet()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val s = Span(id, name, module, Option(prev).map(_.toLong).getOrElse(0L),
        System.currentTimeMillis(), 0L)
      try body finally {
        sc.setLocalProperty(SpanKey, prev)
        spans.synchronized { spans += s.copy(endMs = System.currentTimeMillis()) }
      }
    }

  def spanModule(id: Long): Option[String] =
    spans.synchronized(spans.find(_.id == id).map(_.module))

  private def moduleOf(callSites: Seq[String]): Option[String] =
    callSites.iterator.flatMap(cs => FileRef.findAllMatchIn(cs).map(_.group(1)))
      .collectFirst { case f if moduleOfFile.contains(f) => moduleOfFile(f) }

  // SQL executions carry the call site of the user thread that started
  // them; jobs that Spark launches on its own threads (query stages,
  // broadcasts) inherit the execution id, and through it the module
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      moduleOf(Seq(s.description, s.details)).foreach(m =>
        execModule.put(s.executionId.toString, m))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val sites = last.toSeq.flatMap(s => Seq(s.name, s.details))
    val module = exec.flatMap(x => Option(execModule.get(x)))
      .orElse(moduleOf(sites))
      .getOrElse("")
    val j = new Job(e.jobId, span, module, last.map(_.name).getOrElse(""), e.time)
    jobs.put(e.jobId, j)
    e.stageInfos.foreach(s => stageJob.put(s.stageId, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.rowsWritten += m.outputMetrics.recordsWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.rowsRead += m.inputMetrics.recordsRead
        }
        j.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
}

object Tracer {
  val SpanKey = "pipebench.span"
  private val FileRef = """([A-Za-z0-9_$]+\.scala):\d+""".r

  final case class Span(id: Long, name: String, module: String, parent: Long,
      startMs: Long, endMs: Long)

  final class Job(val id: Int, val span: Long, var module: String, val callSite: String,
      val startMs: Long) {
    @volatile var endMs = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var rowsWritten = 0L
    var bytesWritten = 0L
    var rowsRead = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PipebenchBridge.drainListenerBus(sc)

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Exclusive split of the wall time of `[startMs, endMs)` over modules:
    * at each instant the running jobs share it equally, and an instant with
    * no job running is driver gap. The parts sum to the interval exactly. */
  def split(jobsIn: Seq[Job], startMs: Long, endMs: Long, fallback: Job => String)
      : (Map[String, Double], Double) = {
    val iv = jobsIn.flatMap { j =>
      val s = j.startMs.max(startMs)
      val e = (if (j.endMs == 0L) endMs else j.endMs).min(endMs)
      if (e > s) Some((s, e, if (j.module.nonEmpty) j.module else fallback(j))) else None
    }
    val points = (iv.flatMap(x => Seq(x._1, x._2)) ++ Seq(startMs, endMs)).distinct.sorted
    val busy = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    points.sliding(2).foreach {
      case Seq(a, b) =>
        val active = iv.filter(x => x._1 <= a && x._2 >= b)
        val dt = (b - a) / 1000.0
        if (active.isEmpty) gap += dt
        else active.foreach(x => busy(x._3) += dt / active.size)
      case _ =>
    }
    (busy.toMap, gap)
  }
}
