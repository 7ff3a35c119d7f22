package pipebench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.Properties
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.pipeline.Flow
import graft.streaming.StreamingDedupIndex
import graft.warehouse.DataTests

/** The benchmark's JVM side. It drives the program only through its public
  * entry points (`Flow.etlFlow` / `runModels` / `runDataTests` and
  * `StreamingDedupIndex.runAvailableNow`), times each operation to its
  * delivered result (written warehouse tables, committed dedup state) and
  * records what the output checks need. `run.py` generates the inputs,
  * launches this, checks the outputs and prints the metrics.
  *
  * Usage: `Main <params.properties>`; the properties name the workload, the
  * seconds to measure, the trace flag, the generated-input directory and the
  * result file.
  */
object Main {

  final case class Op(index: Int, label: String, startMs: Long, wallS: Double,
      traced: Boolean, error: Option[String], info: Map[String, Any])

  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Long])]
    @volatile var drain = 0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.synchronized {
        batches += ((drain.toLong, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
  }

  /** Progress on stderr, in seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"[pipebench] $msg at " +
    f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  def main(args: Array[String]): Unit = {
    val props = new Properties()
    val in = new FileInputStream(args(0))
    try props.load(in) finally in.close()
    def prop(k: String): String = Option(props.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
    val workload = prop("workload")
    val seconds = prop("seconds").toDouble
    val trace = prop("trace") == "1"
    val data = prop("data")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.warehouse.dir", s"$data/spark-warehouse")
      .getOrCreate()
    val sessionUpS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val modules = prop("modules").split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    log("session up")
    val tracer = new Tracer(spark.sparkContext, modules)
    val progress = new Progress
    spark.streams.addListener(progress)

    val bench = new Bench(spark, props, tracer, progress, seconds, trace)
    val result = workload match {
      case "daily_incremental" => bench.daily()
      case "backfill" => bench.backfill()
      case "stream_dedup" => bench.streamDedup()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spans = if (!trace) Map.empty else Map(
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "module" -> s.module, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> tracer.jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
        "span" -> j.span, "module" -> j.module, "call_site" -> j.callSite,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks, "run_ms" -> j.runMs)))
    val out = result ++ spans ++ Map("session_up_s" -> sessionUpS, "peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(prop("out")), Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }

  private def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
}

final class Bench(spark: SparkSession, props: Properties, tracer: Tracer,
    progress: Main.Progress, seconds: Double, trace: Boolean) {
  import Main.Op

  private def prop(k: String): String = props.getProperty(k)
  private val data = prop("data")
  private val fault = Option(prop("fault")).map(_.toInt).getOrElse(-1)
  private val chunkSize = Option(prop("chunk_size")).map(_.toInt).getOrElse(500)
  // a run stops starting new operations past this, whatever `seconds` says
  private val hardCapS = 120.0

  /** Closed loop: the next operation starts when the previous one returned.
    * Runs at least `minOps`. In a traced run operation 0 and every even
    * operation run untraced, the odd ones traced, so the difference between
    * the two sets is the tracing overhead; traced runs make four, so the
    * traced pair brackets the untraced one while the JIT still warms. */
  private def loop(minOps: Int, maxOps: Int, opModule: String, fetchNanos: () => Long = () => 0L)
      (body: Int => (String, Map[String, Any]))
      (after: (Int, Map[String, Any]) => Map[String, Any]): Seq[Op] = {
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < maxOps && (i < minOps || elapsed < seconds) && elapsed < hardCapS) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.attach()
      val (gc0, cg0, f0, cpu0) = (Tracer.gcMillis(), codegen.getCount, fetchNanos(), cpuNanos())
      val startMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val r = Try(tracer.span("op", opModule)(body(i)))
      val wall = (System.nanoTime() - s) / 1e9
      val counters = Map[String, Any]("gc_ms" -> (Tracer.gcMillis() - gc0),
        "codegen_compiles" -> (codegen.getCount - cg0),
        "fetch_ms" -> (fetchNanos() - f0) / 1000000L, "cpu_s" -> (cpuNanos() - cpu0) / 1e9)
      tracer.detach()
      val (label, info0) = r.getOrElse((s"op$i", Map.empty[String, Any]))
      val info = info0 ++ counters
      val err = r.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      val checked = if (err.isEmpty) Try(after(i, info)).getOrElse(info) else info
      ops += Op(i, label, startMs, wall, traced, err, checked)
      i += 1
    }
    ops.toSeq
  }

  /** CPU time of the whole process: driver, executor and JVM threads. */
  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def opsJson(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map { o =>
    Map("index" -> o.index, "label" -> o.label, "wall_s" -> o.wallS, "traced" -> o.traced,
      "error" -> o.error.orNull) ++ o.info
  }

  // ------------------------------------------------------------ securities

  private def source(fault: Int = fault): WideParquetSource = {
    val chunks = Seq("sp_stocks", "fx").map { cat =>
      val n = prop(s"chunks.$cat").toInt
      cat -> (0 until n).map(i =>
        (prop(s"chunk.$cat.$i.file"), prop(s"chunk.$cat.$i.symbols").split(",").toSeq))
    }.toMap
    new WideParquetSource(s"$data/raw", chunks, fault)
  }

  private val flowPool = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "pipebench-flow"); t.setDaemon(true); t
  })
  private implicit val flowEc: ExecutionContext = ExecutionContext.fromExecutor(flowPool)

  /** Both asset flows at once (two deployments in the reference), then the
    * dbt stage and the DQ suite; returns the suite's results. */
  private def securitiesRun(src: WideParquetSource, lake: String, dw: String,
      start: LocalDate, end: LocalDate): Seq[DataTests.CheckResult] = {
    etlFlows(src, lake, dw, start, end)
    tracer.span("run_models", "warehouse")(Flow.runModels(spark, dw))
    tracer.span("run_data_tests", "warehouse")(Flow.runDataTests(spark, dw))
  }

  private def etlFlows(src: WideParquetSource, lake: String, dw: String,
      start: LocalDate, end: LocalDate): Unit = {
    // pool threads keep the local properties of whenever they were created;
    // hand them the caller's span so the flow spans hang under it
    val parent = spark.sparkContext.getLocalProperty(Tracer.SpanKey)
    val flows = Seq("sp_stocks", "fx").map { cat =>
      Future {
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, parent)
        tracer.span(s"etl_flow.$cat", "pipeline") {
          Flow.etlFlow(spark, src, lake, dw, cat, Some(start), Some(end), today = end,
            chunkSize = chunkSize)
        }
      }
    }
    val done = flows.map(f => Try(Await.result(f, Duration.Inf)))
    done.foreach(_.get)
  }

  private def dqJson(rs: Seq[DataTests.CheckResult]): Seq[Map[String, Any]] =
    rs.map(r => Map("table" -> r.table, "check" -> r.check, "column" -> r.column,
      "violations" -> r.violations))

  private def tableHash(path: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
  }

  def daily(): Map[String, Any] = {
    val src = source()
    val (lake, dw) = (s"$data/lake", s"$data/dw")
    val days = prop("days").split(",").map(LocalDate.parse).toSeq
    val span = days.take(if (trace) 4 else 2)
    // fct_prices holds one row per price-history row
    var rows = prop("history_rows").toLong
    // untimed, first: the program's own backfill over the span the daily
    // runs will cover, from the same starting lake and warehouse, for the
    // checks to compare with. It pays the process's cold start, so every
    // timed daily run is a warm one.
    val (bfLake, bfDw) = (s"$data/backfill/lake", s"$data/backfill/dw")
    copyTree(lake, bfLake)
    copyTree(dw, bfDw)
    val bfStart = System.nanoTime()
    val bfError = Try(securitiesRun(source(fault = -1), bfLake, bfDw, span.head, span.last))
      .failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val bfWallS = (System.nanoTime() - bfStart) / 1e9
    Main.log("backfill over the daily span done")
    val ops = loop(span.size, span.size, "pipeline", () => src.fetchNanos) { i =>
      val dq = securitiesRun(src, lake, dw, span(i), span(i))
      (span(i).toString, Map("dq" -> dqJson(dq)))
    } { (_, info) =>
      val now = spark.read.parquet(s"$dw/fct_prices").count()
      val changed = now - rows
      rows = now
      info ++ Map("fct_rows" -> now, "rows_changed" -> changed)
    }
    Main.log(s"${ops.size} daily runs done")
    flowPool.shutdown()
    Map("workload" -> "daily_incremental", "ops" -> opsJson(ops),
      "backfill" -> Map("dw" -> bfDw, "end" -> span.last.toString, "error" -> bfError.orNull,
        "wall_s" -> bfWallS)) ++
      (if (trace) Map("trace" -> securitiesTrace(ops)) else Map.empty)
  }

  def backfill(): Map[String, Any] = {
    val src = source()
    val days = prop("days").split(",").map(LocalDate.parse).toSeq
    val ops = loop(4, 1000, "pipeline", () => src.fetchNanos) { i =>
      val root = s"$data/backfill/op$i"
      val dq = securitiesRun(src, s"$root/lake", s"$root/dw", days.head, days.last)
      ("backfill", Map("dq" -> dqJson(dq), "root" -> root))
    } { (i, info) =>
      val root = info("root").toString
      val (fctRows, fctHash) = tableHash(s"$root/dw/fct_prices")
      val (dimRows, dimHash) = tableHash(s"$root/dw/dim_symbols")
      // keep only the newest output on disk; the checks compare every
      // operation's content hash with the one checked in full
      if (i > 0) deleteTree(s"$data/backfill/op${i - 1}")
      info ++ Map("fct_rows" -> fctRows, "fct_hash" -> fctHash, "dim_rows" -> dimRows,
        "dim_hash" -> dimHash, "rows_changed" -> fctRows)
    }
    flowPool.shutdown()
    Map("workload" -> "backfill", "ops" -> opsJson(ops)) ++
      (if (trace) Map("trace" -> securitiesTrace(ops)) else Map.empty)
  }

  // -------------------------------------------------------------- streaming

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def streamDedup(): Map[String, Any] = {
    val docs = s"$data/docs"
    // the reference answer first, untimed: the batch replay also warms the
    // dedup operators the drains run
    val replay = batchReplay(docs)
    Files.write(Paths.get(s"$data/replay_accepted.txt"),
      replay.sorted.mkString("\n").getBytes("UTF-8"))
    Main.log("batch replay done")
    val ops = loop(if (trace) 4 else 3, 1000, "streaming") { i =>
      val root = s"$data/stream/drain$i"
      progress.drain = i
      StreamingDedupIndex.runAvailableNow(spark, docs, docSchema, s"$root/state",
        s"$root/checkpoint", threshold = 0.3, maxFilesPerTrigger = 1)
      ("drain", Map("root" -> root))
    } { (i, info) =>
      Tracer.drain(spark.sparkContext)
      val root = info("root").toString
      val acc = StreamingDedupIndex.readState(spark, s"$root/state")._1
      val r = acc.agg(count(lit(1)), sum(xxhash64(col("doc_id")).cast("decimal(38,0)"))).head()
      val (files, bytes) = dirStats(s"$root/state")
      if (i > 0) deleteTree(s"$data/stream/drain${i - 1}")
      info ++ Map("accepted" -> r.getLong(0), "accepted_hash" -> r.getDecimal(1).longValue,
        "state_files" -> files, "state_bytes" -> bytes)
    }
    Tracer.drain(spark.sparkContext)
    Main.log(s"${ops.size} drains done")
    val batches = progress.batches.synchronized(progress.batches.toSeq)
    Map("workload" -> "stream_dedup", "ops" -> opsJson(ops),
      "batches" -> batches.map { case (d, n, dur) =>
        Map("drain" -> d, "num_input_rows" -> n, "duration_ms" -> dur) }) ++
      (if (trace) Map("trace" -> streamTrace(ops, batches)) else Map.empty)
  }

  /** The reference answer for the stream: the same files, in the same order,
    * through the batch `Dedup.dedupIndexAddBatch`. */
  private def batchReplay(docs: String): Seq[Long] = {
    val files = Files.list(Paths.get(docs)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], docSchema)
    var index: DataFrame = Dedup.dedupIndexKeys(empty).localCheckpoint()
    files.flatMap { f =>
      val (acc, next) = Dedup.dedupIndexAddBatch(index, spark.read.schema(docSchema).parquet(f))
      val ids = acc.select("doc_id").collect().map(_.getLong(0)).toSeq
      index = next.localCheckpoint()
      ids
    }
  }

  private def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val files = Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally files.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val files = Files.walk(src)
    try files.iterator().asScala.foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally files.close()
  }

  private def dirStats(root: String): (Long, Long) = {
    val files = Files.walk(Paths.get(root))
    try {
      val fs = files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally files.close()
  }

  // ------------------------------------------------------------- per layer

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private case class OpTrace(op: Op, span: Tracer.Span, jobs: Seq[Tracer.Job],
      busy: Map[String, Double], gap: Double)

  private def tracedOps(ops: Seq[Op], opModule: String): Seq[OpTrace] = {
    val opSpans = tracer.spans.filter(_.name == "op").sortBy(_.startMs)
    val all = tracer.jobs.values().asScala.toSeq
    ops.filter(o => o.traced && o.error.isEmpty).flatMap { o =>
      opSpans.find(s => s.startMs >= o.startMs).map { s =>
        val js = all.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
        val fallback = (j: Tracer.Job) =>
          tracer.spanModule(j.span).filter(_ != "").getOrElse(opModule)
        val (busy, gap) = Tracer.split(js, s.startMs, s.endMs, fallback)
        OpTrace(o, s, js, busy, gap)
      }
    }
  }

  private def overheadPct(ops: Seq[Op]): Double = {
    val ok = ops.filter(o => o.error.isEmpty && o.index > 0)
    val t = median(ok.filter(_.traced).map(_.wallS))
    val u = median(ok.filterNot(_.traced).map(_.wallS))
    if (u > 0) (t / u - 1.0) * 100.0 else 0.0
  }

  private val modules = Seq("pipeline", "sources", "transform", "validate", "store",
    "warehouse", "streaming", "operators")

  /** Per-operation means over the traced operations. */
  private def common(ts: Seq[OpTrace], ops: Seq[Op]): Map[String, Double] = {
    val n = ts.size.max(1).toDouble
    def perOp(f: OpTrace => Double) = ts.map(f).sum / n
    def jobSum(f: Tracer.Job => Double) = perOp(_.jobs.map(f).sum)
    def mod(m: String) = (t: OpTrace) => t.jobs.filter(j => moduleOf(t, j) == m)
    val byModule = modules.flatMap { m =>
      Seq(s"$m.busy_s" -> perOp(_.busy.getOrElse(m, 0.0)),
        s"$m.jobs" -> perOp(t => mod(m)(t).size.toDouble))
    }.toMap
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    byModule ++ Map(
      "op_s" -> perOp(_.op.wallS),
      "driver_gap_s" -> perOp(_.gap),
      "spark.jobs" -> perOp(_.jobs.size.toDouble),
      "spark.tasks" -> jobSum(_.tasks.toDouble),
      "spark.executor_run_s" -> jobSum(_.runMs / 1000.0),
      "spark.gc_s" -> perOp(_.op.info.getOrElse("gc_ms", 0L).asInstanceOf[Long] / 1000.0),
      "spark.shuffle_read_bytes" -> jobSum(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> jobSum(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> jobSum(_.spill.toDouble),
      "spark.failed_tasks" -> jobSum(_.failedTasks.toDouble),
      "spark.codegen_compiles" -> perOp(_.op.info.getOrElse("codegen_compiles", 0L)
        .asInstanceOf[Long].toDouble),
      "spark.codegen_compile_ms" -> perOp(_.op.info.getOrElse("codegen_compiles", 0L)
        .asInstanceOf[Long] * compiles.getSnapshot.getMean),
      "trace.overhead_pct" -> overheadPct(ops),
      "trace.ops" -> ts.size.toDouble)
  }

  private def moduleOf(t: OpTrace, j: Tracer.Job): String =
    if (j.module.nonEmpty) j.module
    else tracer.spanModule(j.span).filter(_ != "").getOrElse(t.span.module)

  private def within(t: OpTrace, name: String): Seq[Tracer.Span] =
    tracer.spans.filter(s => s.name.startsWith(name) && s.startMs >= t.span.startMs &&
      s.endMs <= t.span.endMs).toSeq

  private def securitiesTrace(ops: Seq[Op]): Map[String, Double] = {
    val ts = tracedOps(ops, "pipeline")
    val n = ts.size.max(1).toDouble
    def perOp(f: OpTrace => Double) = ts.map(f).sum / n
    def spanS(t: OpTrace, name: String) = {
      val ss = within(t, name)
      if (ss.isEmpty) 0.0 else (ss.map(_.endMs).max - ss.map(_.startMs).min) / 1000.0
    }
    def storeJobs(t: OpTrace) = t.jobs.filter(j => moduleOf(t, j) == "store")
    val changed = perOp(_.op.info.getOrElse("rows_changed", 0L).asInstanceOf[Long].toDouble)
    val stored = perOp(t => storeJobs(t).map(_.rowsWritten).sum.toDouble)
    val whScanned = perOp { t =>
      val ws = within(t, "run_models") ++ within(t, "run_data_tests")
      t.jobs.filter(j => ws.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
        .map(_.rowsRead).sum.toDouble
    }
    common(ts, ops) ++ Map(
      "pipeline.etl_flow_s" -> perOp(spanS(_, "etl_flow")),
      "pipeline.driver_gap_s" -> perOp(_.gap),
      "sources.fetch_s" -> perOp(_.op.info.getOrElse("fetch_ms", 0L).asInstanceOf[Long] / 1000.0),
      "store.rows_written" -> stored,
      "store.bytes_written" -> perOp(t => storeJobs(t).map(_.bytesWritten).sum.toDouble),
      "store.write_amp" -> (if (changed > 0) stored / changed else 0.0),
      "warehouse.models_s" -> perOp(spanS(_, "run_models")),
      "warehouse.dq_s" -> perOp(spanS(_, "run_data_tests")),
      "warehouse.rows_scanned_per_row_changed" -> (if (changed > 0) whScanned / changed else 0.0))
  }

  private def streamTrace(ops: Seq[Op], batches: Seq[(Long, Long, Map[String, Long])])
      : Map[String, Double] = {
    val ts = tracedOps(ops, "streaming")
    val tracedDrains = ts.map(_.op.index.toLong).toSet
    val bs = batches.filter(b => tracedDrains.contains(b._1))
    def dur(k: String) = median(bs.map(_._3.getOrElse(k, 0L).toDouble))
    val slopes = bs.groupBy(_._1).values.map { d =>
      val y = d.map(_._3.getOrElse("triggerExecution", 0L).toDouble)
      val x = y.indices.map(_.toDouble)
      val (mx, my) = (x.sum / x.size, y.sum / y.size)
      val den = x.map(v => (v - mx) * (v - mx)).sum
      if (den == 0) 0.0 else x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / den
    }.toSeq
    val n = ts.size.max(1).toDouble
    def perOp(f: OpTrace => Double) = ts.map(f).sum / n
    // every doc of the backlog is judged once per drain (a batch's
    // numInputRows counts each re-read of the batch, so it is not used)
    val judged = prop("docs_total").toDouble
    def opJobs(t: OpTrace) = t.jobs.filter(j => moduleOf(t, j) == "operators")
    val skew: Seq[Double] = ts.flatMap(opJobs).flatMap(_.taskMs.values).filter(_.size >= 4)
      .map(xs => xs.max.toDouble / median(xs.map(_.toDouble).toSeq).max(1.0))
    common(ts, ops) ++ Map(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.state_files" -> perOp(_.op.info.getOrElse("state_files", 0L).asInstanceOf[Long].toDouble),
      "streaming.state_bytes" -> perOp(_.op.info.getOrElse("state_bytes", 0L).asInstanceOf[Long].toDouble),
      "streaming.batch_ms_slope" -> (if (slopes.isEmpty) 0.0 else slopes.sum / slopes.size),
      "operators.shuffle_bytes_per_doc" ->
        (if (judged > 0) perOp(t => opJobs(t).map(_.shuffleWrite).sum.toDouble) / judged else 0.0),
      "operators.task_skew" -> (if (skew.isEmpty) 0.0 else skew.max),
      "operators.accept_ratio" ->
        (if (judged > 0) perOp(_.op.info.getOrElse("accepted", 0L).asInstanceOf[Long].toDouble) / judged
         else 0.0))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
}
