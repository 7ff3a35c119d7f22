package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one session and scratch setup the builder mains (Bench, Verify,
  * ScaleSmoke, LearnSweep, tools.Profile) share.
  */
object Harness {

  /** `local[cpus]` with one shuffle partition per core, the minimum
    * streaming checkpoint history, UTC and no UI. Graft extensions are
    * left to the caller: ScaleSmoke's encode-vs-count row needs the
    * naive plan.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Point scratch tables and streaming checkpoints at a fresh tmpfs
    * `/dev/shm/<name>/<pid>` (WAL and commit fsyncs at memory speed) and
    * return it. Concurrent runs of one main keep their own: a sibling is
    * removed only once its pid is dead. A preset `-Dgraft.scratch` is
    * respected (None). Either way stale fixture trees are dropped once:
    * memoFixture's cache is per-JVM.
    */
  def tmpfsScratch(name: String): Option[Path] = {
    val root = Paths.get("/dev/shm", name)
    val self = ProcessHandle.current().pid()
    val set = Option.when(sys.props.get("graft.scratch").isEmpty &&
        Files.isDirectory(root.getParent)) {
      val ls = Files.list(Files.createDirectories(root))
      try ls.forEach { p =>
        if (p.getFileName.toString.toLongOption.exists(pid =>
            pid == self || !ProcessHandle.of(pid).filter(_.isAlive).isPresent))
          graft.store.UpsertWriter.deleteRecursively(p)
      } finally ls.close()
      System.setProperty("graft.scratch", root.resolve(self.toString).toString)
      root.resolve(self.toString)
    }
    SparkEntry.wipeStaleFixtures()
    set
  }

  /** Per-query scratch wipe: each query's temp tables and checkpoints are
    * ephemeral, except the `fixtures/` child, whose memoized trees are
    * shared across queries by design (q115's centroids feed q116–q118).
    */
  def wipeScratch(): Unit = sys.props.get("graft.scratch").foreach { root =>
    val d = Paths.get(root)
    if (Files.isDirectory(d)) {
      val ls = Files.list(d)
      try ls.forEach { p =>
        if (p.getFileName.toString != "fixtures")
          graft.store.UpsertWriter.deleteRecursively(p)
      } finally ls.close()
    }
  }
}
