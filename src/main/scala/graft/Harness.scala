package graft

import java.nio.file.{Files, Paths}

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

  /** Point scratch tables and streaming checkpoints at a freshly wiped
    * `/dev/shm/<name>`, so per-micro-batch WAL and commit fsyncs measure
    * memory writes, not disk latency (query semantics are untouched). A
    * preset `-Dgraft.scratch` is respected. Either way the stale fixture
    * trees of earlier runs are dropped once, before any query runs:
    * memoFixture's cache is per-JVM, so a persistent scratch root would
    * otherwise gain one tree per run.
    */
  def tmpfsScratch(name: String): Unit = {
    if (sys.props.get("graft.scratch").isEmpty &&
        new java.io.File("/dev/shm").isDirectory) {
      // tmpfs is RAM: wipe leftovers of prior runs first
      graft.store.UpsertWriter.deleteRecursively(Paths.get("/dev/shm", name))
      System.setProperty("graft.scratch", s"/dev/shm/$name")
    }
    SparkEntry.wipeStaleFixtures()
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
