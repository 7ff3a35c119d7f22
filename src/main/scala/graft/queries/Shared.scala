package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Helpers that more than one query family uses, kept as one copy: the
  * table loader, scratch and memoized-fixture allocation, the streaming
  * backlog writers and session-conf scope, the quality keep gate, and
  * the DuckDB fragments that mirror `TextFunctions` (tokens, shingles,
  * the portable 32-bit hash, the MinHash signature terms).
  */
private[graft] object Shared {

  /** Table loader. `events.ts` has shipped under two physical parquet
    * types across testdata generations, so branch on the READ schema
    * rather than hard-coding either era:
    *  - INT64 TIMESTAMP(NANOS): Spark's reader rejects it by default —
    *    `legacy.parquet.nanosAsLong` surfaces it as a raw-nanos LongType,
    *    which we truncate to a µs timestamp (matching DuckDB's ns→µs
    *    truncation when it compares dates/epochs);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ — cast to the session-TZ timestamp type (sessions
    *    here run UTC, so the wall-clock is preserved as the same instant
    *    and `to_date`/`unix_micros` keep the UTC semantics the oracles
    *    assume; DuckDB reads the same column as its naive TIMESTAMP).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = rawTable(s, dir, name)
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df // already a session-TZ timestamp
      }
    else df
  }

  def rawTable(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** Scratch directory for queries that materialize intermediate tables or
    * streaming checkpoints. Defaults to the system temp dir; the bench
    * harness points the `graft.scratch` system property at tmpfs so
    * per-micro-batch WAL/commit fsync constants measure memory writes
    * instead of disk — query semantics identical either way.
    */
  def scratch(prefix: String): String = {
    val base = sys.props.get("graft.scratch")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** The q79b/q182 quality KEEP gate (C4-shape heuristics: ≥ 20
    * tokens, mean token length in [3, 10], punctuation ratio ≤ 0.2) —
    * ONE definition so a threshold tweak cannot desync the two Spark
    * call sites (their SQL twins deliberately restate it).
    */
  def qualityKeep(txt: Column): Column =
    TextFunctions.nTokens(txt) >= 20 &&
      TextFunctions.meanTokenLen(txt) >= 3.0 &&
      TextFunctions.meanTokenLen(txt) <= 10.0 &&
      TextFunctions.punctRatio(txt) <= 0.2

  /** Streaming state cost scales with shuffle partitions (one state-store
    * instance + delta files per partition per batch); the harness's
    * streams carry tiny state, so run them at few partitions and restore
    * the session setting after. Retention/maintenance knobs are dialed
    * down likewise — these AvailableNow backlog runs live for 1-2 batches,
    * so deep checkpoint history and background maintenance buy nothing.
    * The default HDFS-backed state store beats RocksDB here: RocksDB's
    * per-query native-db init dwarfs a few KB of state (it earns its keep
    * at state sizes that pressure the executor heap). The returned
    * DataFrames are plain parquet reads of the materialized sink,
    * unaffected by the restore.
    */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.minBatchesToRetain",
      "spark.sql.streaming.stateStore.maintenanceInterval")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Id-range backlog for the ordered-ingest streaming queries
    * (q153/q155) and the ScaleSmoke stream op: `df` split into
    * `nFiles` ascending `doc_id` ranges, one parquet file each, names
    * AND mtimes pinned so FileStreamSource replays them in id order one
    * per micro-batch — arrival order IS id order, the contract under
    * which the streamed result equals the batch (shard, id)-order
    * arithmetic. Returns (source dir, file schema).
    */
  def idRangeBacklog(s: SparkSession, root: String,
      df: DataFrame, nFiles: Int = 2): (String, StructType) = {
    require(nFiles >= 1, "idRangeBacklog needs at least one file")
    val maxRow = df.agg(max(col("doc_id"))).first()
    require(!maxRow.isNullAt(0),
      "idRangeBacklog needs a non-empty frame (max(doc_id) is null)")
    val maxId = maxRow.getLong(0)
    // boundary(i) == floor(maxId * i / nFiles) computed without the
    // maxId * i intermediate, which overflows Long for very large ids
    def boundary(i: Int): Long =
      maxId / nFiles * i + maxId % nFiles * i / nFiles
    slicedBacklog(s, root, (0 until nFiles).map { i =>
      val lo = boundary(i)
      val hi = boundary(i + 1)
      if (i == 0) df.where(col("doc_id") <= hi)
      else if (i == nFiles - 1) df.where(col("doc_id") > lo)
      else df.where(col("doc_id") > lo && col("doc_id") <= hi)
    })
  }

  /** Two-file backlog split by doc-id PARITY: batch 1 = even ids,
    * batch 2 = odd. Arrival order deliberately differs from id order,
    * so a streaming oracle over this backlog gates CROSS-BATCH
    * ownership (batch 1 owns what it saw even against smaller batch-2
    * ids), not just a per-batch collapse — q179's arrival-order rule.
    */
  def parityBacklog(s: SparkSession, root: String,
      df: DataFrame): (String, StructType) =
    slicedBacklog(s, root, Seq(
      df.where(pmod(col("doc_id"), lit(2)) === 0),
      df.where(pmod(col("doc_id"), lit(2)) === 1)))

  /** Shared backlog writer: each slice becomes one single-part parquet
    * file under `root/src` with an mtime pinning its arrival rank, so
    * an AvailableNow file source at maxFilesPerTrigger=1 replays the
    * slices as micro-batches in exactly this order.
    */
  def slicedBacklog(s: SparkSession, root: String,
      slices: Seq[DataFrame]): (String, StructType) = {
    val src = java.nio.file.Paths.get(s"$root/src")
    java.nio.file.Files.createDirectories(src)
    def firstPart(d: String): java.nio.file.Path = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      try ls.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.toString.endsWith(".parquet")).findFirst.get
      finally ls.close()
    }
    // the slice writes are independent single-partition jobs over
    // disjoint output paths — run them concurrently (guide §2.6: the
    // next job's task back-fills the core the previous one's tail would
    // idle); each file's content and pinned mtime are per-slice, so the
    // backlog is byte-identical to the serial form
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    slices.zipWithIndex.map { case (slice, i) => Future {
      slice.coalesce(1).write.parquet(s"$root/b$i")
      val f = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(firstPart(s"$root/b$i"), f)
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + i * 600000L))
    } }.foreach(Await.result(_, Duration.Inf))
    (src.toString, s.read.parquet(s"$root/b0").schema)
  }

  /** Memoized per-(query, sf-dir) fixture construction: a bench's timed
    * reps must measure the operator, not the parquet writes that build its
    * input, so each q##Fixture
    * builds ONCE per JVM — fixture content is a pure deterministic
    * function of the source table, making the reuse safe. One cache, one
    * scaffold; each fixture is just its build body.
    */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Sibling sentinel written AFTER a fixture build completes: a fixture
    * at path P is trusted only when `P._GRAFT_OK` also exists, so a
    * partially deleted tree (external cleaner removing children but not
    * the root) or a build that died mid-write FAILS revalidation and
    * rebuilds instead of feeding PATH_NOT_FOUND/corrupt reads to every
    * downstream query. Sibling (not inside P) so store-format dirs like
    * VersionedTable roots never see a foreign file.
    */
  private def fixtureSentinel(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + "._GRAFT_OK")

  /** The shared `fixtures/` scratch child ([[wipeStaleFixtures]] spares
    * it; [[fixtureScratch]] allocates under it). */
  private def fixturesBase: java.nio.file.Path =
    sys.props.get("graft.scratch")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .resolve("fixtures")

  /** Refresh the mtime of the `graft_*` tree (the direct `fixtures/`
    * child) containing `path`: directory mtimes only change when direct
    * children come and go, so a fixture CONSUMED for over an hour would
    * otherwise look stale to a concurrent run's [[wipeStaleFixtures]]
    * and be deleted mid-use. Best-effort — a failed touch only narrows
    * the wipe guard back to build-time freshness.
    */
  private def touchFixtureTree(path: String): Unit = try {
    val base = fixturesBase.toAbsolutePath.normalize
    var p = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    while (p.getParent != null && p.getParent != base) p = p.getParent
    if (p.getParent == base)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
  } catch { case _: java.io.IOException => () }

  def memoFixture(key: String, dir: String)(build: () => String): String =
    fixtureCache.compute(s"$key|$dir", (_, prev) =>
      // revalidate: a memoized path may have been wiped from scratch by
      // an external cleaner — a stale memo then fails every downstream
      // query with PATH_NOT_FOUND, so rebuild into a fresh dir instead.
      // The check is on the completion sentinel, not the directory: a
      // half-deleted or half-built tree must rebuild too.
      if (prev != null &&
          java.nio.file.Files.exists(fixtureSentinel(prev)) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(prev))) {
        touchFixtureTree(prev) // keep a hot fixture out of the stale window
        prev
      }
      else {
        val built = build()
        java.nio.file.Files.createFile(fixtureSentinel(built))
        built
      })

  /** Startup hygiene for Bench/Verify: delete stale `graft_*` fixture
    * trees under the effective scratch root's `fixtures/` child. The
    * per-query wipe preserves that child (cross-query fixtures), and
    * [[memoFixture]]'s cache is per-JVM, so on a custom `graft.scratch`
    * or the tmpdir fallback each run would otherwise leak one tree per
    * fixture forever. Only `graft_`-prefixed children are touched — the
    * tmpdir fallback may share `fixtures/` with unrelated software.
    */
  def wipeStaleFixtures(): Unit = {
    val base = fixturesBase
    // age guard: only trees untouched for an hour are stale — a
    // CONCURRENT harness run's live fixtures (and one it is half-way
    // through building) have fresh mtimes and must survive another
    // process's startup wipe on a shared tmpdir. [[touchFixtureTree]]
    // refreshes the tree mtime on every memoFixture cache HIT, so
    // long-running consumers stay inside the window too.
    val cutoff = System.currentTimeMillis() - 60L * 60L * 1000L
    if (java.nio.file.Files.isDirectory(base)) {
      val ls = java.nio.file.Files.list(base)
      try ls.forEach { p =>
        val old =
          try java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: java.io.IOException => false }
        if (p.getFileName.toString.startsWith("graft_") && old)
          graft.store.UpsertWriter.deleteRecursively(p)
      } finally ls.close()
    }
  }

  /** Scratch allocator for [[memoFixture]] trees: under the `fixtures/`
    * child of the scratch root, which `Bench`'s per-query wipe PRESERVES.
    * Fixtures are cross-query by design (q115's centroids feed
    * q116/q117/q118; the versioned-lake fixtures feed their incremental
    * views), so an ephemeral-scratch wipe between queries must not
    * delete them: every query sharing a wiped fixture would fail.
    */
  def fixtureScratch(prefix: String): String = {
    val base = fixturesBase
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** DuckDB fragments mirroring TextFunctions: tokens / shingles / the
    * portable 32-bit md5 hash.
    */
  val toksSql =
    "list_filter(string_split_regex(text, '\\s+'), t -> strlen(t) > 0)"

  def shinglesSql(tk: String, n: Int = 3): String =
    s"list_transform(range(1, greatest(len($tk) - ${n - 1}, 1) + 1), " +
      s"i -> array_to_string(list_slice($tk, i, i + ${n - 1}), ' '))"

  def pHashSql(x: String): String =
    s"('0x' || substr(md5($x), 1, 8))::BIGINT"

  /** The 8 MinHash signature terms `mh0`..`mh7` over a hashed-shingle
    * column `hv`, with Dedup's coefficients. */
  val mhTerms = Dedup.minhashCoeffs(8).zipWithIndex.map { case ((a, b), i) =>
    s"min((hv * $a + $b) % ${Dedup.MinhashP}) AS mh$i"
  }.mkString(", ")

  /** `toks` (token arrays) and `sh` (distinct 3-shingles per doc) over
    * `documents`. */
  val shingleCtes =
    s"""toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")})) AS s
       |       FROM toks)""".stripMargin
}
