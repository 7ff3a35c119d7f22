package graft.store

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Delta-style versioned parquet table: every write lands in an
  * immutable `v=<n>` directory and a `_latest` pointer file commits it —
  * giving snapshot isolation for readers, time travel, and rollback
  * (reference parity: the lake tables there are Delta format,
  * py_pipeline/load.py:83, whose log provides exactly these; no Delta jar
  * ships in this environment so the engine carries its own).
  *
  * Commit protocol: write data dir → atomically replace the pointer.
  * Readers resolve the pointer once, then read an immutable directory —
  * a concurrent writer can never make a reader see a half-written
  * version. Single-writer, like the reference's one-Prefect-worker model.
  */
object VersionedTable {

  private def versionDir(root: String, v: Long): Path = Paths.get(root, s"v=$v")

  def latestVersion(root: String): Option[Long] = Marker.read(root, "_latest")

  def versions(root: String): Seq[Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Seq.empty
    else Files.list(r).iterator().asInstanceOf[java.util.Iterator[Path]]
      .asScala_like.filter(_.getFileName.toString.startsWith("v="))
      .map(_.getFileName.toString.stripPrefix("v=").toLong).toSeq.sorted
  }

  // tiny shim: java iterator → scala without importing CollectionConverters
  // at use sites
  private implicit class JIter[A](val it: java.util.Iterator[A]) {
    def asScala_like: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  /** Commit `df` as the next version (full snapshot write). */
  def write(df: DataFrame, root: String): Long = {
    Files.createDirectories(Paths.get(root))
    val next = latestVersion(root).getOrElse(-1L) + 1L
    df.write.parquet(versionDir(root, next).toString)
    Marker.commit(root, "_latest", next)
    next
  }

  /** PK-merge against the current snapshot, committed as a new version —
    * old versions stay readable (the upsert analogue with history).
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
      pk: Seq[String]): Long =
    latestVersion(root) match {
      case None => write(updates.dropDuplicates(pk), root)
      case Some(_) =>
        write(UpsertWriter.mergePlan(read(spark, root), updates, pk), root)
    }

  /** Anti-join delete of `keys`, committed as a new version — the GDPR
    * pattern of [[UpsertWriter.delete]] with history retained: older
    * versions still contain the rows (vacuum to actually purge them).
    */
  def delete(spark: SparkSession, root: String, keys: DataFrame,
      pk: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    write(read(spark, root)
      .join(keys.select(pk.map(col): _*).dropDuplicates(pk), pk, "left_anti"),
      root)
  }

  /** Read the latest snapshot, or `asOf` a specific version (time travel). */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.orElse(latestVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    spark.read.parquet(versionDir(root, v).toString)
  }

  /** CDC between two committed versions: every key classified as
    * `insert` (only in `to`), `delete` (only in `from`), `update` (in
    * both, any non-key column changed) or `unchanged`. Change detection
    * compares an md5 over prefix-free per-column digests of the non-key
    * columns, so the join carries pk + 16 bytes per row instead of full
    * rows and no value can alias another row's fingerprint. Cost: one shuffle of each snapshot on the pk — the
    * same join a single merge pays; at 100 TB write versions bucketed by
    * pk and the diff is co-located.
    */
  def snapshotDiff(spark: SparkSession, root: String, from: Long, to: Long,
      pk: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (a, b, nonKey) = diffSides(spark, root, from, to, pk)
    def fp(df: DataFrame, as: String) = df.select(
      pk.map(col) :+ rowFingerprint(nonKey).as(as): _*)
    fp(a, "__fp_a").join(fp(b, "__fp_b"), pk, "full_outer")
      .withColumn("change_type",
        when(col("__fp_a").isNull, lit("insert"))
          .when(col("__fp_b").isNull, lit("delete"))
          .when(col("__fp_a") =!= col("__fp_b"), lit("update"))
          .otherwise(lit("unchanged")))
      .select(pk.map(col) :+ col("change_type"): _*)
  }

  /** Signed CDC row feed between two committed versions — the form a
    * downstream incremental view consumes (see
    * [[graft.store.IncrementalView]]): one `__sign = +1` row per inserted
    * key and per update's NEW image, one `__sign = -1` row per deleted key
    * and per update's OLD image; unchanged keys emit nothing. Any
    * sign-weighted aggregate (count, sum, and anything built from them)
    * maintained with this feed equals the same aggregate recomputed from
    * the `to` snapshot.
    *
    * Cost: ONE pk full-outer join — the same single shuffle
    * [[snapshotDiff]] pays — then a narrow explode that emits each joined
    * row's 0-2 signed images. (A union of two filtered projections over
    * the join would let Catalyst split it into a LeftOuter + RightOuter
    * pair, doubling the snapshot shuffles at scale; the explode keeps the
    * join single, which PlanAuditSpec pins.) Never a full-table
    * recompute — at 100 TB the feed is delta-sized while the snapshots
    * stay on disk.
    */
  def changeFeed(spark: SparkSession, root: String, from: Long, to: Long,
      pk: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (a, b, nonKey) = diffSides(spark, root, from, to, pk)
    val aw = a.select(pk.map(col)
      ++ nonKey.map(c => col(c).as(s"__a_$c"))
      :+ rowFingerprint(nonKey).as("__fp_a"): _*)
    val bw = b.select(pk.map(col)
      ++ nonKey.map(c => col(c).as(s"__b_$c"))
      :+ rowFingerprint(nonKey).as("__fp_b"): _*)
    val changed = aw.join(bw, pk, "full_outer")
      .where(col("__fp_a").isNull || col("__fp_b").isNull ||
        col("__fp_a") =!= col("__fp_b"))
    val oldImg = struct(nonKey.map(c => col(s"__a_$c").as(c))
      :+ lit(-1L).as("__sign"): _*)
    val newImg = struct(nonKey.map(c => col(s"__b_$c").as(c))
      :+ lit(1L).as("__sign"): _*)
    changed
      .select(pk.map(col) :+ explode(filter(array(
          when(col("__fp_a").isNotNull, oldImg),
          when(col("__fp_b").isNotNull, newImg)),
        x => x.isNotNull)).as("__img"): _*)
      .select(pk.map(col)
        ++ nonKey.map(c => col("__img").getField(c).as(c))
        :+ col("__img").getField("__sign").as("__sign"): _*)
  }

  private def diffSides(spark: SparkSession, root: String, from: Long,
      to: Long, pk: Seq[String]): (DataFrame, DataFrame, Seq[String]) = {
    val a = read(spark, root, asOf = Some(from))
    val b = read(spark, root, asOf = Some(to))
    require(a.columns.sameElements(b.columns),
      s"snapshot diff needs identical schemas, got ${a.columns.toSeq} vs ${b.columns.toSeq}")
    // the diff/feed plumbing claims these names for itself: a source column
    // named __sign would collide with the feed's sign field inside the image
    // struct, and __a_/__b_/__fp_ prefixes would clash with the join-side
    // aliases — fail loudly instead of producing an ambiguous/corrupt feed
    val reserved = a.columns.filter(c => c == "__sign" ||
      c.startsWith("__a_") || c.startsWith("__b_") || c.startsWith("__fp_"))
    require(reserved.isEmpty,
      s"column names ${reserved.toSeq} collide with reserved change-feed " +
        "names (__sign, __a_*, __b_*, __fp_*); rename them before diffing")
    (a, b, a.columns.filterNot(pk.contains).toSeq)
  }

  /** Prefix-free per-field row digest ("N" for null, "V"+md5(value) else):
    * no separator a value could inject, no null/empty ambiguity — the
    * concatenation is injective over the per-column digests, so the join
    * carries pk + 16 bytes instead of full rows.
    */
  private def rowFingerprint(nonKey: Seq[String]) = {
    import org.apache.spark.sql.functions._
    md5(concat(nonKey.map(c =>
      when(col(c).isNull, lit("N"))
        .otherwise(concat(lit("V"), md5(col(c).cast("string"))))): _*))
  }

  /** Roll the pointer back to an existing older version. */
  def rollback(root: String, to: Long): Unit = {
    require(Files.exists(versionDir(root, to)), s"version $to does not exist")
    Marker.commit(root, "_latest", to)
  }

  /** Drop versions older than `keepLast` behind the pointer (vacuum). The
    * pointed-at version is always kept.
    */
  def vacuum(root: String, keepLast: Int = 1): Unit = {
    val current = latestVersion(root).getOrElse(return)
    versions(root)
      .filter(v => v != current)
      .sorted(Ordering[Long].reverse)
      .drop(math.max(keepLast - 1, 0))
      .foreach { v =>
        Files.walk(versionDir(root, v))
          .sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      }
  }
}
