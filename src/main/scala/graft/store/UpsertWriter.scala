package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sizing

/** Primary-key merge (upsert) and replace writers over parquet table
  * directories — the reference's dlt `write_disposition="merge"/"replace"`
  * semantics (reference: py_pipeline/load.py:40-123; semantics proven by
  * tests/load_test.py:92-157,207-265).
  *
  * No Delta jar ships in /opt/spark/jars, so merge is implemented natively:
  *   survivors = target LEFT ANTI JOIN updates ON pk   (rows NOT being replaced)
  *   result    = survivors UNION BY NAME updates
  * then an atomic tmp-write + directory swap (write-audit-publish).
  *
  * Scale design (SURVEY.md §7):
  *  - Every merge and delete here (and in [[VersionedTable]] and the ANN
  *    index fold) goes through one core, [[Delta]]: the update or key set
  *    is deduplicated on its key and materialized ONCE, and its row count
  *    and estimated bytes come from that same job
  *    ([[graft.operators.Sizing.materializeSized]]). One broadcast rule,
  *    [[graft.operators.Sizing.broadcastIfFits]] (≤ 1M rows and ≤ 256 MB,
  *    the rule the dedup verdict uses), hints the anti-join side: a daily
  *    delta is broadcast, so the target is never shuffled; a genuinely
  *    large one stays unhinted and AQE plans the join. Every reader — the
  *    anti-join side, the union side, the partitioned paths' touched
  *    values — reads the materialized rows, so the delta's lineage (a
  *    wide unpivot, a streaming micro-batch) runs once per write.
  *  - [[upsert]] and [[delete]] rewrite the whole table (into
  *    `<path>__tmp`, then a directory swap). At 100 TB a full rewrite per
  *    merge is wrong: [[upsertPartitioned]] and [[deletePartitioned]]
  *    keep the target partitioned by a date column and rewrite only the
  *    partitions the delta touches through one staged rewrite
  *    ([[rewritePartitions]]), i.e. a daily merge touches one
  *    day-partition, not the history.
  *  - Single-writer assumption matches the reference (one Prefect worker).
  */
object UpsertWriter {

  /** Overwrite-all (dlt "replace", load.py:52-53,104-105), through the
    * same [[writeAtomic]] swap as a merge: the live table is never
    * overwritten in place, so a failed or killed replace leaves the
    * previous version readable.
    */
  def replace(df: DataFrame, path: String): Unit = {
    val target = Paths.get(path)
    recover(target)
    writeAtomic(df, target)
  }

  /** A merge's update set or a delete's key set, deduplicated on
    * `keyCols` (an arbitrary-but-deterministic row per key, like dlt's
    * staged MERGE; the reference's batches are PK-unique) and
    * materialized ONCE, with its size observed in the same job.
    */
  private final class Delta(delta: DataFrame, keyCols: Seq[String]) {
    private val (rows, n, bytes) =
      Sizing.materializeSized(delta.dropDuplicates(keyCols))

    /** `target` without the rows whose `keyCols` tuple is in the delta,
      * plus (`merge`) the delta's rows. The union is by name and strict:
      * a delta whose columns differ from the table's fails loudly,
      * matching the validated-schema discipline of the W4 gate.
      */
    def applyTo(target: DataFrame, merge: Boolean): DataFrame = {
      val survivors =
        antiJoin(target, Sizing.broadcastIfFits(rows, n, bytes), keyCols)
      if (merge) survivors.unionByName(rows) else survivors
    }

    /** The delta's distinct values of `c`, read from the materialized
      * rows. */
    def values(c: String): Seq[Any] =
      rows.select(c).distinct().collect().map(_.get(0)).toSeq
  }

  /** PK merge (dlt "merge", load.py:49-62): rows whose PK exists in
    * `updates` are replaced; new PKs are inserted. Idempotent: re-merging
    * the same batch leaves the table unchanged (e2e_test.py:246-291).
    */
  def upsert(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
  ): Unit = {
    require(pk.nonEmpty, "upsert requires a primary key")
    val target = Paths.get(path)
    // the table must be PK-unique from its first write
    if (!recover(target))
      writeAtomic(updates.dropDuplicates(pk), target)
    else
      writeAtomic(new Delta(updates, pk).applyTo(spark.read.parquet(path),
        merge = true), target)
  }

  /** Targeted key deletion — the GDPR-erasure / right-to-be-forgotten
    * write: every row whose `keyCols` tuple appears in `keys` is removed,
    * everything else survives byte-identically. The relational core is
    * [[deletePlan]], followed by the same atomic write-audit-publish swap
    * the merge path uses. `keyCols` need not be a primary key: deleting
    * by `user_id` removes ALL of a user's rows.
    */
  def delete(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
  ): Unit = {
    require(keyCols.nonEmpty, "delete requires key columns")
    val target = Paths.get(path)
    require(recover(target), s"delete target $path does not exist")
    writeAtomic(deletePlan(spark.read.parquet(path), keys, keyCols), target)
  }

  /** The delete RESULT as a DataFrame — the relational core of [[delete]]:
    * the key set is materialized once (one job), then one size-guarded
    * LEFT ANTI join; a broadcast key set never shuffles the target.
    */
  def deletePlan(target: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    new Delta(keys.select(keyCols.map(col): _*), keyCols)
      .applyTo(target, merge = false)

  /** The merge RESULT as a DataFrame — the relational core of W1, used by
    * the harness oracle queries and [[VersionedTable.upsert]]: the update
    * set is materialized once (one job), then anti-join + union.
    */
  def mergePlan(target: DataFrame, updates: DataFrame, pk: Seq[String]): DataFrame =
    new Delta(updates, pk).applyTo(target, merge = true)

  /** The rows of `target` whose `keyCols` tuple is not in `keys`, in
    * `target`'s own column order — the anti-join of [[Delta]] (and of
    * `StreamingNearDup`'s in-batch guards). A using-column join hoists
    * the key columns to the front, and a `unionByName` after it keeps
    * that order, so without the projection a merge would reorder the
    * table.
    */
  private[graft] def antiJoin(target: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    target.join(keys, keyCols, "left_anti")
      .select(target.columns.map(col): _*)

  /** Partition-scoped deletion — the 100 TB path, mirroring
    * [[upsertPartitioned]]: only partitions that actually contain doomed
    * keys are read (partition-pruned scan) and rewritten
    * ([[rewritePartitions]]). The deletion key set must carry the
    * partition column so untouched partitions are provably key-free.
    */
  def deletePartitioned(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionCol: String,
  ): Unit = {
    require(keyCols.contains(partitionCol),
      s"deletion keys $keyCols must contain partition column $partitionCol " +
        "so untouched partitions are provably unaffected")
    val delta = new Delta(keys.select(keyCols.map(col): _*), keyCols)
    val touched = delta.values(partitionCol)
    // a null partition value would silently match nothing in the isin
    // prune below — fail loudly instead of reporting a successful no-op
    require(!touched.contains(null),
      s"deletePartitioned: null $partitionCol in the deletion keys — " +
        "null-partition rows must be deleted with the unpartitioned delete")
    if (touched.isEmpty) return
    val pruned = spark.read.parquet(path)
      .where(col(partitionCol).isin(touched: _*)) // partition-pruned
    rewritePartitions(spark, path, delta.applyTo(pruned, merge = false),
      partitionCol, touched)
  }

  /** Partition-scoped PK merge — the 100 TB path. The target is hive-
    * partitioned by `partitionCol`; only partitions that actually contain
    * updated keys are read (partition-pruned scan) and rewritten
    * ([[rewritePartitions]]). A daily delta against a 25-year history
    * touches one day-partition, not the history.
    */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
      partitionCol: String,
  ): Unit = {
    require(pk.nonEmpty, "upsertPartitioned requires a primary key")
    // the PK must pin the partition: otherwise an update whose key lives in
    // an untouched partition would be inserted rather than replace it,
    // silently duplicating the key
    require(pk.contains(partitionCol),
      s"primary key $pk must contain partition column $partitionCol")
    if (!Files.exists(Paths.get(path))) {
      updates.dropDuplicates(pk).write.partitionBy(partitionCol).parquet(path)
      return
    }
    val delta = new Delta(updates, pk)
    val touched = delta.values(partitionCol)
    val existing = spark.read.parquet(path)
      .where(col(partitionCol).isin(touched: _*)) // partition-pruned
    rewritePartitions(spark, path, delta.applyTo(existing, merge = true),
      partitionCol, touched)
  }

  /** Replace the `touched` partitions of the table at `path` (hive-
    * partitioned by `partitionCol`) with `rows`, leaving every other
    * partition's files untouched. `rows` is evaluated once: it is staged
    * beside the table in `<path>__stage` (Spark cannot overwrite a path
    * it is reading), the staged partitions are dynamically overwritten
    * into the table, and the touched partitions `rows` left empty — a
    * dynamic overwrite writes nothing for them — are dropped. Both
    * partition sets come from directory names (hive-unescaped, since
    * Spark escapes e.g. ':' as %3A), not from a job. The staging tree is
    * removed in a `finally`, so a failed write never strands a copy.
    */
  private[graft] def rewritePartitions(spark: SparkSession, path: String,
      rows: DataFrame, partitionCol: String, touched: Iterable[Any]): Unit = {
    val target = Paths.get(path)
    val stage = Paths.get(target.toString + "__stage")
    deleteRecursively(stage)
    try {
      rows.write.partitionBy(partitionCol).parquet(stage.toString)
      val surviving = partitionDirs(stage, partitionCol).keySet
      if (surviving.nonEmpty)
        spark.read.schema(rows.schema).parquet(stage.toString)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .parquet(path)
      val emptied = touched.map(String.valueOf).toSet -- surviving
      partitionDirs(target, partitionCol).foreach { case (v, dir) =>
        if (emptied(v)) deleteRecursively(dir)
      }
    } finally deleteRecursively(stage)
  }

  /** The `partitionCol=<value>` directories under `dir`, by hive-unescaped
    * value. */
  private[graft] def partitionDirs(dir: Path, partitionCol: String)
      : Map[String, Path] =
    if (!Files.exists(dir)) Map.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(p => p.getFileName.toString -> p)
        .collect { case (n, p) if n.startsWith(s"$partitionCol=") =>
          unescapePathName(n.stripPrefix(s"$partitionCol=")) -> p
        }.toMap
      finally ls.close()
    }

  /** Inverse of Hive/Spark partition-path escaping: %XX hex sequences
    * decode back to the original character.
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Write to `<path>__tmp`, then swap directories. The swap is two renames
    * (not one atomic op) — acceptable under the single-writer assumption,
    * and crash-recoverable: `<path>__old` retains the previous version,
    * and [[recover]] puts it back when a crash fell between the renames.
    * `<path>__tmp` is removed in a `finally`, so a failed write never
    * strands a partial copy.
    */
  private[store] def writeAtomic(df: DataFrame, target: Path): Unit = {
    val tmp = Paths.get(target.toString + "__tmp")
    val old = Paths.get(target.toString + "__old")
    deleteRecursively(tmp); deleteRecursively(old)
    try {
      df.write.mode("overwrite").parquet(tmp.toString)
      if (Files.exists(target))
        Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally deleteRecursively(tmp)
    deleteRecursively(old)
  }

  /** Whether the table at `target` exists, after undoing a crash between
    * [[writeAtomic]]'s two renames: that leaves `<path>__old` and no
    * `<path>`, and the previous version is restored. Every writer and
    * compactor checks for its table through this, so such a crash is
    * never taken for a first write (which would replace the history with
    * one batch).
    */
  private[store] def recover(target: Path): Boolean = {
    val old = Paths.get(target.toString + "__old")
    if (!Files.exists(target) && Files.exists(old))
      Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
    Files.exists(target)
  }

  /** Shared recursive delete — the one copy (`Similarity`'s index
    * maintenance and `Bench`'s scratch cleanup reuse it rather than
    * re-implementing).
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      // walk returns a resource-backed stream: close it or every call
      // leaks a directory handle (a long streaming run deletes staging
      // trees every micro-batch and would exhaust FDs)
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
