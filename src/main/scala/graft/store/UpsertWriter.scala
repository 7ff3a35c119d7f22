package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - The daily update set is small relative to the target (1-day increment
  *    vs a 25-year history) → BROADCAST the updates side of the anti-join,
  *    so the target is never shuffled: the merge is one narrow scan+filter
  *    over the big table plus the rewrite. `broadcastThresholdRows` guards
  *    against genuinely large updates, falling back to a shuffle join which
  *    AQE will plan.
  *  - The deduplicated update set is materialized ONCE, and its row count
  *    — the broadcast decision — comes from that same job
  *    ([[graft.operators.Sizing.materialize]]). The anti-join side and the
  *    union side both read the materialized rows, so the delta's lineage
  *    (a wide unpivot, a streaming micro-batch) runs once per merge.
  *  - [[upsert]] rewrites the whole table (into `<path>__tmp`, then a
  *    directory swap). At 100 TB a full rewrite per merge is wrong:
  *    [[upsertPartitioned]] keeps the target partitioned by a date column
  *    and rewrites only the partitions containing updated keys (dynamic
  *    partition overwrite), i.e. a daily merge touches one day-partition,
  *    not the history.
  *  - Single-writer assumption matches the reference (one Prefect worker).
  */
object UpsertWriter {

  /** Overwrite-all (dlt "replace", load.py:52-53,104-105). */
  def replace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** PK merge (dlt "merge", load.py:49-62): rows whose PK exists in
    * `updates` are replaced; new PKs are inserted. Idempotent: re-merging
    * the same batch leaves the table unchanged (e2e_test.py:246-291).
    */
  def upsert(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
      broadcastThresholdRows: Long = 4000000L,
      allowNewColumns: Boolean = false,
  ): Unit = {
    require(pk.nonEmpty, "upsert requires a primary key")
    val target = Paths.get(path)
    // Dedup the incoming batch itself on PK (last occurrence wins is not
    // observable in the reference — its batches are PK-unique; we keep an
    // arbitrary-but-deterministic first row like dlt's staged MERGE).
    // Applies to the CREATE path too: the table must be PK-unique from its
    // first write.
    val dedupedUpdates = updates.dropDuplicates(pk)
    if (!Files.exists(target)) {
      writeAtomic(dedupedUpdates, target, Nil)
      return
    }
    val existing = spark.read.parquet(path)
    val (delta, rows) = graft.operators.Sizing.materialize(dedupedUpdates)
    val updatesSide =
      if (rows <= broadcastThresholdRows) broadcast(delta) else delta
    val survivors = antiJoin(existing, updatesSide, pk)
    // schema evolution: with allowNewColumns a delta may carry columns the
    // table lacks (and vice versa) — surviving rows get typed nulls for the
    // new columns, the table schema widens on this write. Default is
    // strict (schema drift fails loudly), matching the validated-schema
    // discipline of the W4 gate.
    val merged = survivors.unionByName(delta,
      allowMissingColumns = allowNewColumns)
    writeAtomic(merged, target, Nil)
  }

  /** Targeted key deletion — the GDPR-erasure / right-to-be-forgotten
    * write: every row whose `keyCols` tuple appears in `keys` is removed,
    * everything else survives byte-identically. The relational core is one
    * LEFT ANTI join with the (small, broadcast-guarded) key set — the
    * target is scanned once, never shuffled — followed by the same atomic
    * write-audit-publish swap the merge path uses. `keyCols` need not be a
    * primary key: deleting by `user_id` removes ALL of a user's rows.
    */
  def delete(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionBy: Seq[String] = Nil,
      broadcastThresholdRows: Long = 4000000L,
  ): Unit = {
    require(keyCols.nonEmpty, "delete requires key columns")
    val target = Paths.get(path)
    require(Files.exists(target), s"delete target $path does not exist")
    val survivors = deletePlan(spark.read.parquet(path), keys, keyCols,
      broadcastThresholdRows)
    writeAtomic(survivors, target, partitionBy)
  }

  /** The delete RESULT as a DataFrame (no I/O) — the relational core of
    * [[delete]], exposed for plan audits and composition: one broadcast-
    * guarded LEFT ANTI join, target never shuffled.
    */
  def deletePlan(target: DataFrame, keys: DataFrame, keyCols: Seq[String],
      broadcastThresholdRows: Long = 4000000L): DataFrame = {
    val keySet = keys.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    // byte-aware guard (not just rows): wide multi-column key tuples can
    // be byte-heavy under the row cap
    val keysSide = graft.operators.Sizing
      .maybeBroadcast(keySet, broadcastThresholdRows)
    antiJoin(target, keysSide, keyCols)
  }

  /** The rows of `target` whose `keyCols` tuple is not in `keys`, in
    * `target`'s own column order — the one anti-join every merge and
    * delete here goes through. A using-column join hoists the key
    * columns to the front, and a `unionByName` after it keeps that
    * order, so without the projection a merge would reorder the table.
    */
  private[graft] def antiJoin(target: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    target.join(keys, keyCols, "left_anti")
      .select(target.columns.map(col): _*)

  /** Partition-scoped deletion — the 100 TB path, mirroring
    * [[upsertPartitioned]]: only partitions that actually contain doomed
    * keys are read (partition-pruned scan) and rewritten (dynamic
    * partition overwrite). The deletion key set must carry the partition
    * column so untouched partitions are provably key-free.
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
    val keySet = keys.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    val touched = keySet.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    // a null partition value would silently match nothing in the isin
    // prune below — fail loudly instead of reporting a successful no-op
    require(!touched.contains(null),
      s"deletePartitioned: null $partitionCol in the deletion keys — " +
        "null-partition rows must be deleted with the unpartitioned delete")
    if (touched.isEmpty) return
    val pruned = spark.read.parquet(path)
      .where(col(partitionCol).isin(touched: _*)) // partition-pruned
    val survivors = antiJoin(pruned, broadcast(keySet), keyCols)
    // dynamic overwrite only replaces partitions PRESENT in the staged
    // data — a partition the delete fully emptied writes no rows, so its
    // stale files must be dropped explicitly afterwards. Computed BEFORE
    // the staged write: an all-empty staging dir has no readable schema.
    val surviving = survivors.select(partitionCol)
      .distinct().collect().map(_.get(0)).toSet
    val staging = Files.createTempDirectory("graft_delete_stage_").toString + "/s"
    if (surviving.nonEmpty) {
      survivors.write.partitionBy(partitionCol).parquet(staging)
      spark.read.parquet(staging)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path)
    }
    // match emptied partitions against the ACTUAL directory names (Spark
    // hive-escapes special chars in partition paths — ':' writes as %3A —
    // so reconstructing "col=value" from the raw value would miss them)
    val emptied = touched.filterNot(surviving).map(String.valueOf).toSet
    if (emptied.nonEmpty && Files.exists(Paths.get(path))) {
      val ls = Files.list(Paths.get(path))
      try ls.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith(s"$partitionCol=") &&
            emptied.contains(unescapePathName(
              name.stripPrefix(s"$partitionCol="))))
          deleteRecursively(p)
      } finally ls.close()
    }
    deleteRecursively(Paths.get(staging))
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
    * and crash-recoverable: `<path>__old` retains the previous version.
    */
  private[store] def writeAtomic(df: DataFrame, target: Path, partitionBy: Seq[String]): Unit = {
    val tmp = Paths.get(target.toString + "__tmp")
    val old = Paths.get(target.toString + "__old")
    deleteRecursively(tmp); deleteRecursively(old)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    if (Files.exists(target))
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
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

  /** Partition-scoped PK merge — the 100 TB path. The target is hive-
    * partitioned by `partitionCol`; only partitions that actually contain
    * updated keys are read (partition-pruned scan) and rewritten (dynamic
    * partition overwrite). A daily delta against a 25-year history touches
    * one day-partition, not the history.
    *
    * Mechanics: collect the delta's distinct partition values (small — the
    * delta is the small side by assumption), scan ONLY those partitions of
    * the target, merge, stage the merged partitions to a temp dir (Spark
    * cannot overwrite a path it is reading), then dynamic-overwrite from
    * the staged copy so untouched partitions' files are never rewritten.
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
    val target = Paths.get(path)
    val dedup = updates.dropDuplicates(pk)
    if (!Files.exists(target)) {
      dedup.write.partitionBy(partitionCol).parquet(path)
      return
    }
    val touched = dedup.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    val existing = spark.read.parquet(path)
      .where(col(partitionCol).isin(touched: _*)) // partition-pruned
    val merged = antiJoin(existing, broadcast(dedup), pk).unionByName(dedup)
    val staging = Files.createTempDirectory("graft_upsert_stage_").toString + "/s"
    merged.write.partitionBy(partitionCol).parquet(staging)
    spark.read.parquet(staging)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    deleteRecursively(Paths.get(staging))
  }

  /** The merge RESULT as a DataFrame (no I/O) — the relational core of W1,
    * used by the harness oracle queries and by foreachBatch streaming sinks.
    */
  def mergePlan(target: DataFrame, updates: DataFrame, pk: Seq[String]): DataFrame = {
    val dedup = updates.dropDuplicates(pk)
    antiJoin(target, broadcast(dedup), pk).unionByName(dedup)
  }
}
