package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.store.{Marker, UpsertWriter}

/** Structured-Streaming ingestion with exactly-once PK merge — the
  * idiomatic Spark upgrade of the reference's cron-batch incremental loads
  * (SURVEY.md §2.11): file-source stream → the AvailableNow trigger →
  * `foreachBatch` running the same [[UpsertWriter]] merge the batch path
  * uses. PK dedup in the sink IS the late/duplicate-data strategy, exactly
  * like the reference's re-run-and-merge semantics (e2e_test.py:246-291) —
  * no watermark needed for correctness, only for state bounding in
  * aggregations.
  */
object StreamingUpsert {

  /** Stream every file under `sourceDir` into a PK-merged parquet table at
    * `targetPath`. AvailableNow processes the current backlog then stops —
    * the streaming equivalent of one scheduled incremental run; a live
    * deployment drops the trigger and gets continuous micro-batch merges
    * with checkpointed exactly-once progress.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      pk: Seq[String],
      maxFilesPerTrigger: Int = 1000,
  ): Unit =
    Backlog.eachBatch(Backlog.read(spark, sourceDir, schema,
        Some(maxFilesPerTrigger)), checkpointDir) {
      batch => UpsertWriter.upsert(batch.sparkSession, targetPath, batch, pk)
    }

  /** Stream the backlog into a [[graft.store.VersionedTable]]: every
    * micro-batch PK-merges and COMMITS A VERSION, so the stream leaves a
    * full time-travel/CDC history behind instead of a bare parquet table —
    * the streaming-lakehouse shape. Downstream incremental views
    * ([[graft.store.IncrementalView]]) then fold the per-batch change
    * feeds without ever rescanning the table, whatever batch boundaries
    * the trigger chose. Exactly-once per batch on one checkpoint: a
    * crash between the version commit and the stream's checkpoint commit
    * replays the batch, and [[Backlog.eachBatch]]'s batch id marker skips
    * it, so the version history equals a clean run's. Only a crash
    * between the version commit and that marker (or a fresh checkpoint
    * over an existing table) replays the merge; the PK merge keeps the
    * CONTENT identical, and the content-identical extra version it commits
    * has an empty change feed, so downstream
    * [[graft.store.IncrementalView]] folds stay correct.
    */
  def runVersionedAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tableRoot: String,
      checkpointDir: String,
      pk: Seq[String],
      maxFilesPerTrigger: Int = 1,
  ): Unit =
    Backlog.eachBatch(Backlog.read(spark, sourceDir, schema,
        Some(maxFilesPerTrigger)), checkpointDir) {
      batch => graft.store.VersionedTable.upsert(
        batch.sparkSession, tableRoot, batch, pk): Unit
    }

  /** [[runVersionedAvailableNow]] that ALSO keeps a clustered PQ ANN
    * index fresh: each micro-batch PK-merges + commits a version, then
    * folds EXACTLY that commit's change feed into the index
    * ([[graft.operators.Similarity.maintainClusteredPQ]] — touched cell
    * partitions only). The index never rebuilds: after the backlog
    * drains it is row-identical to `writeClusteredPQ` over the final
    * snapshot, whatever batch boundaries the trigger chose (q118's
    * gate). `pk` must be the single vector-id column. Same batch id
    * replay skip as [[runVersionedAvailableNow]] for the VERSION
    * HISTORY; the index itself is crash-exact: an
    * `_indexed_version` marker in the index directory (atomic rename,
    * advanced only after a fold completes) records the table version the
    * index reflects, and a batch that finds the marker lagging the table
    * — a prior fold died mid-mutation, leaving touched cells in
    * old/new/partial mixtures — first repairs those cells from the
    * authoritative snapshot
    * ([[graft.operators.Similarity.repairClusteredPQCells]]) before
    * folding its own delta. A replayed batch the id marker misses whose
    * fold DID complete finds marker == table version and skips straight
    * to the (empty) duplicate-version feed, a no-op.
    */
  def runVersionedWithAnnIndex(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tableRoot: String,
      checkpointDir: String,
      pk: Seq[String],
      indexPath: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      vecCol: String = "embedding",
      maxFilesPerTrigger: Int = 1,
      residual: Boolean = false,
  ): Unit = {
    require(pk.length == 1,
      "runVersionedWithAnnIndex: pk must be the single vector-id column")
    Backlog.eachBatch(Backlog.read(spark, sourceDir, schema,
        Some(maxFilesPerTrigger)), checkpointDir) {
      batch =>
        val s = batch.sparkSession
        val before = graft.store.VersionedTable.latestVersion(tableRoot)
          .getOrElse(throw new IllegalStateException(
            "runVersionedWithAnnIndex needs a v0 table + matching index " +
              "before streaming starts"))
        // the marker is stamped BEFORE the first upsert so every later
        // batch can tell a completed fold from one that died mid-mutation.
        // A marker-less index is TRUSTED to match the table (the
        // documented precondition); a deployment migrating from a
        // marker-less runner that may have crashed mid-fold should
        // rebuild the index (or stamp + repair manually) before starting
        val indexed = Marker.read(indexPath, "_indexed_version").getOrElse {
          Marker.commit(indexPath, "_indexed_version", before); before
        }
        if (indexed < before) {
          // prior fold incomplete: its touched cells may be damaged —
          // rebuild exactly those from the current snapshot, then stamp.
          // The repair feed UNIONS the per-step change feeds across the
          // gap rather than netting the endpoints: if a completed fold
          // wrote an id into an intermediate cell before the crash and a
          // later version moved the id on, the netted endpoint diff
          // never names that intermediate cell and its stale row would
          // survive — the per-step union names every cell any gap
          // version touched
          val vs = graft.store.VersionedTable.versions(tableRoot).sorted
            .filter(v => v >= indexed && v <= before)
          if (vs.headOption.contains(indexed)) {
            // marker version present ⇒ every later gap version is too
            // (vacuum keeps the newest), so the per-step feeds exist
            val gapFeed = vs.zip(vs.tail).map { case (a, b) =>
              graft.store.VersionedTable.changeFeed(s, tableRoot, a, b, pk)
            }.reduce(_ unionByName _)
            graft.operators.Similarity.repairClusteredPQCells(s, indexPath,
              graft.store.VersionedTable.read(s, tableRoot),
              centroids, codebooks, gapFeed,
              pk.head, vecCol, residual)
          } else {
            // the marker's version was vacuumed away — the gap's
            // per-step feeds no longer exist, so a touched-cell repair
            // can't be derived; the only exact option is a full rebuild
            // from the snapshot (rare: a long-down stream plus an
            // aggressive vacuum). POISON the marker first: −1 is never a
            // committed version, so a crash mid-rebuild re-enters this
            // branch on replay instead of a marker-less partial index
            // being trusted — and the in-place rebuild goes through the
            // same staged cell overwrite as the fold, which never
            // touches the root-level marker file
            Marker.commit(indexPath, "_indexed_version", -1L)
            graft.operators.Similarity.rebuildClusteredPQ(s, indexPath,
              graft.store.VersionedTable.read(s, tableRoot),
              centroids, codebooks, pk.head, vecCol, residual)
          }
          Marker.commit(indexPath, "_indexed_version", before)
        }
        graft.store.VersionedTable.upsert(s, tableRoot, batch, pk)
        val after = graft.store.VersionedTable.latestVersion(tableRoot).get
        if (after != before) {
          graft.operators.Similarity.maintainClusteredPQ(s, indexPath,
            centroids, codebooks,
            graft.store.VersionedTable.changeFeed(s, tableRoot, before,
              after, pk),
            pk.head, vecCol, residual)
          Marker.commit(indexPath, "_indexed_version", after)
        }
    }
  }

  /** Event-time normalization for a column read straight off parquet —
    * branch on the READ schema so every testdata era works without flags:
    * INT64 raw nanos (legacy `nanosAsLong` era) → µs timestamp;
    * TIMESTAMP_NTZ (current testdata: micros, isAdjustedToUTC=false) →
    * session-TZ timestamp (sessions run UTC, so the instant is preserved);
    * TimestampType → as-is.
    */
  def eventTime(schema: StructType, timeCol: String): Column =
    schema(timeCol).dataType match {
      case LongType => expr(s"timestamp_micros($timeCol div 1000)")
      case TimestampNTZType => col(timeCol).cast(TimestampType)
      case _ => col(timeCol)
    }

  /** Windowed streaming aggregation with a watermark — the standard
    * late-data-bounded shape (10-minute windows, `lateness` allowed).
    * Returns the streaming DataFrame for the caller to sink.
    *
    * sum accumulates in decimal so the result is order-independent and
    * exact — a double sum would vary with micro-batch boundaries.
    */
  def windowedCounts(events: DataFrame, timeCol: String, keyCol: String,
      windowDuration: String, lateness: String): DataFrame =
    events
      .withWatermark(timeCol, lateness)
      .groupBy(window(col(timeCol), windowDuration), col(keyCol))
      .agg(count("*").as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** Run the windowed aggregation over a parquet backlog with
    * the AvailableNow trigger, materializing the COMPLETE final state to
    * `targetPath` (foreachBatch overwrite — every micro-batch rewrites the
    * aggregate through [[UpsertWriter.replace]]'s swap, the last one
    * wins, so the backlog result equals the batch query). The event-time column is normalized from whatever physical
    * shape the parquet carries (see [[eventTime]]) inside the stream.
    */
  def runWindowedAvailableNow(
      spark: SparkSession,
      sourceGlob: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      timeCol: String,
      keyCol: String,
      windowDuration: String = "10 minutes",
      lateness: String = "10 minutes",
  ): Unit = {
    val raw = Backlog.read(spark, sourceGlob, schema, None)
    val withTs = raw.withColumn(timeCol, eventTime(schema, timeCol))
    val agg = windowedCounts(withTs, timeCol, keyCol, windowDuration, lateness)
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col(keyCol), col("n"), col("sum_value"))
    Backlog.eachBatch(agg, checkpointDir, "complete") {
      batch => UpsertWriter.replace(batch, targetPath)
    }
  }
}
