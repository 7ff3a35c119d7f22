package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Size-guarded broadcast decisions, shared by the store and the
  * dedup/decontamination/retrieval operators.
  *
  * A `broadcast()` hint on a table that does NOT fit executor memory is a
  * scale-killer: the driver collects the whole table and every executor
  * holds a full copy. One rule keeps the broadcast fast path: a side is
  * hinted only with at most [[DefaultBroadcastRows]] rows AND estimated
  * ([[approxRowBytes]]; rows carrying arrays make a row count alone
  * unsafe) at most [[DefaultBroadcastBytes]] bytes, and otherwise joins
  * hash-partitioned — the 100 TB-safe default. A side the operator
  * materializes anyway is OBSERVED: [[materializeSized]] counts its rows
  * and bytes in that job (the count also feeds `require` caps and empty
  * shortcuts), so no probe runs. A lazily read, corpus-sized input is
  * never materialized just to be sized: [[fitsBroadcast]] PROBES it in
  * one job over at most cap+1 rows.
  */
object Sizing {

  /** Default row cap for a broadcast side — ~1M rows of ids+sizes or
    * 64-float embeddings stays well under typical executor memory and
    * `spark.sql.autoBroadcastJoinThreshold`-scale budgets.
    */
  val DefaultBroadcastRows: Long = 1L << 20

  /** Default byte cap for a broadcast side: 256 MB — far below Spark's 8 GB
    * broadcast hard limit, small enough to replicate to every executor.
    */
  val DefaultBroadcastBytes: Long = 256L << 20

  /** Cheap "has at most n rows" probe without a full count:
    * limit(n+1).count() stops scanning once n+1 rows are found. It runs
    * `df`'s lineage once more than the caller's own action does.
    */
  def countAtMost(df: DataFrame, n: Long): Boolean =
    df.limit((math.min(n, Int.MaxValue - 1L) + 1).toInt).count() <= n

  /** Materialize `df` ONCE (an eager local checkpoint) and take its row
    * count from that same job, through an [[Observation]] on the
    * checkpointed plan. Every later action on the returned frame reads the
    * checkpointed rows: `df`'s lineage is neither re-planned nor re-run,
    * however many sides of a join or guards consume it.
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val done = df.observe(rows, count(lit(1)).as("n")).localCheckpoint()
    (done, rows.get("n").asInstanceOf[Long])
  }

  /** [[materialize]] that also returns the rows' estimated bytes
    * ([[approxRowBytes]]), observed in the same job: the input of
    * [[broadcastIfFits]] for a frame whose rows carry arrays. Columns
    * are measured positionally, as in [[fitsBroadcast]].
    */
  def materializeSized(df: DataFrame): (DataFrame, Long, Long) = {
    val obs = Observation()
    val safe = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val done = safe.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(approxRowBytes(safe.schema)), lit(0L)).as("b"))
      .localCheckpoint().toDF(df.columns: _*)
    (done, obs.get("n").asInstanceOf[Long], obs.get("b").asInstanceOf[Long])
  }

  /** Hint `df` for broadcast when an OBSERVED size, `rows` rows and
    * an estimated `bytes` (e.g. from [[materializeSized]] on the frame
    * `df` projects), is within both [[DefaultBroadcastRows]] and
    * [[DefaultBroadcastBytes]]; otherwise return it unhinted, so the
    * planner decides by its own size estimate. No probe job runs.
    */
  def broadcastIfFits(df: DataFrame, rows: Long, bytes: Long): DataFrame =
    broadcastIfFits(df,
      rows <= DefaultBroadcastRows && bytes <= DefaultBroadcastBytes)

  /** Hint `df` for broadcast when a [[fitsBroadcast]] probe found the
    * side it projects within the cap pair; otherwise return it unhinted.
    */
  def broadcastIfFits(df: DataFrame, fits: Boolean): DataFrame =
    if (fits) broadcast(df) else df

  /** Schema-driven estimate of one row's in-memory bytes: variable-width
    * columns (strings, binary, arrays, maps, structs of them) measured per
    * row, fixed-width from the type's default size. Underestimates JVM
    * object overhead, so the byte cap should stay conservative.
    */
  private[graft] def approxRowBytes(schema: StructType): Column = {
    def bytesOf(dt: DataType, c: Column): Column = dt match {
      case StringType => coalesce(octet_length(c), lit(0)).cast(LongType) + lit(16L)
      case BinaryType => coalesce(octet_length(c), lit(0)).cast(LongType) + lit(16L)
      case ArrayType(StringType | BinaryType, _) =>
        // sum of element lengths + per-element overhead
        coalesce(aggregate(c, lit(0L),
          (acc, x) => acc + coalesce(octet_length(x), lit(0)).cast(LongType) + lit(16L)),
          lit(0L)) + lit(16L)
      case ArrayType(_: ArrayType | _: MapType | _: StructType, _) =>
        // nested containers: measure the serialized form rather than
        // guessing a per-element constant
        coalesce(octet_length(to_json(c)), lit(0)).cast(LongType) + lit(16L)
      case ArrayType(et, _) =>
        coalesce(size(c), lit(0)).cast(LongType) * lit(et.defaultSize.toLong) + lit(16L)
      case st: StructType =>
        st.fields.map(f => bytesOf(f.dataType, c.getField(f.name)))
          .reduceOption(_ + _).getOrElse(lit(8L))
      case _: MapType =>
        coalesce(octet_length(to_json(c)), lit(0)).cast(LongType) + lit(16L)
      case other => lit(other.defaultSize.toLong)
    }
    schema.fields.map(f => bytesOf(f.dataType, col(f.name)))
      .reduceOption(_ + _).getOrElse(lit(8L))
  }

  /** True when `df` provably fits a broadcast: at most `rowLimit` rows AND
    * estimated at most `byteLimit` bytes. ONE probe job over at most
    * rowLimit+1 rows computes both bounds together (the common small-input
    * path pays a single scan, not a count job plus a byte job). Columns
    * are renamed positionally before measuring, so duplicate or dotted
    * column names cannot AnalysisException the guard into neither path —
    * the probe works on any schema and the fallback stays the shuffle
    * join.
    */
  def fitsBroadcast(df: DataFrame,
      rowLimit: Long = DefaultBroadcastRows,
      byteLimit: Long = DefaultBroadcastBytes): Boolean = {
    val cap = (math.min(rowLimit, Int.MaxValue - 1L) + 1).toInt
    val safe = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val probe = safe.limit(cap)
      .agg(count(lit(1)).as("n"), sum(approxRowBytes(safe.schema)).as("b"))
      .head()
    val n = probe.getLong(0)
    val bytes = if (probe.isNullAt(1)) 0L else probe.getLong(1)
    n <= rowLimit && bytes <= byteLimit
  }

  /** Conditionally RAISE a frame's parallelism ahead of a compute-heavy
    * per-row kernel (minhash/shingle signatures, simhash, payload
    * decode): when the planned partition count is far below the
    * session's parallelism — a single-file scan, a one-partition
    * micro-batch — the kernel would burn its whole budget on one core
    * while the rest of the machine idles, so ONE cheap round-robin
    * exchange of the raw rows buys kernel parallelism (the guide's
    * "repartition immediately after the read" for unsplittable inputs).
    * When the input is already parallel — every real corpus-scale scan —
    * this is a strict NO-OP: no exchange is added, so the operators'
    * pinned shuffle counts at scale are untouched. Streaming plans pass
    * through untouched (their partition count isn't knowable pre-run;
    * the per-micro-batch frames inside foreachBatch ARE batch plans and
    * do get fanned out).
    */
  def fanOut(df: DataFrame, factor: Int = 4): DataFrame = {
    if (df.isStreaming) return df
    // Probe ONLY narrow-from-leaf plans (scans/local frames under
    // projections, filters, unions): (1) anything downstream of a
    // shuffle already arrives at the session's shuffle parallelism, so
    // fan-out could only add cost; (2) the partition probe plans the
    // frame via queryExecution.toRdd, which on an AQE plan WITH
    // exchanges would materialize its query stages eagerly — running
    // real jobs at probe time. A narrow plan has no exchanges, so its
    // toRdd is plan-only.
    import org.apache.spark.sql.catalyst.plans.logical
    val narrow = df.queryExecution.analyzed.collect { case p => p }.forall {
      case _: logical.LeafNode => true
      case _: logical.Project | _: logical.Filter |
           _: logical.SubqueryAlias | _: logical.Union => true
      case _ => false
    }
    if (!narrow) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.queryExecution.toRdd.getNumPartitions
      catch { case _: Exception => target } // unplannable => leave as-is
    if (parts * factor <= target) df.repartition(target) else df
  }
}
