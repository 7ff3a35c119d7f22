package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming sequence packing — the stateful streaming twin of
  * [[graft.operators.Corpus.packSequences]]: as documents arrive, each
  * gets the pack it lands in under a per-shard running token cursor,
  * `pack_id = (tokens placed in this shard before it) div budget` — the
  * batch packer's prefix sum turned into `flatMapGroupsWithState` state.
  * This closes the streaming story for the tokenizer×packing arc: curate
  * (StreamingCurate) → dedup (StreamingDedupIndex) → tokenize (a
  * stateless codegen kernel projection riding the stream) → pack (here)
  * is the full training-data pipeline as one continuous ingest.
  *
  * State sizing: ONE Long per shard (the cursor), the smallest state in
  * the streaming family — against 100 TB the state store holds
  * #shards × 8 bytes however much text flowed through. Per-batch work is
  * O(batch): the tokenize projection is a narrow codegen map, the group
  * shuffle moves only (shard, id, n_tokens), and nothing ever re-reads
  * placed documents. Within a micro-batch each shard's docs sort by id
  * before applying the cursor (arrival order inside a batch is not
  * deterministic); ACROSS batches the assignment is arrival-order by
  * construction — the deployment contract is a per-shard id/time-ordered
  * ingest (what a log-ordered source gives), under which the streamed
  * assignment equals the batch packer's (shard, id)-order result exactly,
  * and the q153 oracle checks that equality value-for-value across a
  * multi-file backlog.
  *
  * Skew note: one shard's micro-batch slice lands on one state-store
  * task, so a single giant micro-batch on a single shard serializes
  * there; the trigger bounds the slice (the runners read one file per
  * trigger) — the state itself never grows.
  */
object StreamingPack {

  case class PackDocIn(shard: String, doc_id: Long, n_tokens: Long)
  case class PackCursor(cum: Long)
  case class PackAssigned(shard: String, doc_id: Long, n_tokens: Long,
      pack_id: Long)

  /** Assign packs to a (possibly streaming) typed doc set under a
    * per-shard running cursor. Docs within one micro-batch sort by id
    * per shard before placement; the cursor carries across batches via
    * the checkpointed state store. `n_tokens` must be non-null upstream
    * (a null count has nothing to place — the batch packer parks it with
    * a null pack_id; a stream filters it before the stateful stage).
    */
  def packTyped(docs: Dataset[PackDocIn], tokenBudget: Long)
      : Dataset[PackAssigned] = {
    require(tokenBudget >= 1, "packTyped needs a positive token budget")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackCursor, PackAssigned](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: String, it: Iterator[PackDocIn],
            state: GroupState[PackCursor]) =>
          val sorted = it.toSeq.sortBy(_.doc_id)
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = sorted.map { d =>
            val before = cum
            cum += d.n_tokens
            PackAssigned(shard, d.doc_id, d.n_tokens, before / tokenBudget)
          }
          if (sorted.nonEmpty) state.update(PackCursor(cum))
          out.iterator
      }
  }

  case class PackDocIds(shard: String, doc_id: Long, ids: Seq[Int])
  case class OpenPack(packId: Long, cum: Long, nDocs: Long, ids: Seq[Int],
      offs: Seq[Int])
  case class ClosedPack(shard: String, pack_id: Long, n_docs: Long,
      pack_tokens: Long, pack_ids: Seq[Int], doc_offsets: Seq[Int])

  /** Streaming CLOSED-pack export — the trainer-facing artifact
    * ([[graft.operators.Corpus.materializeTokenPacks]]) produced
    * incrementally: per shard the state buffers the one OPEN pack (its
    * member count and concatenated token ids) and emits a pack the
    * moment a doc lands past its boundary — a trainer can consume packs
    * while ingest is still running, which no batch export gives. The
    * stream's final open pack per shard stays in state, never emitted:
    * completeness is unknowable mid-stream by construction (the q155
    * oracle excludes each shard's last pack for exactly this reason).
    *
    * State is bounded by the TOKEN BUDGET, not the corpus — one open
    * pack of ~budget ids (plus the straddling doc's tail), the same
    * bound the batch materializer's per-group state has. Pack identity
    * and membership are IDENTICAL to the batch packer's arithmetic:
    * pack_id = (cum before the doc) div budget, docs never split, a
    * doc longer than the whole budget closes its pack and SKIPS the
    * intermediate ids (exactly as the batch form emits no rows for
    * empty packs). Zero-token docs join their pack's n_docs and add
    * nothing to the stream. `ids` must be non-null upstream (the q144
    * contract: a null array is a dropped doc, filtered before the
    * stateful stage). Each emitted pack carries `doc_offsets` —
    * n_docs + 1 pack-relative boundaries, identical to the batch
    * materializer's (the masking map a trainer needs); the boundary
    * list rides the same budget-bounded state as the ids buffer.
    */
  def materializeTyped(docs: Dataset[PackDocIds], tokenBudget: Long)
      : Dataset[ClosedPack] = {
    require(tokenBudget >= 1, "materializeTyped needs a positive budget")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[OpenPack, ClosedPack](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: String, it: Iterator[PackDocIds],
            state: GroupState[OpenPack]) =>
          val sorted = it.toSeq.sortBy(_.doc_id)
          val st = state.getOption.getOrElse(OpenPack(0L, 0L, 0L, Nil,
            Seq(0)))
          // mutable buffer within the batch — `st.ids ++ d.ids` per doc
          // would copy the whole open pack per arrival, quadratic in
          // docs-per-pack; the immutable snapshot lands in the state
          // store once per (shard, batch)
          var packId = st.packId
          var cum = st.cum
          var nDocs = st.nDocs
          val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
          buf ++= st.ids
          // pack-relative doc boundaries (0, then each member's end) —
          // always n_docs + 1 entries. A state written by a
          // pre-offsets checkpoint surfaces as an empty offs (the
          // typed deserializer's missing-field default); silently
          // rebuilding Seq(0) there would emit a pack whose first
          // "segment" lumps every restored doc, so fail loudly — the
          // operator's contract (offs.length == nDocs + 1) cannot be
          // reconstructed from a checkpoint that never recorded it
          val restored =
            if (st.offs != null && st.offs.nonEmpty) st.offs else Seq(0)
          require(restored.length == st.nDocs + 1,
            s"StreamingPack state for shard '$shard' carries " +
              s"${restored.length} doc boundaries for ${st.nDocs} open " +
              "docs — checkpoint predates doc_offsets; restart from a " +
              "fresh checkpoint (or the batch packer) instead")
          val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
          offs ++= restored
          val closed = Seq.newBuilder[ClosedPack]
          sorted.foreach { d =>
            val p = cum / tokenBudget
            if (p > packId) {
              if (nDocs > 0)
                closed += ClosedPack(shard, packId, nDocs,
                  buf.length.toLong, buf.toVector, offs.toVector)
              packId = p
              nDocs = 0L
              buf.clear()
              offs.clear()
              offs += 0
            }
            cum += d.ids.length
            nDocs += 1
            buf ++= d.ids
            offs += buf.length
          }
          if (sorted.nonEmpty)
            state.update(OpenPack(packId, cum, nDocs, buf.toVector,
              offs.toVector))
          closed.result().iterator
      }
  }

  /** Enforce the runners' non-null `prepare` contract LOUDLY: a null in
    * any of the three columns otherwise fails deep inside the typed
    * deserializer with an opaque null-value-in-non-nullable-field error
    * mid-stream. A guard expression, not a `.where`: a filter on a
    * computed column pushes below `prepare`'s projection and would run
    * an expensive tokenize kernel twice per row, while this `when`
    * references the column twice, which keeps CollapseProject from
    * inlining a non-cheap producer.
    */
  private def guarded(name: String, to: String) =
    when(col(name).isNotNull, col(name).cast(to))
      .otherwise(raise_error(lit(s"StreamingPack: null $name from " +
        "prepare — dropped docs must be filtered in prepare (see the " +
        "runner's contract)"))).as(name)

  /** Replay a parquet backlog through the streaming packer with
    * AvailableNow, one file per micro-batch, appending
    * per-doc pack assignments to `targetPath`. `prepare` is the
    * stateless per-row front half (tokenize/project — the q135 stage
    * contract: deterministic, slicing-invariant, no cross-batch state)
    * and must yield non-null (`shard` string, `doc_id` long,
    * `n_tokens` long).
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      tokenBudget: Long,
      prepare: DataFrame => DataFrame = identity,
  ): Unit = {
    import spark.implicits._
    val raw = Backlog.read(spark, sourceDir, schema, Some(1))
    val typed = prepare(raw)
      .select(guarded("shard", "string"), guarded("doc_id", "long"),
        guarded("n_tokens", "long"))
      .as[PackDocIn]
    Backlog.toFiles(packTyped(typed, tokenBudget), targetPath, checkpointDir)
  }

  /** [[materializeTyped]]'s backlog runner, one file per micro-batch:
    * `prepare` must yield (`shard` string, `doc_id` long, `ids`
    * array&lt;int&gt;, non-null — null-ids docs are dropped docs per the
    * batch materializer's contract and must be filtered in `prepare`).
    * Appends CLOSED packs to `targetPath`; each shard's final open pack
    * stays in state.
    */
  def runMaterializeAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      tokenBudget: Long,
      prepare: DataFrame => DataFrame = identity,
  ): Unit = {
    import spark.implicits._
    val raw = Backlog.read(spark, sourceDir, schema, Some(1))
    val typed = prepare(raw)
      .select(guarded("shard", "string"), guarded("doc_id", "long"),
        guarded("ids", "array<int>"))
      .as[PackDocIds]
    Backlog.toFiles(materializeTyped(typed, tokenBudget), targetPath,
      checkpointDir)
  }
}
