package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Ranked-retrieval operators over a document corpus: the inverted-index
  * build, BM25 top-k scoring, and a rare-n-gram quality gate.
  *
  * The reference pipeline has no retrieval surface — these extend the
  * LLM-training-data suite (dedup/decontamination/quality already in
  * [[Dedup]]/[[Corpus]]) with the index-build and scoring passes a corpus
  * curation stack runs before mixing: BM25 per Robertson & Zaragoza,
  * "The Probabilistic Relevance Framework: BM25 and Beyond" (2009).
  *
  * Scale shapes (the point of doing these in Spark):
  *  - [[invertedIndex]]: two key-partitioned shuffles, both with map-side
  *    partial aggregation; posting LISTS materialize only for terms whose
  *    document frequency is at or under a cap, so a stop-term can never
  *    produce a corpus-sized array in one reduce task (classic posting
  *    elision — the df/tf stats are still exact for every term).
  *  - [[bm25TopK]]: per-document term frequencies are counted INSIDE the
  *    token array (no explode, no shuffle of corpus rows); the only wide
  *    traffic is a one-row corpus-stats aggregate broadcast back, and the
  *    top-k is a TakeOrdered, never a full sort.
  *  - [[rareNgramGate]]: one n-gram count shuffle plus one
  *    frequency-annotation join keyed on the n-gram (AQE splits a skewed
  *    stop-gram key); the rareness threshold is relative to the corpus
  *    mean frequency, so the same parameters work at any scale.
  */
object Retrieval {

  /** Inverted index over `n`-token shingle terms: one row per distinct
    * term with exact document frequency `df`, exact total occurrence count
    * `tf_total`, and `postings` — the comma-joined sorted doc-id list when
    * `df <= postingsCap`, NULL otherwise (elided, stats still exact).
    *
    * First aggregate by (term, doc) so the second one sees at most one row
    * per posting — per-term reduce input is bounded by the corpus doc
    * count, never the occurrence count, and both shuffles combine
    * map-side.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, postingsCap: Int = 16): DataFrame = {
    // ONE definition of the (term, doc, tf) rule and its term rollup —
    // shared with the incremental-index state so the q112 fold-vs-rebuild
    // equivalence can never drift from what this index computes
    val perDoc = indexState(docs, idCol, textCol, n)
    val stats = termStats(perDoc)
    // the df cap gates ACCUMULATION, not just projection: over-cap terms
    // are semi-joined away BEFORE the collect_list, so a stop term's
    // posting list is never even buffered in its reduce task (a
    // result-side `when` would still build the corpus-sized array first)
    val postings = perDoc
      .join(stats.where(col("df") <= postingsCap).select("term"),
        Seq("term"), "left_semi")
      .groupBy("term").agg(
        concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings"))
    stats.join(postings, Seq("term"), "left")
      .select(col("term"), col("df"), col("tf_total"), col("postings"))
  }

  /** BM25 top-k for a fixed bag of query `terms`.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); a term absent from a
    * document contributes exactly 0 (zero numerator), so the per-document
    * score is a FIXED-ORDER sum over the query terms — no aggregation
    * order can perturb the float result between runs or engines.
    *
    * Output is (doc_id, score_e6) with score_e6 = round(score·10⁶) as a
    * long: micro-units survive the 1-ulp library differences a raw
    * transcendental double would trip on, while still ordering ranks
    * exactly. Ordered by (score_e6 desc, doc_id), limited to `topK`.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val tfCols = terms.indices.map { i =>
      size(filter(col("toks"), x => x === lit(terms(i))))
        .cast("long").as(s"tf$i")
    }
    val perDoc = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id") +: size(col("toks")).cast("long").as("dl")
        +: tfCols: _*)
    val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("sdl") +:
      terms.indices.map(i =>
        count(when(col(s"tf$i") > 0, 1)).as(s"df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    // per-term contribution, written with the SAME operand order as the
    // DuckDB twin so identical inputs take identical IEEE paths
    def w(i: Int) = {
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n").cast("double") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    }
    val score = terms.indices.map(w).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(score * lit(1e6)).cast("long").as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(topK)
  }

  /** Bootstrap the (term, doc, tf) multiplicity state for an INCREMENTALLY
    * maintained inverted index — the retrieval twin of the lakehouse
    * incremental-view family ([[graft.store.IncrementalView]]): term
    * frequencies are sign-foldable, so the index follows a mutating
    * corpus from delta-sized change feeds instead of re-tokenizing
    * everything after every merge. State size is O(postings) — exactly
    * what a full rebuild would shuffle on EVERY refresh, held once.
    */
  def indexState(snapshot: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    snapshot.select(col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** Fold one signed [[graft.store.VersionedTable.changeFeed]] into the
    * index state: an updated document contributes −old terms +new terms
    * (both images arrive sign-weighted in the feed), a delete retracts
    * its whole term multiset. Work per refresh is changed-docs ×
    * terms-per-doc plus a state-sized re-aggregation — the corpus is
    * never re-tokenized. Postings whose tf reaches zero vanish, matching
    * a rebuild that never saw the doc.
    */
  def applyFeedIndex(state: DataFrame, feed: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    state.unionByName(
        feed.select(col(idCol).as("doc_id"), col("__sign"),
            explode(TextFunctions.shingles(col(textCol), n)).as("term"))
          .groupBy("term", "doc_id").agg(sum(col("__sign")).as("tf")))
      .groupBy("term", "doc_id").agg(sum("tf").as("tf"))
      .where(col("tf") > 0)

  /** Read (term, df, tf_total) off an [[indexState]] state — one
    * state-sized aggregation, no corpus access.
    */
  def termStats(state: DataFrame): DataFrame =
    state.groupBy("term").agg(
      count(lit(1)).as("df"), sum("tf").as("tf_total"))

  /** Quality gate on corpus-rare n-grams: a document whose text is full of
    * n-grams nobody else writes is likely garbled (OCR noise, mojibake,
    * hash soup). Emits ONE ROW PER INPUT DOC: the n-gram total, the count
    * of occurrences whose corpus frequency is below 1/`rareFactor` of the
    * corpus MEAN n-gram frequency, and `keep` = rare share at most
    * 1/`keepDen`. Docs shorter than n tokens are judged via their one
    * degenerate short shingle (the library-wide [[TextFunctions.shingles]]
    * contract); a doc with NULL text has no grams at all and surfaces as
    * `(n_ngrams = 0, n_rare = 0, keep = true)` — nothing to judge, nothing
    * to flag — so a caller filtering on `keep` never silently drops a doc.
    *
    * The threshold compare is `cnt · rareFactor · D < T` (D = distinct
    * n-grams, T = total occurrences) evaluated in 38-digit decimal — exact
    * integer math at any scale, no float in the gate.
    */
  def rareNgramGate(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, rareFactor: Int = 8, keepDen: Int = 20): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("g"))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("d"), sum("cnt").as("t"))
    val flagged = counts.crossJoin(broadcast(totals))
      .select(col("g"),
        (col("cnt").cast("decimal(38,0)") * lit(rareFactor) * col("d")
          < col("t").cast("decimal(38,0)")).as("is_rare"))
    val judged = grams.join(flagged, "g")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_ngrams"),
        count(when(col("is_rare"), 1)).as("n_rare"))
    docs.select(col(idCol).as("doc_id"))
      .join(judged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("n_rare") * lit(keepDen) <= col("n_ngrams"), lit(true))
          .as("keep"))
  }

  /** N-gram counts over a REFERENCE corpus — the model half of a
    * CCNet-style language-model familiarity filter (Wenzek et al.,
    * LREC'20 keep documents whose n-grams the target distribution
    * actually produces; cf. the RedPajama/Dolma quality stacks). The
    * model is just `(gram, cnt)` — mergeable across corpus shards and
    * vocabulary-sized (Zipf-bounded), orders of magnitude smaller than
    * the corpus it summarizes.
    */
  def ngramModel(reference: DataFrame, textCol: String,
      n: Int = 2): DataFrame =
    reference.select(
        explode(TextFunctions.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))

  /** Score documents against an [[ngramModel]]: per doc, the gram total
    * (with multiplicity), how many of those occurrences the reference
    * has seen at all, the summed reference counts over them (`ref_mass`
    * — the frequency-weighted familiarity numerator), and `keep` =
    * known share at least `keepNum`/`keepDen`. Every quantity is an
    * INTEGER, so the gate is exact and oracle-hashable; true log-space
    * perplexity is a float epilogue over the same joined counts, left
    * to the caller because no hash-compared result can contain an
    * order-dependent float sum. Emits ONE ROW PER INPUT DOC (null-text
    * docs have no grams and surface as all-zero keep=true, the
    * [[rareNgramGate]] contract).
    *
    * Scale shape: one explode-side shuffle join on gram — broadcast
    * when the model fits (its rows and bytes observed in the one job
    * that materializes it, [[Sizing.broadcastIfFits]]), hash join with
    * AQE skew handling otherwise. The model is never collected and its
    * lineage runs once; the corpus is read once.
    */
  def familiarityGate(docs: DataFrame, model: DataFrame, idCol: String,
      textCol: String, n: Int = 2, keepNum: Int = 1, keepDen: Int = 2)
      : DataFrame = {
    require(keepDen >= 1 && keepNum >= 0,
      "familiarityGate needs keepNum >= 0 and keepDen >= 1")
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("gram"))
    val (m, nModel, modelBytes) = Sizing.materializeSized(model)
    val judged = grams
      .join(Sizing.broadcastIfFits(m, nModel, modelBytes), Seq("gram"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        count(col("cnt")).as("n_known"),
        coalesce(sum("cnt"), lit(0L)).as("ref_mass"))
    docs.select(col(idCol).as("doc_id"))
      .join(judged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("ref_mass"), lit(0L)).as("ref_mass"),
        coalesce(col("n_known") * lit(keepDen) >=
          col("n_grams") * lit(keepNum), lit(true)).as("keep"))
  }

  /** DSIR-shape importance gate (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS'23): score every document
    * by how much more TARGET-like than RAW-like its n-gram mass is, under
    * two [[ngramModel]]s — one trained on a target-domain reference slice,
    * one on a raw-corpus slice — and keep documents whose average
    * target-relative gram frequency is at least `keepNum`/`keepDen` times
    * their average raw-relative frequency:
    *
    *   keep  ⇔  t_mass/t_total ≥ (keepNum/keepDen) · r_mass/r_total
    *         ⇔  t_mass·r_total·keepDen ≥ r_mass·t_total·keepNum
    *
    * where t_mass/r_mass sum each model's count over the doc's gram
    * occurrences and t_total/r_total are the models' occurrence totals.
    * The cross-multiplied form keeps the gate INTEGER-EXACT (DSIR's
    * log-ratio is a float epilogue over the same joined counts, left to
    * the caller — no hash-compared result can carry an order-dependent
    * float sum). The cross products are evaluated in decimal(38,0):
    * masses and totals are longs, so their product can exceed 2⁶³ on a
    * large corpus long before the emitted per-doc masses themselves do.
    * An EMPTY model makes its side of the inequality 0, so an empty
    * target keeps everything — the caller owns slice choice. Emits one
    * row per input doc; null-text docs are all-zero keep=true (0 ≥ 0),
    * the [[familiarityGate]]/[[rareNgramGate]] contract.
    *
    * Scale shape: the two models full-outer-merge on gram (model-sized,
    * never corpus-sized) and materialize once, so the corpus pays ONE
    * gram-keyed shuffle join — broadcast when the merged model fits
    * (observed in that one job, [[Sizing.broadcastIfFits]]), hash join
    * with AQE skew handling otherwise — plus a one-row totals broadcast
    * read off the same materialized model.
    */
  def importanceGate(docs: DataFrame, target: DataFrame, raw: DataFrame,
      idCol: String, textCol: String, n: Int = 2, keepNum: Int = 1,
      keepDen: Int = 1): DataFrame = {
    require(keepDen >= 1 && keepNum >= 0,
      "importanceGate needs keepNum >= 0 and keepDen >= 1")
    val (model, nModel, modelBytes) = Sizing.materializeSized(
      ngramModel(target, textCol, n)
        .withColumnRenamed("cnt", "cnt_t")
        .join(ngramModel(raw, textCol, n).withColumnRenamed("cnt", "cnt_r"),
          Seq("gram"), "full_outer"))
    val totals = model.agg(
      coalesce(sum("cnt_t"), lit(0L)).as("t_total"),
      coalesce(sum("cnt_r"), lit(0L)).as("r_total"))
    val judged = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("gram"))
      .join(Sizing.broadcastIfFits(model, nModel, modelBytes), Seq("gram"),
        "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum("cnt_t"), lit(0L)).as("t_mass"),
        coalesce(sum("cnt_r"), lit(0L)).as("r_mass"))
    val dec = "decimal(38,0)"
    docs.select(col(idCol).as("doc_id"))
      .join(judged, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("t_mass"), lit(0L)).as("t_mass"),
        coalesce(col("r_mass"), lit(0L)).as("r_mass"),
        col("t_total"), col("r_total"))
      .withColumn("keep",
        col("t_mass").cast(dec) * col("r_total").cast(dec) *
          lit(keepDen).cast(dec) >=
        col("r_mass").cast(dec) * col("t_total").cast(dec) *
          lit(keepNum).cast(dec))
  }
}
