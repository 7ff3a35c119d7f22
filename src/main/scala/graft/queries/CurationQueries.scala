package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Retrieval}

import Shared._

/** Corpus-curation family: language id, quality and repetition gates,
  * PII scrubbing, decontamination, importance and budget selection,
  * classifier scoring, mixing, and the streamed curation pipeline.
  */
private[graft] object CurationQueries {

  /** The q125/q182 Gopher repetition KEEP gate (dup lines ≤ 30%,
    * dup-line chars ≤ 20%, top-bigram chars ≤ 20% — cross-multiplied
    * integers over [[TextFunctions.repetitionStats]]), shared for the
    * same single-definition reason.
    */
  private def repetitionKeep(txt: Column): Column = {
    val zeros = array(Seq.fill(6)(lit(0L)): _*)
    val st = coalesce(TextFunctions.repetitionStats(txt), zeros)
    val nChars = coalesce(length(txt).cast(LongType), lit(0L))
    st(1) * 10 <= st(0) * 3 && st(3) * 5 <= st(2) && st(5) * 5 <= nChars
  }

  val specs: Seq[QuerySpec] = Seq(

    // language-ID by marker-word voting (n-gram heuristic shape)
    QuerySpec("q35_lang_id",
      (s, dir) => {
        val txt = col("text")
        val hits = Map(
          "de" -> TextFunctions.langHits(txt, Seq("fast", "slow")),
          "en" -> TextFunctions.langHits(txt, Seq("the", "a")),
          "es" -> TextFunctions.langHits(txt, Seq("big", "small")),
          "fr" -> TextFunctions.langHits(txt, Seq("key", "order")),
          "zh" -> TextFunctions.langHits(txt, Seq("scan", "merge")))
        val top = greatest(hits.values.toSeq: _*)
        val pred = Seq("de", "en", "es", "fr", "zh").foldRight(lit("und")) {
          (l, acc) => when(hits(l) === top && top > 0, lit(l)).otherwise(acc)
        }
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("labeled_lang"), pred.as("pred_lang"))
          .orderBy("doc_id")
      },
      {
        def hits(ws: Seq[String]) =
          s"len(list_filter($toksSql, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
        val h = Map(
          "de" -> hits(Seq("fast", "slow")), "en" -> hits(Seq("the", "a")),
          "es" -> hits(Seq("big", "small")), "fr" -> hits(Seq("key", "order")),
          "zh" -> hits(Seq("scan", "merge")))
        val top = s"greatest(${Seq("de", "en", "es", "fr", "zh").map(l => s"h_$l").mkString(",")})"
        val pred = Seq("de", "en", "es", "fr", "zh")
          .map(l => s"WHEN h_$l = $top AND $top > 0 THEN '$l'")
          .mkString(" ")
        s"""WITH scored AS (SELECT doc_id, lang,
           |  ${h.map { case (l, e) => s"$e AS h_$l" }.mkString(", ")}
           |  FROM documents)
           |SELECT doc_id, lang AS labeled_lang,
           |  CASE $pred ELSE 'und' END AS pred_lang
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    // quality scoring: token/char/stopword stats, all single-pass exprs
    QuerySpec("q36_text_quality",
      (s, dir) => {
        val txt = col("text")
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.nTokens(txt).as("n_tokens"),
            TextFunctions.subTokenCount(txt).as("n_subtokens"),
            TextFunctions.meanTokenLen(txt).as("mean_token_len"),
            TextFunctions.stopwordRatio(txt, Seq("the", "a")).as("stopword_ratio"))
          .orderBy("doc_id")
      },
      s"""WITH q AS (SELECT doc_id, $toksSql AS tk, text FROM documents)
         |SELECT doc_id,
         |  CAST(len(tk) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_subtokens,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |    list_aggregate(list_transform(tk, x -> strlen(x)), 'sum')::DOUBLE
         |      / len(tk) END AS mean_token_len,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |    len(list_filter(tk, x -> x IN ('the','a')))::DOUBLE / len(tk)
         |  END AS stopword_ratio
         |FROM q ORDER BY doc_id""".stripMargin),

    // CCNet-style LM familiarity (Wenzek et al., LREC'20): score every
    // document against a bigram model trained on a reference slice of
    // the corpus (doc_id % 3 == 0). All quantities integer — gram
    // totals, known-gram counts, reference-count mass — so the gate is
    // decimal-exact; log-space perplexity is a float epilogue the
    // caller applies to the same joined counts
    QuerySpec("q121_lm_familiarity",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = Retrieval.ngramModel(
          docs.where(col("doc_id") % 3 === 0), "text")
        Retrieval.familiarityGate(docs, model, "doc_id", "text")
          .orderBy("doc_id")
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, unnest(${shinglesSql("toks", 2)}) AS gram
         |  FROM tk),
         |model AS (SELECT gram, count(*) AS cnt FROM g
         |  WHERE doc_id % 3 = 0 GROUP BY 1),
         |agg AS (SELECT g.doc_id, count(*) AS n_grams,
         |  count(m.cnt) AS n_known,
         |  CAST(coalesce(sum(m.cnt), 0) AS BIGINT) AS ref_mass
         |  FROM g LEFT JOIN model m USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_known, 0) AS n_known,
         |  coalesce(ref_mass, 0) AS ref_mass,
         |  coalesce(n_known * 2 >= n_grams * 1, TRUE) AS keep
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // DSIR-shape importance gate (Xie et al., NeurIPS'23): keep documents
    // whose bigram mass is at least as target-like (lang='en' reference)
    // as raw-like (even-doc_id corpus slice) — the cross-multiplied
    // integer form of the importance-ratio test, decimal(38,0) products
    // so the gate survives corpus-scale totals; the float log-ratio is a
    // caller epilogue over the same joined counts
    QuerySpec("q124_importance_gate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Retrieval.importanceGate(docs,
            target = docs.where(col("lang") === "en"),
            raw = docs.where(col("doc_id") % 2 === 0),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      s"""WITH tk AS (SELECT doc_id, lang, $toksSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, lang, unnest(${shinglesSql("toks", 2)}) AS gram
         |  FROM tk),
         |tm AS (SELECT gram, count(*) AS cnt_t FROM g
         |  WHERE lang = 'en' GROUP BY 1),
         |rm AS (SELECT gram, count(*) AS cnt_r FROM g
         |  WHERE doc_id % 2 = 0 GROUP BY 1),
         |tot AS (SELECT
         |  (SELECT CAST(coalesce(sum(cnt_t), 0) AS BIGINT) FROM tm) AS t_total,
         |  (SELECT CAST(coalesce(sum(cnt_r), 0) AS BIGINT) FROM rm) AS r_total),
         |agg AS (SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(coalesce(sum(tm.cnt_t), 0) AS BIGINT) AS t_mass,
         |  CAST(coalesce(sum(rm.cnt_r), 0) AS BIGINT) AS r_mass
         |  FROM g LEFT JOIN tm USING (gram) LEFT JOIN rm USING (gram)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(t_mass, 0) AS t_mass,
         |  coalesce(r_mass, 0) AS r_mass,
         |  t_total, r_total,
         |  coalesce(t_mass, 0)::HUGEINT * r_total::HUGEINT >=
         |    coalesce(r_mass, 0)::HUGEINT * t_total::HUGEINT AS keep
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |CROSS JOIN tot
         |ORDER BY d.doc_id""".stripMargin),

    // Gopher repetition filters (Rae et al. 2021 §A1.1): duplicate-line
    // share, duplicate-line char mass, and top-bigram char mass, each
    // thresholded as a cross-multiplied integer fraction (≤30% dup
    // lines, ≤20% dup-line chars, ≤20% top-2-gram chars). The stats are
    // ONE fused codegen pass per row — no explode, no shuffle
    QuerySpec("q125_repetition_filter",
      (s, dir) => {
        val zeros = array(Seq.fill(6)(lit(0L)): _*)
        t(s, dir, "documents")
          .select(col("doc_id"),
            coalesce(TextFunctions.repetitionStats(col("text")), zeros)
              .as("st"),
            coalesce(length(col("text")).cast("long"), lit(0L))
              .as("n_chars"))
          .select(col("doc_id"),
            col("st")(0).as("n_lines"), col("st")(1).as("dup_lines"),
            col("st")(2).as("line_chars"),
            col("st")(3).as("dup_line_chars"),
            col("st")(4).as("top2_cnt"), col("st")(5).as("top2_chars"),
            col("n_chars"))
          .withColumn("keep",
            col("dup_lines") * 10 <= col("n_lines") * 3 &&
            col("dup_line_chars") * 5 <= col("line_chars") &&
            col("top2_chars") * 5 <= col("n_chars"))
          .orderBy("doc_id")
      },
      s"""WITH l AS (SELECT doc_id, line FROM (
         |    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(line) > 0),
         |lc AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2),
         |ls AS (SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS n_lines,
         |  CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
         |    AS dup_lines,
         |  CAST(sum(c * len(line)) AS BIGINT) AS line_chars,
         |  CAST(coalesce(sum(c * len(line)) FILTER (WHERE c >= 2), 0)
         |    AS BIGINT) AS dup_line_chars
         |  FROM lc GROUP BY 1),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, unnest(${shinglesSql("toks", 2)}) AS gram
         |  FROM tk),
         |gcnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         |top AS (SELECT doc_id, CAST(c AS BIGINT) AS top2_cnt,
         |  CAST(c * len(gram) AS BIGINT) AS top2_chars
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY c DESC, gram) AS rn FROM gcnt)
         |  WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(n_lines, 0) AS n_lines,
         |  coalesce(dup_lines, 0) AS dup_lines,
         |  coalesce(line_chars, 0) AS line_chars,
         |  coalesce(dup_line_chars, 0) AS dup_line_chars,
         |  coalesce(top2_cnt, 0) AS top2_cnt,
         |  coalesce(top2_chars, 0) AS top2_chars,
         |  CAST(coalesce(len(d.text), 0) AS BIGINT) AS n_chars,
         |  (coalesce(dup_lines, 0) * 10 <= coalesce(n_lines, 0) * 3
         |   AND coalesce(dup_line_chars, 0) * 5 <= coalesce(line_chars, 0)
         |   AND coalesce(top2_chars, 0) * 5 <=
         |     CAST(coalesce(len(d.text), 0) AS BIGINT)) AS keep
         |FROM documents d
         |LEFT JOIN ls ON d.doc_id = ls.doc_id
         |LEFT JOIN top ON d.doc_id = top.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // PII scrub: sequential email→IP→phone redaction with stage-local
    // counts — pure narrow codegen'd regex map (operators.Scrub). The
    // synthetic corpus carries no PII, so deterministic PII is APPENDED
    // in-query (both engines build the identical string) to make the
    // oracle discriminate: email on doc_id%3=0, IPv4 on %4=0, phone on
    // %5=0 — 60 distinct presence/absence combinations per 60 ids
    QuerySpec("q126_pii_scrub",
      (s, dir) => {
        val pii = t(s, dir, "documents")
          .withColumn("text", concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" contact user"), col("doc_id").cast(StringType),
                lit("@mail.example.com"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(4)) === 0,
              concat(lit(" at 10."),
                pmod(col("doc_id"), lit(200)).cast(StringType),
                lit(".0.1"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" call +1 555-01"),
                lpad(pmod(col("doc_id"), lit(100)).cast(StringType), 2, "0")))
              .otherwise(lit(""))))
        graft.operators.Scrub.redactPii(pii)
          .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
            md5(col("redacted")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      """WITH pii AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
         |      '@mail.example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 4 = 0 THEN ' at 10.' || (doc_id % 200) ||
         |      '.0.1' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-01' ||
         |      lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id, t, regexp_replace(t,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
         |    '<EMAIL>', 'g') AS t1 FROM pii),
         |s2 AS (SELECT doc_id, t, t1, regexp_replace(t1,
         |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
         |  FROM s1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         |    AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t1,
         |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t2,
         |    '\+\d[\d\- ]{7,}\d')) AS BIGINT) AS n_phone,
         |  md5(regexp_replace(t2, '\+\d[\d\- ]{7,}\d',
         |    '<PHONE>', 'g')) AS redacted_md5
         |FROM s2 ORDER BY doc_id""".stripMargin),

    // budget-bounded corpus selection: best docs by score until the token
    // budget fills — distributed prefix sum over a (score desc, id) range
    // partitioning, NO global-sort window (operators.Corpus). Pre-projects
    // to the three consumed columns: the RDD boundary blocks Catalyst
    // pruning, so the caller prunes (documented on packSequences too)
    QuerySpec("q127_budget_select",
      (s, dir) =>
        graft.operators.Corpus.selectToTokenBudget(
            t(s, dir, "documents").select(
              col("doc_id"), col("n_chars"),
              size(TextFunctions.tokens(col("text"))).cast(LongType)
                .as("nt")),
            col("n_chars").cast(DoubleType), "doc_id", col("nt"),
            tokenBudget = 9000L)
          .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
          .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, n_chars, len($toksSql) AS nt
         |  FROM documents),
         |c AS (SELECT doc_id, nt,
         |    sum(nt) OVER (ORDER BY n_chars DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM tk WHERE nt IS NOT NULL)
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |  CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= 9000 ORDER BY doc_id""".stripMargin),

    // model-based quality filter, trained AND applied in-pipeline: the
    // 80% train split (doc_id%5≠0) labels en-vs-rest, one aggregate
    // builds the class-centroid model, a 1-row broadcast scores every
    // doc with an integer-exact cross-multiplied margin
    QuerySpec("q130_quality_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        val seed = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val model = graft.operators.Classify.centroidModel(
          seed, col("lang") === "en")
        graft.operators.Classify.scoreByModel(docs, model)
          .select(col("doc_id"), col("margin").cast(LongType).as("margin"),
            col("quality_pred"))
          .orderBy("doc_id")
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |hh AS (SELECT doc_id, ${pHashSql("t")} AS hv FROM t2),
         |v AS (SELECT doc_id, hv % 64 AS bucket,
         |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
         |    AS BIGINT) AS v
         |  FROM hh GROUP BY 1, 2),
         |seed AS (SELECT doc_id, (lang = 'en') AS lab FROM documents
         |  WHERE doc_id % 5 <> 0),
         |s AS (SELECT bucket,
         |    SUM(CASE WHEN lab THEN v ELSE 0 END) AS sp,
         |    SUM(CASE WHEN NOT lab THEN v ELSE 0 END) AS sn
         |  FROM v JOIN seed USING (doc_id) GROUP BY 1),
         |n AS (SELECT SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS npos,
         |    SUM(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS nneg
         |  FROM seed),
         |d AS (SELECT v.doc_id, SUM(v.v * s.sp) AS dp,
         |    SUM(v.v * s.sn) AS dn
         |  FROM v JOIN s USING (bucket) GROUP BY 1)
         |SELECT doc.doc_id,
         |  CASE WHEN doc.text IS NULL THEN NULL
         |    ELSE CAST(n.nneg * coalesce(d.dp, 0)
         |      - n.npos * coalesce(d.dn, 0) AS BIGINT) END AS margin,
         |  CASE WHEN doc.text IS NULL THEN NULL
         |    ELSE (n.nneg * coalesce(d.dp, 0)
         |      - n.npos * coalesce(d.dn, 0)) > 0 END AS quality_pred
         |FROM documents doc CROSS JOIN n
         |LEFT JOIN d ON d.doc_id = doc.doc_id
         |ORDER BY doc.doc_id""".stripMargin),

    // sign-foldable classifier refresh: the q130 model follows a change
    // feed (delete seed docs with id%7=0, insert id%5=0∧id%3=0) with
    // delta-sized work; emitted model == a rebuild over the final seed
    // membership, checked value-for-value by the oracle
    QuerySpec("q131_classifier_feed",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        val lab = col("lang") === "en"
        val seed0 = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val model0 = graft.operators.Classify.centroidModel(seed0, lab)
        val feed = seed0.where(pmod(col("doc_id"), lit(7)) === 0)
            .withColumn("__sign", lit(-1L))
          .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0 &&
              pmod(col("doc_id"), lit(3)) === 0)
            .withColumn("__sign", lit(1L)))
        graft.operators.Classify.applyFeedCentroidModel(model0, feed, lab)
          .select(posexplode(col("pos_sum")).as(Seq("pos", "wpos")),
            col("neg_sum"), col("n_pos"), col("n_neg"))
          .select(col("pos"), col("wpos"),
            col("neg_sum").getItem(col("pos")).as("wneg"),
            col("n_pos"), col("n_neg"))
          .orderBy("pos")
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |hh AS (SELECT doc_id, ${pHashSql("t")} AS hv FROM t2),
         |v AS (SELECT doc_id, hv % 64 AS bucket,
         |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
         |    AS BIGINT) AS v
         |  FROM hh GROUP BY 1, 2),
         |m AS (SELECT doc_id, (lang = 'en') AS lab FROM documents
         |  WHERE (doc_id % 5 <> 0 AND doc_id % 7 <> 0)
         |     OR (doc_id % 5 = 0 AND doc_id % 3 = 0)),
         |s AS (SELECT bucket,
         |    SUM(CASE WHEN lab THEN v ELSE 0 END) AS sp,
         |    SUM(CASE WHEN NOT lab THEN v ELSE 0 END) AS sn
         |  FROM v JOIN m USING (doc_id) GROUP BY 1),
         |n AS (SELECT
         |    CAST(SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT)
         |      AS npos,
         |    CAST(SUM(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nneg FROM m)
         |SELECT CAST(g.range AS INTEGER) AS pos,
         |  CAST(coalesce(s.sp, 0) AS BIGINT) AS wpos,
         |  CAST(coalesce(s.sn, 0) AS BIGINT) AS wneg,
         |  n.npos AS n_pos, n.nneg AS n_neg
         |FROM range(64) g CROSS JOIN n
         |LEFT JOIN s ON s.bucket = g.range
         |ORDER BY pos""".stripMargin),

    // epoch-repetition mixing (data-constrained training): equal
    // per-domain token targets, scarce domains repeat up to 4 epochs,
    // abundant ones subsample into epoch 0 — capped-uniform integer
    // allocation + hash-thresholded partial epochs, no RNG
    QuerySpec("q132_epoch_mix",
      (s, dir) =>
        graft.operators.Corpus.allocateEpochs(
            t(s, dir, "documents").select(col("doc_id"), col("lang"),
              size(TextFunctions.tokens(col("text"))).cast(LongType)
                .as("nt")),
            "lang", "doc_id", col("nt"), tokenBudget = 40000L, maxEpochs = 4)
          .select(col("doc_id"), col("lang"), col("epoch"))
          .orderBy("doc_id", "epoch"),
      s"""WITH tk AS (SELECT doc_id, lang, len($toksSql) AS nt
         |  FROM documents),
         |cnt AS (SELECT lang,
         |    CAST(SUM(coalesce(nt, 0)) AS HUGEINT) AS n
         |  FROM tk GROUP BY 1),
         |tgt AS (SELECT CAST(40000 AS HUGEINT) // count(*) AS t
         |  FROM cnt),
         |p1 AS (SELECT lang, n, t,
         |    CASE WHEN n <= 0 THEN CAST(0 AS HUGEINT)
         |         ELSE least(t // n, CAST(4 AS HUGEINT)) END AS fullep
         |  FROM cnt CROSS JOIN tgt),
         |plan AS (SELECT lang, fullep,
         |    CASE WHEN n <= 0 OR fullep >= 4 THEN CAST(0 AS HUGEINT)
         |         ELSE least((CAST(1000000 AS HUGEINT)
         |             * (t - fullep * n)) // n,
         |           CAST(1000000 AS HUGEINT)) END AS keep
         |  FROM p1),
         |fullc AS (SELECT t.doc_id, t.lang,
         |    unnest(range(0, CAST(p.fullep AS BIGINT))) AS epoch
         |  FROM tk t JOIN plan p USING (lang)),
         |part AS (SELECT t.doc_id, t.lang,
         |    CAST(p.fullep AS BIGINT) AS epoch
         |  FROM tk t JOIN plan p USING (lang)
         |  WHERE ${pHashSql(
                "t.lang || '@' || CAST(p.fullep AS BIGINT) || '|' || t.doc_id")}
         |    % 1000000 < p.keep)
         |SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
         |FROM (SELECT * FROM fullc UNION ALL SELECT * FROM part)
         |ORDER BY doc_id, epoch""".stripMargin),

    // the round-9 curation pipeline end-to-end: train the quality
    // classifier on the 80% split, keep positively-classified docs,
    // budget-select the best margins, epoch-mix the survivors — four
    // operators composed, one oracle replaying the whole chain
    QuerySpec("q133_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        val seed = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val model = graft.operators.Classify.centroidModel(
          seed, col("lang") === "en")
        val scored = graft.operators.Classify.scoreByModel(docs, model)
          .where(col("quality_pred"))
          .select(col("doc_id"), col("lang"),
            // the integer margin IS the score; double cast is exact far
            // beyond any realistic magnitude here
            col("margin").cast(DoubleType).as("score"),
            size(TextFunctions.tokens(col("text"))).cast(LongType).as("nt"))
        val selected = graft.operators.Corpus.selectToTokenBudget(
          scored, col("score"), "doc_id", col("nt"), tokenBudget = 6000L)
        graft.operators.Corpus.allocateEpochs(
            selected.select("doc_id", "lang", "nt"),
            "lang", "doc_id", col("nt"), tokenBudget = 8000L, maxEpochs = 3)
          .select(col("doc_id"), col("lang"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      s"""WITH tk AS (SELECT doc_id, lang, $toksSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |hh AS (SELECT doc_id, ${pHashSql("t")} AS hv FROM t2),
         |v AS (SELECT doc_id, hv % 64 AS bucket,
         |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
         |    AS BIGINT) AS v
         |  FROM hh GROUP BY 1, 2),
         |seed AS (SELECT doc_id, (lang = 'en') AS lab FROM documents
         |  WHERE doc_id % 5 <> 0),
         |s AS (SELECT bucket,
         |    SUM(CASE WHEN lab THEN v ELSE 0 END) AS sp,
         |    SUM(CASE WHEN NOT lab THEN v ELSE 0 END) AS sn
         |  FROM v JOIN seed USING (doc_id) GROUP BY 1),
         |n AS (SELECT SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS npos,
         |    SUM(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS nneg
         |  FROM seed),
         |dd AS (SELECT v.doc_id, SUM(v.v * s.sp) AS dp,
         |    SUM(v.v * s.sn) AS dn
         |  FROM v JOIN s USING (bucket) GROUP BY 1),
         |kept AS (SELECT k.doc_id, k.lang,
         |    CAST(n.nneg * coalesce(dd.dp, 0)
         |      - n.npos * coalesce(dd.dn, 0) AS DOUBLE) AS score,
         |    len(k.toks) AS nt
         |  FROM tk k CROSS JOIN n
         |  LEFT JOIN dd ON dd.doc_id = k.doc_id
         |  WHERE n.nneg * coalesce(dd.dp, 0)
         |      - n.npos * coalesce(dd.dn, 0) > 0),
         |sel AS (SELECT doc_id, lang, nt FROM (
         |    SELECT *, sum(nt) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM kept)
         |  WHERE cum <= 6000),
         |cnt AS (SELECT lang,
         |    CAST(SUM(coalesce(nt, 0)) AS HUGEINT) AS cn
         |  FROM sel GROUP BY 1),
         |tgt AS (SELECT CAST(8000 AS HUGEINT) // count(*) AS t
         |  FROM cnt),
         |p1 AS (SELECT lang, cn, t,
         |    CASE WHEN cn <= 0 THEN CAST(0 AS HUGEINT)
         |         ELSE least(t // cn, CAST(3 AS HUGEINT)) END AS fullep
         |  FROM cnt CROSS JOIN tgt),
         |plan AS (SELECT lang, fullep,
         |    CASE WHEN cn <= 0 OR fullep >= 3 THEN CAST(0 AS HUGEINT)
         |         ELSE least((CAST(1000000 AS HUGEINT)
         |             * (t - fullep * cn)) // cn,
         |           CAST(1000000 AS HUGEINT)) END AS keep
         |  FROM p1),
         |fullc AS (SELECT x.doc_id, x.lang,
         |    unnest(range(0, CAST(p.fullep AS BIGINT))) AS epoch
         |  FROM sel x JOIN plan p USING (lang)),
         |part AS (SELECT x.doc_id, x.lang,
         |    CAST(p.fullep AS BIGINT) AS epoch
         |  FROM sel x JOIN plan p USING (lang)
         |  WHERE ${pHashSql(
                "x.lang || '@' || CAST(p.fullep AS BIGINT) || '|' || x.doc_id")}
         |    % 1000000 < p.keep)
         |SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
         |FROM (SELECT * FROM fullc UNION ALL SELECT * FROM part)
         |ORDER BY doc_id, epoch""".stripMargin),

    // Unicode NFC canonicalization (codegen'd kernel vs DuckDB's
    // nfc_normalize): the ASCII corpus is salted in-query with a
    // decomposed accent sequence on even ids so the normalization
    // actually rewrites — lengths shrink, md5s match cross-engine.
    // (Both engines count BMP chars identically here; the corpus plus
    // the salt stay inside the BMP by construction.)
    QuerySpec("q134_nfc_normalize",
      (s, dir) => {
        val decomposed = "Cafe\u0301 :: " // 'e' + U+0301 combining acute
        val doc = t(s, dir, "documents")
          .withColumn("raw", when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(decomposed), col("text"))).otherwise(col("text")))
        val norm = TextFunctions.nfcNormalize(col("raw"))
        doc.select(col("doc_id"),
            length(col("raw")).cast(LongType).as("len_raw"),
            length(norm).cast(LongType).as("len_nfc"),
            md5(norm).as("nfc_md5"),
            (norm =!= col("raw")).as("changed"))
          .orderBy("doc_id")
      },
      """WITH r AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'Cafe' || chr(769) || ' :: ' || text ELSE text END
        |      AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(raw) AS BIGINT) AS len_raw,
        |  CAST(len(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
        |  md5(nfc_normalize(raw)) AS nfc_md5,
        |  (nfc_normalize(raw) <> raw) AS changed
        |FROM r ORDER BY doc_id""".stripMargin),

    // streaming curation as a PURE streaming query: PII-salted docs
    // stream through the codegen'd scrub map and a stream-static
    // broadcast join with the 1-row classifier model — no foreachBatch,
    // no state store; append sink == batch result by construction,
    // value-checked by the oracle (q126's salt + q130's model, scored
    // on the SCRUBBED text)
    QuerySpec("q135_stream_curate",
      (s, dir) => {
        val root = scratch("graft_scur_")
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        // model trained batch-side on the raw 80% seed (the static side)
        val model = graft.operators.Classify.centroidModel(
          docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
          col("lang") === "en").localCheckpoint()
        // source backlog: q126's deterministic PII salt, two files
        val salted = docs.withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact user"), col("doc_id").cast(StringType),
              lit("@mail.example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" at 10."),
              pmod(col("doc_id"), lit(200)).cast(StringType),
              lit(".0.1"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" call +1 555-01"),
              lpad(pmod(col("doc_id"), lit(100)).cast(StringType), 2, "0")))
            .otherwise(lit(""))))
          .select("doc_id", "text")
        val src = java.nio.file.Paths.get(s"$root/src")
        java.nio.file.Files.createDirectories(src)
        salted.where(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
          .write.parquet(s"$root/b1")
        salted.where(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
          .write.parquet(s"$root/b2")
        def firstPart(d: String): java.nio.file.Path = {
          val ls = java.nio.file.Files.list(java.nio.file.Paths.get(d))
          try ls.filter(p => p.getFileName.toString.startsWith("part-") &&
              p.toString.endsWith(".parquet")).findFirst.get
          finally ls.close()
        }
        java.nio.file.Files.copy(firstPart(s"$root/b1"),
          src.resolve("a_even.parquet"))
        java.nio.file.Files.copy(firstPart(s"$root/b2"),
          src.resolve("b_odd.parquet"))
        val schema = s.read.parquet(s"$root/b1").schema
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingCurate.runAvailableNow(
            s, src.toString, schema, model, s"$root/out", s"$root/ckpt")
        }
        s.read.parquet(s"$root/out").orderBy("doc_id")
      },
      {
        // regexes injected as Scala values: s-interpolated triple quotes
        // process escapes, so backslashes must ride in via $-injection
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
        val phoneRe = "\\+\\d[\\d\\- ]{7,}\\d"
        val toksOfSc =
          "list_filter(string_split_regex(sc, '\\s+'), t -> strlen(t) > 0)"
        s"""WITH pii AS (SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
           |      '@mail.example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 4 = 0 THEN ' at 10.' || (doc_id % 200) ||
           |      '.0.1' ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-01' ||
           |      lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END AS t
           |  FROM documents),
           |sA AS (SELECT doc_id, t,
           |    regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t1
           |  FROM pii),
           |sB AS (SELECT doc_id, t, t1,
           |    regexp_replace(t1, '$ipRe', '<IP>', 'g') AS t2 FROM sA),
           |scr AS (SELECT doc_id, t, t1, t2,
           |    regexp_replace(t2, '$phoneRe', '<PHONE>', 'g') AS sc
           |  FROM sB),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM documents
           |  WHERE text IS NOT NULL),
           |t2d AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
           |hh AS (SELECT doc_id, ${pHashSql("tok")} AS hv FROM t2d),
           |v AS (SELECT doc_id, hv % 64 AS bucket,
           |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
           |    AS BIGINT) AS v
           |  FROM hh GROUP BY 1, 2),
           |seed AS (SELECT doc_id, (lang = 'en') AS lab FROM documents
           |  WHERE doc_id % 5 <> 0),
           |smod AS (SELECT bucket,
           |    SUM(CASE WHEN lab THEN v ELSE 0 END) AS sp,
           |    SUM(CASE WHEN NOT lab THEN v ELSE 0 END) AS sn
           |  FROM v JOIN seed USING (doc_id) GROUP BY 1),
           |n AS (SELECT SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS npos,
           |    SUM(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS nneg
           |  FROM seed),
           |tksc AS (SELECT doc_id, $toksOfSc AS toks FROM scr
           |  WHERE sc IS NOT NULL),
           |t2s AS (SELECT doc_id, unnest(toks) AS tok FROM tksc),
           |hs AS (SELECT doc_id, ${pHashSql("tok")} AS hv FROM t2s),
           |vs AS (SELECT doc_id, hv % 64 AS bucket,
           |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
           |    AS BIGINT) AS v
           |  FROM hs GROUP BY 1, 2),
           |dd AS (SELECT vs.doc_id, SUM(vs.v * smod.sp) AS dp,
           |    SUM(vs.v * smod.sn) AS dn
           |  FROM vs JOIN smod USING (bucket) GROUP BY 1)
           |SELECT scr.doc_id,
           |  CAST(len(regexp_extract_all(scr.t, '$emailRe')) AS BIGINT)
           |    AS n_email,
           |  CAST(len(regexp_extract_all(scr.t1, '$ipRe')) AS BIGINT)
           |    AS n_ip,
           |  CAST(len(regexp_extract_all(scr.t2, '$phoneRe')) AS BIGINT)
           |    AS n_phone,
           |  md5(scr.sc) AS redacted_md5,
           |  CASE WHEN scr.sc IS NULL THEN NULL
           |    ELSE CAST(n.nneg * coalesce(dd.dp, 0)
           |      - n.npos * coalesce(dd.dn, 0) AS BIGINT) END AS margin,
           |  CASE WHEN scr.sc IS NULL THEN NULL
           |    ELSE (n.nneg * coalesce(dd.dp, 0)
           |      - n.npos * coalesce(dd.dn, 0)) > 0 END AS quality_pred
           |FROM scr CROSS JOIN n
           |LEFT JOIN dd ON dd.doc_id = scr.doc_id
           |ORDER BY scr.doc_id""".stripMargin
      }),

    // curation-audit attribution: every doc labeled with its FIRST
    // rejecting stage through the standard chain — null text → quality
    // heuristics (q79b's gates) → Gopher repetition (q125's integer
    // thresholds) → exact-dup keep-first (computed on the survivors,
    // the population-dependent stage) → eval decontamination (3-word
    // shingles vs the doc_id % 50 == 0 slice) — or 'accepted'. The
    // operability report a production pipeline ships next to its
    // output; Corpus.attributeRejections resolves priority in ONE
    // shuffle over the tagged reject-id union
    QuerySpec("q182_curation_audit",
      (s, dir) => {
        import graft.operators.{Corpus, Dedup}
        val all = t(s, dir, "documents").select("doc_id", "text")
        val docs = all.where(pmod(col("doc_id"), lit(50)) =!= 0)
        val evalDocs = all.where(pmod(col("doc_id"), lit(50)) === 0)
        val txt = col("text")
        val qualBad = !qualityKeep(txt)
        val repKeep = repetitionKeep(txt)
        val surv13 = docs.where(txt.isNotNull && !qualBad && repKeep)
        val keepIds = Dedup.exact(surv13).select(col("keep_id").as("doc_id"))
        val nonNull = docs.where(txt.isNotNull)
        Corpus.attributeRejections(docs, "doc_id", Seq(
            "null_text" -> docs.where(txt.isNull),
            "quality" -> docs.where(txt.isNotNull && qualBad),
            "repetition" -> docs.where(txt.isNotNull && !repKeep),
            "exact_dup" -> surv13.join(keepIds, Seq("doc_id"), "left_anti"),
            "contaminated" -> nonNull.join(
              Dedup.decontaminate(nonNull, evalDocs, shingleN = 3)
                .select("doc_id"), Seq("doc_id"), "left_anti")))
          .orderBy("doc_id")
      },
      // q182: the sequential chain restated as accept/reject CTEs
      // (q79b's quality gates, q125's repetition thresholds, the
      // contentHash keep-first among stage-3 survivors, q79b's
      // 3-shingle eval contamination) resolved by the same priority
      // CASE the Spark side's attributeRejections applies
      s"""WITH tr AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 50 <> 0),
         |tk3 AS (SELECT doc_id, text, $toksSql AS tk FROM tr
         |  WHERE text IS NOT NULL),
         |qb AS (SELECT doc_id FROM (
         |    SELECT doc_id, len(tk) AS ntok,
         |      CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |        list_aggregate(list_transform(tk, x -> strlen(x)),
         |          'sum')::DOUBLE / len(tk) END AS mtl,
         |      CASE WHEN strlen(text) = 0 THEN 0.0 ELSE
         |        (strlen(text) - strlen(regexp_replace(text,
         |          '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / strlen(text)
         |      END AS pr
         |    FROM tk3)
         |  WHERE NOT (ntok >= 20 AND mtl >= 3.0 AND mtl <= 10.0
         |    AND pr <= 0.2)),
         |rl AS (SELECT doc_id, line FROM (
         |    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |    FROM tr WHERE text IS NOT NULL)
         |  WHERE len(line) > 0),
         |rlc AS (SELECT doc_id, line, count(*) AS c FROM rl GROUP BY 1, 2),
         |rls AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_lines,
         |    CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
         |      AS dup_lines,
         |    CAST(sum(c * len(line)) AS BIGINT) AS line_chars,
         |    CAST(coalesce(sum(c * len(line)) FILTER (WHERE c >= 2), 0)
         |      AS BIGINT) AS dup_line_chars
         |  FROM rlc GROUP BY 1),
         |rg AS (SELECT doc_id, unnest(${shinglesSql("tk", 2)}) AS gram
         |  FROM tk3),
         |rgc AS (SELECT doc_id, gram, count(*) AS c FROM rg GROUP BY 1, 2),
         |rtop AS (SELECT doc_id, CAST(c * len(gram) AS BIGINT)
         |    AS top2_chars
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY c DESC, gram) AS rn FROM rgc)
         |  WHERE rn = 1),
         |rb AS (SELECT t.doc_id FROM tk3 t
         |  LEFT JOIN rls ON t.doc_id = rls.doc_id
         |  LEFT JOIN rtop ON t.doc_id = rtop.doc_id
         |  WHERE NOT (coalesce(dup_lines, 0) * 10
         |      <= coalesce(n_lines, 0) * 3
         |    AND coalesce(dup_line_chars, 0) * 5
         |      <= coalesce(line_chars, 0)
         |    AND coalesce(top2_chars, 0) * 5
         |      <= CAST(coalesce(len(t.text), 0) AS BIGINT))),
         |s13 AS (SELECT doc_id, text FROM tk3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM qb)
         |    AND doc_id NOT IN (SELECT doc_id FROM rb)),
         |ch2 AS (SELECT doc_id,
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS chash
         |  FROM s13),
         |kp AS (SELECT min(doc_id) AS k FROM ch2 GROUP BY chash),
         |db AS (SELECT doc_id FROM ch2
         |  WHERE doc_id NOT IN (SELECT k FROM kp)),
         |tsh2 AS (SELECT doc_id,
         |    unnest(list_distinct(${shinglesSql("tk")})) AS s FROM tk3),
         |etk AS (SELECT doc_id, $toksSql AS tk FROM documents
         |  WHERE doc_id % 50 = 0),
         |esh2 AS (SELECT DISTINCT
         |    unnest(list_distinct(${shinglesSql("tk")})) AS s FROM etk),
         |cb AS (SELECT DISTINCT t.doc_id FROM tsh2 t JOIN esh2 USING (s))
         |SELECT t.doc_id, CASE
         |    WHEN t.text IS NULL THEN 'null_text'
         |    WHEN t.doc_id IN (SELECT doc_id FROM qb) THEN 'quality'
         |    WHEN t.doc_id IN (SELECT doc_id FROM rb) THEN 'repetition'
         |    WHEN t.doc_id IN (SELECT doc_id FROM db) THEN 'exact_dup'
         |    WHEN t.doc_id IN (SELECT doc_id FROM cb) THEN 'contaminated'
         |    ELSE 'accepted' END AS stage
         |FROM tr t ORDER BY doc_id""".stripMargin),

    // C4/Gopher-style quality filter: signals + keep decision in one pass
    QuerySpec("q45_quality_filter",
      (s, dir) => {
        val txt = col("text")
        val nt = TextFunctions.nTokens(txt)
        val mtl = TextFunctions.meanTokenLen(txt)
        val pr = TextFunctions.punctRatio(txt)
        t(s, dir, "documents")
          .select(col("doc_id"), nt.as("n_tokens"), mtl.as("mean_token_len"),
            pr.as("punct_ratio"),
            (nt >= 20 && mtl >= 3.0 && mtl <= 10.0 && pr <= 0.2).as("keep"))
          .orderBy("doc_id")
      },
      s"""WITH q AS (SELECT doc_id, $toksSql AS tk, text FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS INTEGER) AS n_tokens,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |    list_aggregate(list_transform(tk, x -> strlen(x)), 'sum')::DOUBLE
         |      / len(tk) END AS mean_token_len,
         |  CASE WHEN strlen(text) = 0 THEN 0.0 ELSE
         |    (strlen(text) - strlen(regexp_replace(text,
         |      '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / strlen(text)
         |  END AS punct_ratio
         |  FROM q)
         |SELECT doc_id, n_tokens, mean_token_len, punct_ratio,
         |  n_tokens >= 20 AND mean_token_len >= 3.0
         |    AND mean_token_len <= 10.0 AND punct_ratio <= 0.2 AS keep
         |FROM m ORDER BY doc_id""".stripMargin),

    // per-language corpus stats (exact decimal-free aggregates)
    QuerySpec("q46_lang_stats",
      (s, dir) =>
        t(s, dir, "documents").groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.nTokens(col("text")).cast(LongType)).as("total_tokens"),
            sum(col("n_chars")).as("total_chars"),
            (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"))
          .orderBy("lang"),
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  sum(n_chars)::DOUBLE / count(*) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Gopher-style repetition signals (dup-token and top-bigram ratios)
    QuerySpec("q52_text_repetition",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.dupTokenRatio(col("text")).as("dup_token_ratio"),
            TextFunctions.dupBigramRatio(col("text")).as("top_bigram_ratio"))
          .orderBy("doc_id"),
      s"""WITH q AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, tk, ${shinglesSql("tk", 2)} AS grams FROM q)
         |SELECT doc_id,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |    1.0 - len(list_distinct(tk))::DOUBLE / len(tk) END
         |    AS dup_token_ratio,
         |  CASE WHEN len(tk) < 2 THEN 0.0 ELSE
         |    list_max(list_transform(list_distinct(grams),
         |      gg -> len(list_filter(grams, x -> x = gg))))::DOUBLE
         |      / len(grams) END AS top_bigram_ratio
         |FROM g ORDER BY doc_id""".stripMargin),

    // temperature-reweighted language mixture (T=2): integer fixed-point
    // thresholds from exact domain counts, hash-filtered rows — fully
    // deterministic, reproduced bit-for-bit by the SQL twin
    QuerySpec("q87_temperature_mix",
      (s, dir) =>
        graft.operators.Corpus.temperatureSample(t(s, dir, "documents"),
            "lang", "doc_id", fracPct = 30)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n,
         |  CAST(floor(1000000.0 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt
         |  FROM c),
         |agg AS (SELECT SUM(wt) AS s, SUM(n) AS total FROM w),
         |thr AS (SELECT lang,
         |  CAST(LEAST((CAST(1000000 AS HUGEINT) * wt
         |      * ((CAST(total AS HUGEINT) * 30) // 100)) // (CAST(s AS HUGEINT) * n),
         |    1000000) AS BIGINT) AS t
         |  FROM w, agg)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN thr ON d.lang = thr.lang
         |WHERE ${pHashSql("d.lang || '|' || CAST(d.doc_id AS VARCHAR)")}
         |  % 1000000 < thr.t
         |ORDER BY d.doc_id""".stripMargin),

    // benchmark decontamination: drop training docs sharing any 3-gram
    // with the held-out eval slice (doc_id % 50 == 0) — the test-set
    // leakage guard every pretraining corpus needs
    QuerySpec("q71_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminate(
            docs.where(col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 50 === 0), shingleN = 3)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
         |  AS s FROM toks),
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
         |cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id % 50 <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY d.doc_id""".stripMargin),

    // PII scrubbing over deterministic synthetic contact strings (emails
    // derived from customer names): replace + count, identical Java/RE2
    // regex subset on both engines
    QuerySpec("q72_pii_scrub",
      (s, dir) => {
        val raw = concat(lit("contact "),
          lower(translate(col("c_name"), "# ", "_.")), lit("@example.com"),
          lit(" or call 555-0123 ref "), col("c_custkey").cast(StringType))
        t(s, dir, "customer")
          .select(col("c_custkey"), raw.as("raw"))
          .select(col("c_custkey"),
            TextFunctions.scrubPii(col("raw")).as("scrubbed"),
            regexp_count(col("raw"), lit(TextFunctions.EmailRe)).as("n_emails"),
            regexp_count(col("raw"), lit(TextFunctions.PhoneRe)).as("n_phones"))
          .orderBy("c_custkey")
      },
      """WITH r AS (SELECT c_custkey,
        |  'contact ' || lower(translate(c_name, '# ', '_.')) ||
        |  '@example.com or call 555-0123 ref ' ||
        |  CAST(c_custkey AS VARCHAR) AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{4}\b'))
        |    AS INTEGER) AS n_phones
        |FROM r ORDER BY c_custkey""".stripMargin),

    // Bloom-prefiltered decontamination (the 100 TB path): a driver-built
    // bloom over the eval shingles probes the corpus in a NARROW codegen'd
    // filter — no corpus-wide shingle explode/shuffle; only candidate
    // survivors pay the exact semi-join verify. Bloom filters have no
    // false negatives, so the oracle is the EXACT decontamination result
    QuerySpec("q96_decontaminate_bloom",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminateBloom(
            docs.where(col("doc_id") % 40 =!= 0),
            docs.where(col("doc_id") % 40 === 0), shingleN = 3)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
         |  AS s FROM toks),
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 40 = 0),
         |cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id % 40 <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY d.doc_id""".stripMargin),

    // Count-Min point-estimate gates: the weighted CMS builds off the SAME
    // exact counts frame (one corpus scan total; localCheckpoint for the
    // same bounded-lifetime reason as q84), and for the exact top-20
    // tokens the in-query gates re-prove the sketch theory every run —
    // estimates never undercount, and overcount stays within the bound
    QuerySpec("q97_cms_topk_gate",
      (s, dir) => {
        val eps = 0.0005
        val cnts = t(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val cms = graft.operators.Sketches
          .countMinOfCounts(cnts, "token", "cnt", eps, 0.99, 42)
        val totals = cnts.agg(sum("cnt").as("n_total"))
        val est = graft.functions.SketchExpressions.cmsEstimate(col("token"), cms)
        // gate at 2·eps·N, not eps·N: the CMS guarantee P(err ≤ eps·N) holds
        // only with confidence 0.99 PER PROBE, so 20 probes carry a few
        // percent worst-case spurious-failure chance on reseeded/regenerated
        // data. Markov per depth-row gives P(err > 2·eps·N) ≤ (2e)^-d — with
        // d = ceil(ln 100) = 5 that is ~2e-4 per probe, negligible across 20.
        cnts.orderBy(col("cnt").desc, col("token")).limit(20)
          .crossJoin(totals) // 1-row gate assembly
          .select(col("token"), col("cnt"),
            (est >= col("cnt")).as("lower_ok"),
            (est <= col("cnt") + ceil(lit(2 * eps) * col("n_total")).cast("long"))
              .as("upper_ok"))
          .orderBy(col("cnt").desc, col("token"))
      },
      s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk
         |  GROUP BY token)
         |SELECT token, cnt, TRUE AS lower_ok, TRUE AS upper_ok
         |FROM c ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    // variable-length matched spans: per document pair, every maximal run
    // of verbatim-shared tokens with its TRUE length (a 200-token quote is
    // one row, match_len 200) — the pairwise complement of q94's per-doc
    // extents, k-gram seeds extended along join diagonals
    QuerySpec("q98_matched_spans",
      (s, dir) =>
        graft.operators.Dedup.maximalMatchedSpans(t(s, dir, "documents"), 8)
          .orderBy("doc_a", "doc_b", "a_start", "b_start"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks) - 8 + 2),
         |      i -> struct_pack(pos := i - 1,
         |        h := md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS sp
         |  FROM tk WHERE len(toks) >= 8),
         |sh AS (SELECT doc_id, sp.pos AS pos, sp.h AS h FROM sh0),
         |occ AS (SELECT doc_id, pos, h FROM
         |  (SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS c FROM sh)
         |  WHERE c > 1 AND c <= 1000),
         |seeds AS (SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db,
         |    b.pos AS pb, a.pos - b.pos AS diag
         |  FROM occ a JOIN occ b ON a.h = b.h
         |    AND (a.doc_id < b.doc_id
         |      OR (a.doc_id = b.doc_id AND a.pos < b.pos))),
         |isl AS (SELECT da, db, pa, pb, diag,
         |    CASE WHEN pa > lag(pa)
         |        OVER (PARTITION BY da, db, diag ORDER BY pa) + 1
         |      THEN 1 ELSE 0 END AS brk FROM seeds),
         |grp AS (SELECT da, db, pa, pb, diag,
         |    sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa) AS g
         |  FROM isl)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(min(pa) AS BIGINT) AS a_start,
         |  CAST(min(pb) AS BIGINT) AS b_start,
         |  CAST(max(pa) - min(pa) + 8 AS BIGINT) AS match_len
         |FROM grp GROUP BY da, db, diag, g
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin),

    // rare-bigram quality gate: occurrences whose corpus frequency is
    // under 1/8 of the mean flag as rare; docs over 5% rare are dropped.
    // The threshold compare is pure integer (decimal-38) math
    QuerySpec("q111_rare_ngram_gate",
      (s, dir) =>
        Retrieval.rareNgramGate(t(s, dir, "documents"), "doc_id", "text",
            n = 2, rareFactor = 8, keepDen = 20)
          .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |gg AS (SELECT doc_id, unnest(${shinglesSql("tk", 2)}) AS g
         |  FROM tk),
         |c AS (SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM gg
         |  GROUP BY g),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |  CAST(sum(cnt) AS BIGINT) AS tt FROM c),
         |judged AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |  CAST(count(*) FILTER (WHERE c.cnt * 8 * t.d < t.tt) AS BIGINT)
         |    AS n_rare,
         |  CAST(count(*) FILTER (WHERE c.cnt * 8 * t.d < t.tt) AS BIGINT)
         |    * 20 <= CAST(count(*) AS BIGINT) AS keep
         |FROM gg JOIN c USING (g), t
         |GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_ngrams, 0) AS n_ngrams,
         |  coalesce(n_rare, 0) AS n_rare, coalesce(keep, TRUE) AS keep
         |FROM documents d LEFT JOIN judged USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
  )
}
