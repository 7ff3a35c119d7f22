package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Dedup

import Shared._

/** Tokenizer/packing family: BPE encode, learn and apply, byte-level
  * BPE, the unigram LM, sequence packing and its streaming forms, token
  * decontamination, the token-distribution drift reports, and the
  * streamed curate → dedup → pack capstones (q140/q141/q158), which
  * share one curated front half and one oracle fragment.
  */
private[graft] object TokenizerQueries {

  /** The q137-family compound salt — each doc's first 16 chars, spaces
    * removed, appended as ONE synthetic compound word so the greedy
    * matcher must decompose unseen compounds into word-pieces. MUST stay
    * byte-identical to the oracle side's shared `docs2` CTE
    * (`bpeSeqCtes`): every BPE-vocab query and its SQL twin flow through
    * this single definition — editing one without the other desyncs the
    * whole family's gates.
    */
  private def saltCompound(c: Column): Column =
    concat(c, lit(" "), regexp_replace(substring(c, 1, 16), " ", ""))

  private def saltedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("text", saltCompound(col("text")))

  /** The shared q137-family piece vocabulary (minCount 5, size cap 200 —
    * the same constants as the twins' `wv0`/`alpha` CTEs), collected as
    * kernel model metadata.
    */
  private def q137Pieces(docs: DataFrame): Seq[(String, Int)] =
    graft.operators.Corpus.collectPieces(
      graft.operators.Corpus.buildPieceVocab(docs, "text",
        minCount = 5, maxSize = 200))

  /** The shared q180-family unigram piece table (maxPieceLen 4,
    * minCount 8, size cap 120 — the same constants as the twins'
    * `usub`/`umulti` CTEs), costed on the driver.
    */
  private def unigramPieces(docs: DataFrame): Seq[(String, Int, Long)] =
    graft.operators.Corpus.collectUnigramPieces(
      graft.operators.Corpus.buildUnigramVocab(docs, "text",
        maxPieceLen = 4, minCount = 8, maxSize = 120))

  /** q159's multi-byte salt — every UTF-8 width on purpose: 2-byte
    * (é U+00E9), 3-byte (CJK, → U+2192, λ U+03BB), and 4-byte
    * supplementary-plane (😀 U+1F600, a surrogate pair in the JVM),
    * plus doubled/leading whitespace so the whitespace-preserving
    * pretokenizer is exercised, not just ASCII words. ONE constant so
    * the Spark query and the DuckDB twin can never drift.
    */
  private val byteBpeSalt =
    "  néé 日本語→λ 😀 "

  /** q168's EXTRA salt, appended after [[byteBpeSalt]]: every GPT-2
    * pretokenizer branch on purpose — contractions ('t/'ll + an
    * unmatched 'N for the punct fallback), a letter→digit→punct class
    * chain (3.14words—and), a lone tab before a word, a run ENDING in
    * non-space whitespace before a word (` \t\tzz` — the oracle's RE2
    * adjustment term counts exactly these), and a double space ahead of the appended doc-id digits (the
    * shed-all-but-last-space lookahead). ONE constant, like
    * [[byteBpeSalt]], so the query and twin can never drift; the
    * apostrophes are SQL-escaped at twin-build time.
    */
  private val gpt2Salt =
    " don't we'll O'Neil 3.14words—and\tmore \t\tzz  "

  /** [[gpt2Salt]] with apostrophes doubled for embedding in a DuckDB
    * single-quoted literal (the tabs embed as-is). */
  private val gpt2SaltSql = gpt2Salt.replace("'", "''")

  /** The q154/q156 train/eval construction — ONE place because the
    * shared `tokenDecontamSql` twin is valid for BOTH queries only
    * while this shape stays byte-identical between them. One encode
    * pass over the corpus (checkpointed: train, eval, and the sibling
    * quote join all read the materialization — lazy, the kernel would
    * run up to three times and push below computed-column filters).
    * Eval = each id%50=0 doc's ids ++ its successor's (the planted
    * verbatim-quote leak); a token-less eval doc carries no quote
    * either, mirroring the twin's inner join on the token table.
    */
  private def tokenDecontamFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (withIds, evalSlice) = tokenDecontamParts(s, dir)
    (withIds.where(col("doc_id") % 50 =!= 0), evalSlice(0))
  }

  /** The ONE sibling-quote construction behind the whole
    * token-decontamination fixture family (q154/q156/q157/q164's
    * single-suite form AND q165's two-suite form share it — the shared
    * oracle twins are valid only while this shape stays byte-identical
    * across consumers, so it lives in exactly one place): tokenized
    * corpus plus an eval-slice builder where slice m = each
    * doc_id%50==m doc's ids ++ its successor's (the planted
    * verbatim-quote leak).
    */
  private def tokenDecontamParts(s: SparkSession, dir: String)
      : (DataFrame, Int => DataFrame) = {
    val docs = saltedDocs(s, dir)
    val pieces = q137Pieces(docs)
    val withIds = docs.select(col("doc_id"),
      graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
        .as("ids")).localCheckpoint()
    val sib = withIds.select((col("doc_id") - 1).as("doc_id"),
      col("ids").as("sib_ids"))
    def evalSlice(m: Int) = withIds.where(col("doc_id") % 50 === m &&
        size(col("ids")) > 0)
      .join(sib, Seq("doc_id"), "left")
      .select(col("doc_id"), concat(col("ids"),
        coalesce(col("sib_ids"), array().cast("array<int>"))).as("ids"))
    (withIds, evalSlice)
  }

  /** q165's growing-eval-suite fixture: TWO eval slices (%50==0 = the
    * benchmark suite already decontaminated against, %50==25 = the
    * newly added benchmark), the train side excluding both.
    */
  private def tokenDecontamDeltaFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (withIds, evalSlice) = tokenDecontamParts(s, dir)
    (withIds.where(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 25),
      evalSlice(0), evalSlice(25))
  }

  /** q165's memoized inputs: the timed region must measure the
    * MAINTENANCE path (delta windows + hit-table merge), not the
    * old-suite recompute that builds its input — so train/evals AND the
    * old hit table (computed at hashWindows = true, the SAME
    * representation the delta runs at: a
    * mixed-representation merge would open the under-flag channel the
    * operator doc forbids) land in parquet once per JVM.
    */
  private def q165Fixture(s: SparkSession, dir: String): String =
    memoFixture("q165", dir) { () =>
      val root = fixtureScratch("graft_q165_")
      val (train, evOld, evNew) = tokenDecontamDeltaFixture(s, dir)
      train.write.parquet(s"$root/train")
      evOld.write.parquet(s"$root/ev_old")
      evNew.write.parquet(s"$root/ev_new")
      graft.operators.Dedup.decontaminateTokenNgrams(train, evOld, n = 13,
          hashWindows = true)
        .write.parquet(s"$root/old_hits")
      root
    }

  /** q140/q141 shared front half: stream two curated micro-batches
    * through the dedup index — q135's deterministic PII salt on the
    * corpus, scrub + broadcast-model scoring composed as the stateless
    * per-row `prepare` hook IN FRONT of the stateful hash-set index —
    * and return (accepted state, model). Fresh scratch per call; the
    * accepted frame carries (doc_id, batch, text) with text already
    * curated (scrubbed, quality-gated).
    */
  private def streamCurateDedupAccepted(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val root = scratch("graft_scd_")
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    // the model build and the two backlog writes below are independent
    // jobs — overlap them; Await sites before first use
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val modelF = Future {
      graft.operators.Classify.centroidModel(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        col("lang") === "en").localCheckpoint()
    }
    // q135's deterministic PII salt
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
    // even ids arrive as batch 1, odd as batch 2; the slice writes run
    // while modelF builds
    val (src, schema) = parityBacklog(s, root, salted)
    val model = Await.result(modelF, Duration.Inf)
    // the per-batch curation: scrub, score the SCRUBBED text, keep
    // quality_pred — per-row and deterministic (the prepare contract)
    def curate(batch: DataFrame): DataFrame = {
      val scrubbed = graft.operators.Scrub.redactPii(batch, "text")
        .drop("text").withColumnRenamed("redacted", "text")
      graft.operators.Classify.scoreByModel(scrubbed, model, "text")
        .where(col("quality_pred"))
        .select("doc_id", "text")
    }
    withShufflePartitions(s, 2) {
      graft.streaming.StreamingDedupIndex.runAvailableNow(
        s, src, schema, s"$root/state", s"$root/ckpt",
        prepare = curate)
    }
    val (accepted, _, _) =
      graft.streaming.StreamingDedupIndex.readState(s, s"$root/state")
    (accepted, model)
  }

  // Parameterized BPE block (q137/q139/q141): over a source CTE
  // exposing (doc_id, text), emits the piece vocab (frequent words +
  // char alphabet, min-id on collisions), relational best-match
  // lengths, the greedy MaxMatch walk as a recursive CTE, and
  // per-doc piece counts/digests in `seq`. Every multiply-referenced
  // stage is AS MATERIALIZED (the bpeLearnCtes lesson): DuckDB
  // inlines plain CTEs per reference, so `ta`/`words`/`pieces`/
  // `bestid` would each re-expand their WHOLE upstream — including
  // an expensive caller chain like q141's streamed-curation `corp` —
  // once per consumer. Measured on the q141 twin: ~20 min inlined →
  // ~2 min materialized, same rows.
  private def bpePieceCtes(srcCte: String): String =
    s"""ta AS MATERIALIZED (SELECT doc_id, $toksSql AS arr
       |  FROM $srcCte),
       |toks AS MATERIALIZED (SELECT doc_id, unnest(arr) AS tok,
       |    unnest(range(1, len(arr) + 1)) AS ord
       |  FROM ta WHERE len(arr) > 0),
       |words AS MATERIALIZED (SELECT DISTINCT tok FROM toks),
       |wv0 AS (SELECT tok AS token, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
       |  GROUP BY tok HAVING sum(c) >= 5
       |  ORDER BY cnt DESC, token LIMIT 200),
       |wv AS (SELECT token AS piece,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER)
       |      AS id FROM wv0),
       |wpos AS MATERIALIZED (SELECT tok,
       |    CAST(unnest(range(1, length(tok) + 1)) AS INTEGER) AS p
       |  FROM words),
       |alpha AS (SELECT ch,
       |    CAST(200 + row_number() OVER (ORDER BY ch) AS INTEGER) AS id
       |  FROM (SELECT DISTINCT substr(tok, p, 1) AS ch FROM wpos)),
       |pieces AS MATERIALIZED (SELECT piece, MIN(id) AS id FROM (
       |    SELECT piece, id FROM wv
       |    UNION ALL SELECT ch AS piece, id FROM alpha) GROUP BY piece),
       |lens AS (SELECT DISTINCT CAST(length(piece) AS INTEGER) AS l
       |  FROM pieces),
       |best AS (SELECT w.tok, w.p, MAX(length(pc.piece)) AS blen
       |  FROM wpos w JOIN lens ln ON ln.l <= length(w.tok) - w.p + 1
       |  JOIN pieces pc ON pc.piece = substr(w.tok, w.p, ln.l)
       |  GROUP BY w.tok, w.p),
       |bestid AS MATERIALIZED (SELECT b.tok, b.p,
       |    CAST(b.blen AS INTEGER) AS blen, pc.id
       |  FROM best b JOIN pieces pc
       |    ON pc.piece = substr(b.tok, b.p, b.blen)),
       |greedy AS (
       |  SELECT tok, CAST(1 AS INTEGER) AS p, CAST(0 AS INTEGER) AS step
       |    FROM words
       |  UNION ALL
       |  SELECT g.tok, CAST(g.p + b.blen AS INTEGER),
       |      CAST(g.step + 1 AS INTEGER)
       |    FROM greedy g JOIN bestid b ON b.tok = g.tok AND b.p = g.p),
       |wp AS MATERIALIZED (SELECT g.tok, g.step, b.id
       |  FROM greedy g JOIN bestid b ON b.tok = g.tok AND b.p = g.p),
       |seq AS MATERIALIZED (SELECT t.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_pieces,
       |    string_agg(CAST(wp.id AS VARCHAR), ' '
       |      ORDER BY t.ord, wp.step) AS ids_str
       |  FROM toks t JOIN wp ON wp.tok = t.tok
       |  GROUP BY t.doc_id)""".stripMargin

  // q137/q139's instantiation: the compound-salted corpus
  private val bpeSeqCtes: String =
    s"""docs2 AS (SELECT doc_id,
       |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
       |      AS text FROM documents),
       |${bpePieceCtes("docs2")}""".stripMargin

  // q180: the unigram-LM Viterbi twin. The builder CTEs restate
  // Corpus.buildUnigramVocab/collectUnigramPieces (substring
  // candidates weighted by token occurrences, alphabet always kept,
  // (cnt desc, piece) selection + ids, HUGEINT floor-div costs), and
  // the DP unrolls as `maxW` chained per-position stages — stage k
  // keeps, per word, ONE row: the (cost, path)-minimal segmentation
  // of the word's first k characters, `path` being the pieces joined
  // by chr(1) so `ORDER BY cost, path` under binary collation is
  // EXACTLY the kernel's UTF-8-byte tie-break. Word length is capped
  // by construction (base tokens ≤ 8 chars, the salt compound ≤ 16),
  // so the unroll is total, not a truncation. Every stage is AS
  // MATERIALIZED — ub{k} is referenced by up to `maxL` later stages
  // plus the final per-length pick, and DuckDB inlines plain CTEs
  // per reference (the bpePieceCtes lesson).
  // the DP half alone, prefix- and cost-table-parameterized so a
  // SECOND Viterbi pass (q184's hard-EM re-encode, over re-estimated
  // costs) unrolls from the same generator: emits {p}b0..{p}b{maxW},
  // {p}seg (per-word segmentation: ids, piece count, total cost) and
  // {p}enc (per-doc rollup incl. the exact vit_cost) over the shared
  // utc/utoks word feed, reading piece costs from `costCte`
  private def unigramDpCtes(p: String, costCte: String, maxL: Int,
      maxW: Int): String = {
    val stages = (1 to maxW).map { k =>
      val cands = (math.max(0, k - maxL) until k).map { j =>
        s"""SELECT b.w AS w, b.cost + pc.cost AS cost,
           |      b.path || chr(1) || pc.piece AS path,
           |      CASE WHEN b.ids = '' THEN CAST(pc.id AS VARCHAR)
           |        ELSE b.ids || ' ' || CAST(pc.id AS VARCHAR) END AS ids,
           |      b.n + 1 AS n
           |    FROM ${p}b$j b JOIN $costCte pc ON pc.plen = ${k - j}
           |      AND pc.piece = substr(b.w, ${j + 1}, ${k - j})
           |    WHERE length(b.w) >= $k""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""${p}b$k AS MATERIALIZED (SELECT w, cost, path, ids, n FROM (
         |  SELECT w, cost, path, ids, n, row_number() OVER (
         |      PARTITION BY w ORDER BY cost, path) AS rn FROM (
         |$cands
         |  )) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val pick = (1 to maxW)
      .map(k => s"SELECT w, ids, n, cost FROM ${p}b$k WHERE length(w) = $k")
      .mkString("\n  UNION ALL\n  ")
    s"""${p}b0 AS (SELECT tok AS w, CAST(0 AS BIGINT) AS cost, '' AS path,
       |    '' AS ids, 0 AS n FROM utc),
       |$stages,
       |${p}seg AS MATERIALIZED (
       |  $pick),
       |${p}enc AS (SELECT t.doc_id, CAST(sum(s.n) AS BIGINT) AS n_pieces,
       |    CAST(sum(s.cost) AS BIGINT) AS vit_cost,
       |    md5(string_agg(s.ids, ' ' ORDER BY t.ord)) AS ids_md5
       |  FROM utoks t JOIN ${p}seg s ON s.w = t.tok
       |  GROUP BY 1)""".stripMargin
  }

  private def unigramCtes(maxL: Int, minCount: Long, maxSize: Int,
      scale: Long, maxW: Int): String = {
    s"""uta AS MATERIALIZED (SELECT doc_id, $toksSql AS arr FROM docs2),
       |utoks AS MATERIALIZED (SELECT doc_id, unnest(arr) AS tok,
       |    unnest(range(1, len(arr) + 1)) AS ord
       |  FROM uta WHERE len(arr) > 0),
       |utc AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS wc
       |  FROM utoks GROUP BY tok),
       |usub AS MATERIALIZED (
       |  SELECT substr(tok, i, l) AS piece, CAST(sum(wc) AS BIGINT) AS cnt
       |  FROM (SELECT tok, wc, l,
       |        unnest(range(1, length(tok) - l + 2)) AS i
       |      FROM (SELECT tok, wc,
       |          unnest(range(1, least(length(tok), $maxL) + 1)) AS l
       |        FROM utc))
       |  GROUP BY 1),
       |umulti AS (SELECT piece, cnt FROM usub
       |  WHERE length(piece) >= 2 AND cnt >= $minCount
       |  ORDER BY cnt DESC, piece LIMIT $maxSize),
       |upieces AS (SELECT piece, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INTEGER)
       |      AS id
       |  FROM (SELECT * FROM umulti UNION ALL
       |    SELECT piece, cnt FROM usub WHERE length(piece) = 1)),
       |utot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS t FROM upieces),
       |upc AS MATERIALIZED (SELECT p.piece, p.id,
       |    CAST(length(p.piece) AS INTEGER) AS plen,
       |    CAST(1 + (CAST($scale AS HUGEINT) * (u.t - p.cnt)) // u.t
       |      AS BIGINT) AS cost
       |  FROM upieces p, utot u),
       |${unigramDpCtes("u", "upc", maxL, maxW)}""".stripMargin
  }

  // q142: the same 16 learn-BPE iterations the Spark side runs,
  // UNROLLED as chained CTE stages (k is a bounded constant, so the
  // loop unrolls at SQL-generation time). Symbols ride sentinel-
  // wrapped strings — ESC||sym||FS per symbol — so adjacent pair
  // occurrences share no characters and DuckDB's left-to-right
  // non-overlapping replace() IS the greedy BPE merge; a merged
  // symbol is strictly longer than its left half, so no within-pass
  // cascade on either engine. Stages past corpus exhaustion (blt$i
  // empty — fewer than k learnable merges) propagate state unchanged
  // via LEFT JOIN ON true, mirroring the Spark loop's early stop; a
  // CROSS JOIN would empty every later blw and silently desync the
  // q143/q145/q146/q150 twins on sparse corpora.
  private val bpeLearnK = 16

  private val bpeLearnUnwrapRe =
    "regexp_extract_all(syms, e'\\x1b([^\\x1c]*)\\x1c', 1)"

  // the k learn iterations as chained CTEs (blwc word counts, blw0
  // char-wrapped symbols, then per stage: pair explode → top-1 →
  // replace-apply). `word` rides the whole chain so the APPLY twin
  // (q143) can read each word's final segmentation off blw{k}.
  private def bpeLearnChainCtes(sourceTable: String, minPairCount: Long): String = {
    val wrapInit = "regexp_replace(word, '(.)', e'\\x1b\\\\1\\x1c', 'g')"
    // every stage is AS MATERIALIZED: each blw/blt is referenced
    // twice downstream, and DuckDB inlines non-materialized CTEs —
    // a k-deep chain would otherwise expand to 2^k scans. The HAVING
    // floor mirrors learnBpeMerges' minPairCount (>= 1 is a no-op,
    // which is what the q142-family default instantiates); a stage
    // whose best pair misses the floor leaves blt$i EMPTY and the
    // LEFT JOIN propagates state unchanged — the exhaustion path
    // q160 gates on a live row
    val stages = (0 until bpeLearnK).map { i =>
      s"""blp$i AS MATERIALIZED (SELECT a[u] AS lhs, a[u + 1] AS rhs, cnt FROM
         |  (SELECT cnt, a, unnest(range(1, len(a))) AS u FROM
         |    (SELECT cnt, $bpeLearnUnwrapRe AS a FROM blw$i))),
         |blt$i AS MATERIALIZED (SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM blp$i GROUP BY 1, 2
         |  HAVING sum(cnt) >= $minPairCount
         |  ORDER BY c DESC, lhs, rhs LIMIT 1),
         |blw${i + 1} AS MATERIALIZED (SELECT w.word, w.cnt,
         |  CASE WHEN t.lhs IS NULL THEN w.syms ELSE replace(w.syms,
         |    e'\\x1b' || t.lhs || e'\\x1c\\x1b' || t.rhs || e'\\x1c',
         |    e'\\x1b' || t.lhs || t.rhs || e'\\x1c') END AS syms
         |  FROM blw$i w LEFT JOIN blt$i t ON true)""".stripMargin
    }.mkString(",\n")
    s"""blwc AS MATERIALIZED (SELECT token AS word,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($toksSql) AS token FROM $sourceTable)
       |  GROUP BY 1),
       |blw0 AS MATERIALIZED (SELECT word, cnt, $wrapInit AS syms
       |  FROM blwc WHERE length(word) >= 2),
       |$stages""".stripMargin
  }

  private val bpeLearnCtes: String = bpeLearnChainCtes("documents", 1L)

  // q142: the learned merge table itself
  private val bpeLearnOracle: String = {
    val ranks = (0 until bpeLearnK).map { i =>
      s"""SELECT CAST(${i + 1} AS INTEGER) AS merge_rank, lhs, rhs,
         |  lhs || rhs AS merged, c AS pair_count FROM blt$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeLearnCtes
       |$ranks
       |ORDER BY merge_rank""".stripMargin
  }

  // q143: rank-ordered APPLY of the learned merges — per-word symbol
  // counts read off the final stage's segmentation (words of length
  // 1 were never in the chain: one symbol each; docs with no tokens
  // count 0; null text stays null)
  private val bpeLearnApplyOracle: String =
    s"""WITH $bpeLearnCtes,
       |wfin AS (SELECT word,
       |    CAST(len($bpeLearnUnwrapRe) AS BIGINT) AS wc
       |  FROM blw$bpeLearnK),
       |dtk AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
       |dcnt AS (SELECT d.doc_id, SUM(COALESCE(w.wc, 1)) AS n
       |  FROM dtk d LEFT JOIN wfin w USING (word) GROUP BY 1)
       |SELECT doc.doc_id,
       |  CASE WHEN doc.text IS NULL THEN NULL
       |    ELSE CAST(COALESCE(dc.n, 0) AS BIGINT) END AS n_bpe_tokens
       |FROM documents doc LEFT JOIN dcnt dc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // q135's scrub + model + gate, then the q128/q129 two-batch dedup
  // policy over the GATED SCRUBBED corpus — the full streaming
  // pipeline's batch-equivalent replay. CTE chain through gacc2;
  // shared by q140 (accept list + margins) and q141 (the packs
  // pipeline over the accepted corpus).
  private val streamCurateCtes: String = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phoneRe = "\\+\\d[\\d\\- ]{7,}\\d"
    val toksOfSc =
      "list_filter(string_split_regex(sc, '\\s+'), t -> strlen(t) > 0)"
    val marginSql =
      "n.nneg * coalesce(dd.dp, 0) - n.npos * coalesce(dd.dn, 0)"
    val gBandKeys = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, CAST(gmh${2 * b} AS VARCHAR) || '_' " +
        s"|| CAST(gmh${2 * b + 1} AS VARCHAR) AS key FROM gsig"
    }.mkString(" UNION ALL ")
    val gMhTerms = Dedup.minhashCoeffs(8).zipWithIndex.map {
      case ((a, b), i) =>
        s"min((hv * $a + $b) % ${Dedup.MinhashP}) AS gmh$i"
    }.mkString(", ")
    s"""pii AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
       |      '@mail.example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' at 10.' || (doc_id % 200) ||
       |      '.0.1' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-01' ||
       |      lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END AS t
       |  FROM documents),
       |sA AS (SELECT doc_id,
       |    regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t1 FROM pii),
       |sB AS (SELECT doc_id,
       |    regexp_replace(t1, '$ipRe', '<IP>', 'g') AS t2 FROM sA),
       |scr AS (SELECT doc_id,
       |    regexp_replace(t2, '$phoneRe', '<PHONE>', 'g') AS sc FROM sB),
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
       |  FROM vs JOIN smod USING (bucket) GROUP BY 1),
       |gated AS (SELECT scr.doc_id, scr.sc AS text,
       |    CAST($marginSql AS BIGINT) AS margin
       |  FROM scr CROSS JOIN n
       |  LEFT JOIN dd ON dd.doc_id = scr.doc_id
       |  WHERE scr.sc IS NOT NULL AND $marginSql > 0),
       |gtk AS (SELECT doc_id, $toksSql AS tk FROM gated),
       |gsh AS (SELECT doc_id,
       |    unnest(list_distinct(${shinglesSql("tk")})) AS s FROM gtk),
       |gh AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM gsh),
       |gsig AS (SELECT doc_id, $gMhTerms FROM gh GROUP BY doc_id),
       |gband AS ($gBandKeys),
       |gsz AS (SELECT doc_id, count(*) AS sz FROM gsh GROUP BY 1),
       |gcand AS (SELECT DISTINCT a.doc_id AS aid, b.doc_id AS bid
       |  FROM gband a JOIN gband b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
       |ginter AS (SELECT c.aid, c.bid, count(*) AS cnt
       |  FROM gcand c
       |  JOIN gsh x ON x.doc_id = c.aid
       |  JOIN gsh y ON y.doc_id = c.bid AND y.s = x.s
       |  GROUP BY 1, 2),
       |gver AS (SELECT i.aid, i.bid FROM ginter i
       |  JOIN gsz sa ON sa.doc_id = i.aid
       |  JOIN gsz sb ON sb.doc_id = i.bid
       |  WHERE i.cnt::DOUBLE >= 0.3 * (sa.sz + sb.sz - i.cnt)),
       |grej1 AS (SELECT DISTINCT bid FROM gver
       |  WHERE bid % 2 = 0 AND aid % 2 = 0 AND aid < bid),
       |gacc1 AS (SELECT doc_id FROM gated WHERE doc_id % 2 = 0
       |  AND doc_id NOT IN (SELECT bid FROM grej1)),
       |grej2 AS (SELECT DISTINCT bid FROM gver WHERE bid % 2 = 1
       |  AND (aid IN (SELECT doc_id FROM gacc1)
       |       OR (aid % 2 = 1 AND aid < bid))),
       |gacc2 AS (SELECT doc_id FROM gated WHERE doc_id % 2 = 1
       |  AND doc_id NOT IN (SELECT bid FROM grej2))""".stripMargin
  }

  // q154/q156 share this twin: the Bloom path is gated on EQUALITY
  // with the exact operator (same relationship as q96 to q71)
  private val tokenDecontamSql: String =
    s"""WITH RECURSIVE
       |$bpeSeqCtes,
       |tws AS (SELECT doc_id, string_split(ids_str, ' ') AS ids
       |  FROM seq),
       |twin AS (SELECT doc_id,
       |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
       |  FROM (SELECT doc_id, ids,
       |      unnest(range(1, len(ids) - 13 + 2)) AS u
       |    FROM tws WHERE len(ids) >= 13)),
       |evq AS (SELECT e.doc_id,
       |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
       |  FROM documents e
       |  JOIN tws l1 ON l1.doc_id = e.doc_id
       |  LEFT JOIN tws l2 ON l2.doc_id = e.doc_id + 1
       |  WHERE e.doc_id % 50 = 0),
       |evw AS (SELECT doc_id,
       |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
       |  FROM (SELECT doc_id, ids,
       |      unnest(range(1, len(ids) - 13 + 2)) AS u
       |    FROM evq WHERE len(ids) >= 13)),
       |evg AS (SELECT DISTINCT gram FROM evw)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |FROM twin t JOIN evg USING (gram)
       |WHERE t.doc_id % 50 <> 0
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // deterministic global shuffle + shard assignment: the
    // training-order export stage — reproducible hash sort key, hash
    // shard, and the within-shard ordinal computed by the packSequences
    // prefix sum (no shard-sized window task). Stats-only consumer, so
    // the input pre-projects to the id
    QuerySpec("q122_shuffle_shard",
      (s, dir) =>
        graft.operators.Corpus.shuffleShard(
            t(s, dir, "documents").select("doc_id"), "doc_id",
            nShards = 4, seed = "s42")
          .select(col("doc_id"), col("shard"), col("sort_key"), col("pos"))
          .orderBy("doc_id"),
      s"""WITH k AS (SELECT doc_id,
         |  ${pHashSql("'s42|' || doc_id")} AS sort_key,
         |  ${pHashSql("'s42#' || doc_id")} % 4 AS shard
         |  FROM documents)
         |SELECT doc_id, shard, sort_key,
         |  row_number() OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id) - 1 AS pos
         |FROM k ORDER BY doc_id""".stripMargin),

    // packing materialized end to end: the same pack arithmetic as q68,
    // then each pack's documents concatenate in id order into one
    // training sequence — the materializing-consumer path SCALE.md
    // describes, with per-pack state bounded by the token budget
    QuerySpec("q123_pack_materialize",
      (s, dir) => {
        val packed = graft.operators.Corpus.packSequences(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("text"),
            TextFunctions.nTokens(col("text")).cast("long").as("__n_tokens")),
          "lang", "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializePacks(packed, "lang", "doc_id",
            "text")
          .orderBy("lang", "pack_id")
      },
      s"""WITH d AS (SELECT doc_id, lang, text,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, text, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |p AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, text, n_tokens FROM c)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  string_agg(text, ' ' ORDER BY doc_id) AS pack_text
         |FROM p WHERE pack_id IS NOT NULL
         |GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),

    // the FULL streaming corpus pipeline, stateless + stateful stages
    // composed: per micro-batch, scrub → classifier gate (the q135
    // stages, via the runner's prepare hook) feed the incremental
    // near-dup dedup index (the q129 state machinery) — what is banded,
    // verified, and persisted is the curated text the trainer will see,
    // and a gate-dropped doc is never judged nor a witness. One oracle
    // replays scrub + model + gate + the two-batch dedup policy
    QuerySpec("q140_stream_curate_dedup",
      (s, dir) => {
        val (accepted, model) = streamCurateDedupAccepted(s, dir)
        // margin re-derived by scoring the persisted curated text with the
        // same model — deterministic, equals the gate-time margin
        graft.operators.Classify.scoreByModel(accepted, model, "text")
          .select(col("doc_id"), col("batch"),
            md5(col("text")).as("redacted_md5"),
            col("margin").cast(LongType).as("margin"))
          .orderBy("doc_id")
      },
      // q135's scrub + model + gate, then the q128/q129 two-batch
      // dedup policy over the GATED SCRUBBED corpus — the full
      // streaming pipeline's batch-equivalent replay
      s"""WITH $streamCurateCtes
         |SELECT g.doc_id, b.batch, md5(g.text) AS redacted_md5, g.margin
         |FROM gated g JOIN (
         |  SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM gacc1
         |  UNION ALL
         |  SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM gacc2) b
         |  USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // the full training-data pipeline, end to end under ONE oracle:
    // q140's streamed curation→dedup front half (scrub + broadcast
    // model gate composed in front of the stateful hash-set index),
    // then the tokenizer × packing back half over the ACCEPTED curated
    // corpus — piece vocab learned on the survivors, count-only BPE
    // kernel for real token counts, range-shuffle prefix-sum packing,
    // pack materialization. No new shuffle beyond the components'
    // pinned shapes (q135 + q129 + q137 + q139/q123).
    QuerySpec("q141_corpus_to_packs",
      (s, dir) => {
        val (accepted, _) = streamCurateDedupAccepted(s, dir)
        val corpus = accepted.select("doc_id", "text")
          .join(t(s, dir, "documents").select("doc_id", "lang"), Seq("doc_id"))
        val pieces = q137Pieces(corpus)
        val withN = corpus.select(col("doc_id"), col("lang"), col("text"),
          graft.functions.TextFunctions.bpeCount(col("text"), pieces)
            .cast(LongType).as("__n_tokens"))
        val packed = graft.operators.Corpus.packSequences(withN, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializePacks(packed, "lang", "doc_id",
            "text")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"), md5(col("pack_text")).as("pack_md5"))
          .orderBy("lang", "pack_id")
      },
      // the capstone composition: q140's accepted curated corpus fed
      // through the piece-vocab + greedy-walk block (learned on the
      // SURVIVORS) and the q123 pack arithmetic — the whole
      // corpus→tokens→packs pipeline under one oracle
      s"""WITH RECURSIVE
         |$streamCurateCtes,
         |acc AS (SELECT g.doc_id, g.text FROM gated g
         |  JOIN (SELECT doc_id FROM gacc1
         |        UNION ALL SELECT doc_id FROM gacc2) b USING (doc_id)),
         |corp AS MATERIALIZED (SELECT a.doc_id, d.lang, a.text
         |  FROM acc a JOIN documents d USING (doc_id)),
         |${bpePieceCtes("corp")},
         |nt2 AS (SELECT c2.doc_id, c2.lang, c2.text,
         |    COALESCE(s2.n_pieces, 0) AS n_tokens
         |  FROM corp c2 LEFT JOIN seq s2 USING (doc_id)),
         |cc AS (SELECT doc_id, lang, text, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM nt2),
         |pk AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, text, n_tokens FROM cc)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS pack_md5
         |FROM pk GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),

    // greedy longest-match subword tokenization (WordPiece's MaxMatch
    // rule over a BPE-ish piece vocabulary — Devlin et al. '19 §B;
    // pieces = q86's frequent-word vocab + the corpus char alphabet as
    // fallback): the vocab builds in-pipeline, collects driver-side as
    // model metadata (vocab-sized, guard-checked), and applies through
    // the codegen'd trie kernel — one narrow pass, no UDF, no shuffle
    // beyond the vocab build. size(bpeEncode) is the REAL token count
    // the packing/budget operators accept via their nTokens column
    QuerySpec("q137_bpe_encode",
      (s, dir) => {
        // the synthetic corpus is whole frequent words — salt each doc
        // with a deterministic COMPOUND (its first 16 chars, spaces
        // removed) so the greedy matcher actually has to decompose
        // unseen words into word-pieces, not just look up whole tokens
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
              .as("__ids"))
          .select(col("doc_id"),
            size(col("__ids")).cast(LongType).as("n_pieces"),
            md5(array_join(transform(col("__ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"))
          .orderBy("doc_id")
      },
      // greedy longest-match subword encode, replayed relationally: the
      // per-(word,position) LONGEST matching piece is precomputed as a
      // table (equi-join on substr at each distinct piece length), and
      // the greedy walk is a recursive CTE stepping p -> p + best_len(p)
      // — position sets are word-lengths, never corpus-sized
      s"""WITH RECURSIVE
         |$bpeSeqCtes
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(s.n_pieces, 0) END AS n_pieces,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE md5(COALESCE(s.ids_str, '')) END AS ids_md5
         |FROM docs2 d LEFT JOIN seq s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // q68's sequence packing driven by REAL subword token counts
    // (size(bpeEncode) over the q137 piece vocab) instead of whitespace
    // tokens — the composition the packing/budget operators advertise
    // (`nTokensCol` is caller-supplied); same salted corpus as q137 so
    // the piece vocab exercises compound decomposition
    QuerySpec("q139_bpe_pack",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withN = docs.select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.bpeCount(col("text"), pieces)
            .cast(LongType).as("__n_tokens"))
        graft.operators.Corpus.packSequences(withN, "lang", "doc_id",
            col("__n_tokens"), tokenBudget = 2048)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
          .orderBy("lang", "pack_id")
      },
      // the q137 per-doc subword counts fed through q68's pack
      // arithmetic — the tokenizer × packing composition gate
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |nt AS (SELECT d.doc_id, doc.lang,
         |    CASE WHEN d.text IS NULL THEN NULL
         |      ELSE COALESCE(s.n_pieces, 0) END AS n_tokens
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM nt),
         |p AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id, n_tokens
         |  FROM c)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),

    // BPE merge LEARNING (Sennrich '16 learn_bpe, k-bounded): 16 rounds
    // of pair-count → top-pair → greedy merge over the word-frequency
    // dict; the twin unrolls the same 16 iterations as chained CTEs over
    // sentinel-wrapped symbol strings (replace() is exactly the greedy
    // left-to-right non-overlapping merge). Deterministic by the total
    // tie-break (count DESC, lhs, rhs) on both engines.
    QuerySpec("q142_bpe_learn",
      (s, dir) =>
        graft.operators.Corpus.learnBpeMerges(
            t(s, dir, "documents"), "text", numMerges = 16)
          .orderBy("merge_rank"),
      bpeLearnOracle),

    // token-ID pack materialization — the trainer-facing export: the
    // q137 subword ids pack under the q68 prefix-sum arithmetic and
    // each pack emits its FLAT ID STREAM (docs' id arrays concatenated
    // in id order), digested for the oracle compare. Same salted
    // corpus as q137 so compounds decompose.
    QuerySpec("q144_token_packs",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withIds = docs.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
              .as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // the q137 per-doc id STRINGS packed under q68's arithmetic;
      // empty-token docs stay in n_docs but contribute nothing to the
      // stream (NULLed out of the string_agg), exactly as flatten
      // skips their empty arrays
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |nt3 AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens,
         |    COALESCE(s.ids_str, '') AS ids_str
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |cc2 AS (SELECT doc_id, lang, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM nt3),
         |pk2 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, ids_str FROM cc2),
         |pko AS (SELECT lang, pack_id, doc_id, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM pk2)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5
         |FROM pko GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // pack DECODE-integrity audit: every pack's id stream decodes back
    // through the vocabulary (BpeDecodeExpr id→piece concat) and the
    // reconstruction is judged against raw text — decode∘encode must
    // equal the corpus text minus whitespace (word boundaries are not
    // in the id stream), so the oracle rebuilds each pack's digest
    // straight from regexp-stripped document text with NO tokenizer at
    // all. A version-skewed vocab, corrupted pack, or lossy kernel
    // surfaces as a digest mismatch (unknown ids decode to U+FFFD,
    // never silently). The check a trainer runs before trusting packs.
    QuerySpec("q152_pack_decode_audit",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withIds = docs.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
              .as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            size(col("pack_ids")).cast(LongType).as("n_ids"),
            graft.functions.TextFunctions.bpeDecode(col("pack_ids"), pieces)
              .as("__txt"),
            // PER-SEGMENT audit: slice each member doc's id range out of
            // the flat stream by its doc_offsets boundaries and decode it
            // alone — pins that the offsets actually delineate documents
            // (a shifted boundary changes some segment's digest even when
            // the whole-pack digest still matches). slice/element_at ride
            // plain attributes, so each pack id is touched once across
            // the lambda, not once per segment
            transform(sequence(lit(1), size(col("doc_offsets")) - 1),
              i => md5(graft.functions.TextFunctions.bpeDecode(
                slice(col("pack_ids"),
                  element_at(col("doc_offsets"), i) + 1,
                  element_at(col("doc_offsets"), i + 1)
                    - element_at(col("doc_offsets"), i)),
                pieces))).as("__segs"))
          .select(col("lang"), col("pack_id"), col("n_docs"), col("n_ids"),
            length(col("__txt")).cast(LongType).as("decoded_chars"),
            md5(col("__txt")).as("decoded_md5"),
            md5(array_join(col("__segs"), " ")).as("segs_md5"))
          .orderBy("lang", "pack_id")
      },
      // q152: the decode-integrity twin needs NO tokenizer on the
      // decode side — decode∘encode over the MaxMatch vocab must equal
      // the (salted) document text minus whitespace, so each pack's
      // digest rebuilds from regexp-stripped text while the pack
      // arithmetic still rides the piece counts
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |dnt AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens,
         |    regexp_replace(d.text, '\\s+', '', 'g') AS dec
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |dcc AS (SELECT doc_id, lang, n_tokens, dec,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dnt),
         |dpk AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, dec FROM dcc)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_ids,
         |  CAST(length(COALESCE(string_agg(dec, '' ORDER BY doc_id), ''))
         |    AS BIGINT) AS decoded_chars,
         |  md5(COALESCE(string_agg(dec, '' ORDER BY doc_id), ''))
         |    AS decoded_md5,
         |  md5(string_agg(md5(dec), ' ' ORDER BY doc_id)) AS segs_md5
         |FROM dpk GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // STREAMING sequence packing: the batch packer's prefix sum turned
    // into flatMapGroupsWithState state (ONE Long cursor per shard),
    // fed by a stateless in-stream tokenize (the q137 MaxMatch count
    // kernel as a codegen projection) over an id-RANGE-split two-file
    // backlog (mtime-pinned arrival order, one file per micro-batch).
    // Under an id-ordered ingest the streamed assignment must equal the
    // batch (shard, id)-order pack arithmetic doc-for-doc — which only
    // holds if the cursor survives the micro-batch boundary (a fresh
    // batch-2 cursor would restart every shard's packs at 0)
    QuerySpec("q153_stream_token_packs",
      (s, dir) => {
        val root = scratch("graft_spack_")
        val salted = saltedDocs(s, dir) // vocab input: UNFILTERED, as q144
        val pieces = q137Pieces(salted)
        val (src, schema) = idRangeBacklog(s, root,
          salted.where(col("text").isNotNull)
            .select("doc_id", "lang", "text"))
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingPack.runAvailableNow(
            s, src, schema, s"$root/out", s"$root/ckpt",
            tokenBudget = 2048,
            prepare = df => df.select(col("lang").as("shard"), col("doc_id"),
              graft.functions.TextFunctions.bpeCount(col("text"), pieces)
                .cast(LongType).as("n_tokens")))
        }
        s.read.parquet(s"$root/out")
          .select(col("shard").as("lang"), col("doc_id"), col("n_tokens"),
            col("pack_id"))
          .orderBy("doc_id")
      },
      // q153: the STREAMED per-doc pack assignment must equal the batch
      // (lang, doc_id)-order prefix-sum arithmetic doc-for-doc — the
      // fixture's id-range file split makes arrival order the id order,
      // so the batch window cumsum IS the streaming cursor's trajectory
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |snt AS (SELECT d.doc_id, doc.lang,
         |    CAST(COALESCE(s.n_pieces, 0) AS BIGINT) AS n_tokens
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |scc AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM snt)
         |SELECT lang, doc_id, n_tokens,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
         |FROM scc ORDER BY doc_id""".stripMargin),

    // streaming CLOSED-pack export — q144's trainer-facing artifact
    // produced INCREMENTALLY: the state buffers each shard's one open
    // pack (budget-bounded ids) and emits a pack the moment a doc lands
    // past its boundary, so a trainer consumes packs while ingest still
    // runs. Emitted packs must be byte-identical to the batch export's
    // (same digest, same membership); each shard's final open pack
    // stays in state — completeness is unknowable mid-stream — so the
    // oracle excludes exactly the per-shard max pack
    QuerySpec("q155_stream_pack_export",
      (s, dir) => {
        val root = scratch("graft_spexp_")
        val salted = saltedDocs(s, dir)
        val pieces = q137Pieces(salted)
        val (src, schema) = idRangeBacklog(s, root,
          salted.where(col("text").isNotNull)
            .select("doc_id", "lang", "text"))
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingPack.runMaterializeAvailableNow(
            s, src, schema, s"$root/out", s"$root/ckpt",
            tokenBudget = 2048,
            // null-doc guard on the SOURCE column (pushes to the scan):
            // a where on the computed ids column would sink below the
            // projection and run the encode kernel twice per row
            prepare = df => df.where(col("text").isNotNull)
              .select(col("lang").as("shard"), col("doc_id"),
                graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
                  .as("ids")))
        }
        s.read.parquet(s"$root/out")
          .select(col("shard").as("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // q155: q144's pack rows (same CTE chain) minus each shard's LAST
      // pack — the streamed export can only emit a pack once a doc
      // lands past its boundary, so the final open pack per shard is
      // structurally unemittable mid-stream
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |nt5 AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens,
         |    COALESCE(s.ids_str, '') AS ids_str
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |cc5 AS (SELECT doc_id, lang, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM nt5),
         |pk5 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, ids_str FROM cc5),
         |pk5o AS (SELECT lang, pack_id, doc_id, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM pk5),
         |ag5 AS (SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5
         |  FROM pk5o GROUP BY lang, pack_id)
         |SELECT a.lang, a.pack_id, a.n_docs, a.pack_tokens, a.ids_md5,
         |  a.offsets_md5
         |FROM ag5 a JOIN (SELECT lang, max(pack_id) AS mp
         |  FROM ag5 GROUP BY lang) m USING (lang)
         |WHERE a.pack_id < m.mp
         |ORDER BY a.lang, a.pack_id""".stripMargin),

    // token-LEVEL decontamination (GPT-3 Appendix C's 13-gram rule):
    // train/eval id streams under the q137 tokenizer, a train doc
    // flagged per eval-overlapping 13-token window. The eval set is the
    // canonical leak shape — benchmark prompts QUOTING web documents
    // verbatim: each eval doc (id%50=0) carries its successor doc's
    // full token stream as a quote (array concat == tokenizing the
    // concatenated text, the tokenizer is word-local), so every
    // id%50=1 train doc of >=13 tokens must flag with its full window
    // census, on top of the corpus's natural duplicate overlap. The
    // text-level family (q71 exact / q96 bloom / q113 near-dup) judges
    // surface text; this judges the stream the model trains on — eval
    // windows broadcast, corpus pass is explode → broadcast join →
    // per-doc count, one exchange over the hit set only
    QuerySpec("q154_token_decontaminate",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateTokenNgrams(train, ev, n = 13)
          .orderBy("doc_id")
      },
      // q154: token windows off the shared seq CTE's id strings —
      // list_slice windows of the split id list; the eval side is each
      // id%50=0 doc's ids CONCATENATED with its successor's (the
      // planted verbatim quote — list concat == tokenizing the
      // concatenated text since the tokenizer is word-local); train
      // windows counted per doc on exact string equality (the same
      // space-joined representation the Spark side joins on)
      tokenDecontamSql),

    // q154's SCALE path (the q96↔q71 relationship at token level): a
    // driver Bloom over the eval windows rides the typed sliding pass,
    // so a clean doc emits zero rows and only the candidate sliver pays
    // the exact verify join. Bloom = no false negatives, so the result
    // EQUALS the exact operator's — the oracle is q154's twin verbatim
    QuerySpec("q156_token_decontaminate_bloom",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateTokenNgramsBloom(train, ev, n = 13)
          .orderBy("doc_id")
      },
      // q156: the Bloom-prefiltered scale path must EQUAL the exact
      // operator (no false negatives; false positives die in the exact
      // verify join) — the oracle is q154's twin, verbatim
      tokenDecontamSql),

    // q156's Bloom prefilter composed with q157's int64 fingerprints —
    // the 100 TB default (zero rows for clean docs AND 8 bytes per
    // window, no string ever materialized). Same twin as q154: the
    // gate asserts hashed-bloom == exact string-window result
    QuerySpec("q164_token_decontaminate_bloom_hashed",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateTokenNgramsBloom(train, ev, n = 13,
            hashWindows = true)
          .orderBy("doc_id")
      },
      // q164: bloom prefilter over int64 fingerprints — same twin
      // again: bloom (no false negatives) + exact verify + collision
      // one-sidedness means the composed path must still EQUAL the
      // exact string-window result
      tokenDecontamSql),

    // matched-SPAN coverage: the Llama-2/PaLM-era contamination metric
    // — per contaminated doc, the DISTINCT token positions covered by
    // at least one matching 13-gram (overlaps don't double-count)
    // alongside the hit count and doc length; integer columns only.
    // Runs the int64 fingerprint representation; the twin computes the
    // interval union over string windows, so the gate asserts both the
    // coverage arithmetic and the hashed path's equality
    QuerySpec("q166_token_decontaminate_coverage",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateTokenCoverage(train, ev, n = 13,
            hashWindows = true)
          .orderBy("doc_id")
      },
      // q166: coverage = count(DISTINCT covered position) — the twin
      // materializes each matched window's start, explodes its 13
      // positions, and de-duplicates; n_hits and n_tokens ride the
      // same matched set and the corpus token lengths
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |tws6 AS (SELECT doc_id, string_split(ids_str, ' ') AS ids
         |  FROM seq),
         |twin6 AS (SELECT doc_id, u,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM tws6 WHERE len(ids) >= 13)),
         |evq6 AS (SELECT e.doc_id,
         |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
         |  FROM documents e
         |  JOIN tws6 l1 ON l1.doc_id = e.doc_id
         |  LEFT JOIN tws6 l2 ON l2.doc_id = e.doc_id + 1
         |  WHERE e.doc_id % 50 = 0),
         |evw6 AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM evq6 WHERE len(ids) >= 13)),
         |evg6 AS (SELECT DISTINCT gram FROM evw6),
         |mtw6 AS MATERIALIZED (SELECT t.doc_id, t.u
         |  FROM twin6 t JOIN evg6 USING (gram)
         |  WHERE t.doc_id % 50 <> 0),
         |hit6 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM mtw6 GROUP BY doc_id),
         |cvd6 AS (SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT)
         |    AS covered
         |  FROM (SELECT doc_id, unnest(range(u, u + 13)) AS pos
         |    FROM mtw6) GROUP BY doc_id),
         |len6 AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens
         |  FROM tws6)
         |SELECT h.doc_id, h.n_hits, c.covered, l.n_tokens
         |FROM hit6 h JOIN cvd6 c USING (doc_id) JOIN len6 l USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin),

    // the coverage AUDIT turned into the corpus GATE (the Llama-2
    // policy): a train doc drops only when its matched-span coverage
    // fraction exceeds 80% — integer basis points, no float in the
    // decision — so the doc that IS a benchmark page (the planted
    // successor quotes: covered == n_tokens) drops while a doc merely
    // sharing phrases stays. The output is the SURVIVING corpus: the
    // row set itself asserts both sides of the threshold
    QuerySpec("q171_decontaminate_by_coverage",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateByCoverage(train, ev, n = 13,
            maxCoverageBp = 8000L, hashWindows = true)
          // universe alignment with the twin, whose lenB derives from the
          // seq CTE (docs with >=1 piece): a null-ids or zero-token doc
          // survives the GATE (nothing to match) but has no seq row, so
          // it stays out of the reported survivor list on both sides
          .where(size(col("ids")) > 0)
          .select(col("doc_id"),
            size(col("ids")).cast(LongType).as("n_tokens"))
          .orderBy("doc_id")
      },
      // q171: q166's coverage chain crossed with the 80% threshold,
      // then the survivor list — every %50<>0 train doc NOT in the
      // drop set, with its token length; the planted successor quotes
      // (covered == n_tokens) are exactly the absentees
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |twsB AS MATERIALIZED (SELECT doc_id,
         |    string_split(ids_str, ' ') AS ids FROM seq),
         |twinB AS (SELECT doc_id, u,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM twsB WHERE len(ids) >= 13)),
         |evqB AS (SELECT e.doc_id,
         |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
         |  FROM documents e
         |  JOIN twsB l1 ON l1.doc_id = e.doc_id
         |  LEFT JOIN twsB l2 ON l2.doc_id = e.doc_id + 1
         |  WHERE e.doc_id % 50 = 0),
         |evwB AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM evqB WHERE len(ids) >= 13)),
         |evgB AS (SELECT DISTINCT gram FROM evwB),
         |mtwB AS MATERIALIZED (SELECT t.doc_id, t.u
         |  FROM twinB t JOIN evgB USING (gram)
         |  WHERE t.doc_id % 50 <> 0),
         |cvdB AS (SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT)
         |    AS covered
         |  FROM (SELECT doc_id, unnest(range(u, u + 13)) AS pos
         |    FROM mtwB) GROUP BY doc_id),
         |lenB AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens
         |  FROM twsB),
         |drpB AS (SELECT c.doc_id FROM cvdB c JOIN lenB l USING (doc_id)
         |  WHERE c.covered * 10000 > 8000 * l.n_tokens)
         |SELECT l.doc_id, l.n_tokens
         |FROM lenB l
         |WHERE l.doc_id % 50 <> 0
         |  AND l.doc_id NOT IN (SELECT doc_id FROM drpB)
         |ORDER BY l.doc_id""".stripMargin),

    // the attribution report from the eval suite's side: per benchmark
    // doc, how many distinct train docs quote it and how many window
    // pairs match — "which benchmark is compromised", the complement of
    // q154's "which train docs must go". Eval windows keep their doc
    // attribution (no distinct), so pair counts mirror the twin's join
    QuerySpec("q167_contamination_by_eval_doc",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.contaminationByEvalDoc(train, ev, n = 13,
            hashWindows = true)
          .orderBy("eval_doc_id")
      },
      // q167: the attribution twin joins train windows against eval
      // windows WITH doc attribution (evw7, not a distinct gram set) —
      // per eval doc, distinct quoting train docs and matched pairs
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |tws7 AS (SELECT doc_id, string_split(ids_str, ' ') AS ids
         |  FROM seq),
         |twin7 AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM tws7 WHERE len(ids) >= 13)),
         |evq7 AS (SELECT e.doc_id,
         |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
         |  FROM documents e
         |  JOIN tws7 l1 ON l1.doc_id = e.doc_id
         |  LEFT JOIN tws7 l2 ON l2.doc_id = e.doc_id + 1
         |  WHERE e.doc_id % 50 = 0),
         |evw7 AS (SELECT doc_id AS eval_doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM evq7 WHERE len(ids) >= 13))
         |SELECT e.eval_doc_id,
         |  CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
         |  CAST(count(*) AS BIGINT) AS n_matched
         |FROM twin7 t JOIN evw7 e USING (gram)
         |WHERE t.doc_id % 50 <> 0
         |GROUP BY e.eval_doc_id ORDER BY e.eval_doc_id""".stripMargin),

    // the growing-eval-suite maintenance path: the %50==0 suite's
    // PERSISTED hit table (memoized fixture, computed at the same
    // hashed representation the delta runs at) merged with the NEW
    // %50==25 benchmark's delta windows — the result must equal a full
    // recompute against the combined suite, which is exactly what the
    // twin computes (it never sees the old/new split); the timed
    // region is the maintenance path alone
    QuerySpec("q165_token_decontaminate_delta",
      (s, dir) => {
        val root = q165Fixture(s, dir)
        def rd(p: String) = s.read.parquet(s"$root/$p")
        graft.operators.Dedup.decontaminateTokenNgramsDelta(
            rd("train"), rd("old_hits"), rd("ev_old"), rd("ev_new"), n = 13,
            hashWindows = true)
          .orderBy("doc_id")
      },
      // q165: the twin is a FULL RECOMPUTE against the combined suite
      // (%50==0 and %50==25 slices) — it never sees the old/new split,
      // so a green row proves the incremental merge (old hit table +
      // delta windows only) reconstructs the from-scratch answer
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |tws5 AS (SELECT doc_id, string_split(ids_str, ' ') AS ids
         |  FROM seq),
         |twin5 AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM tws5 WHERE len(ids) >= 13)),
         |evq5 AS (SELECT e.doc_id,
         |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
         |  FROM documents e
         |  JOIN tws5 l1 ON l1.doc_id = e.doc_id
         |  LEFT JOIN tws5 l2 ON l2.doc_id = e.doc_id + 1
         |  WHERE e.doc_id % 50 = 0 OR e.doc_id % 50 = 25),
         |evw5 AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM evq5 WHERE len(ids) >= 13)),
         |evg5 AS (SELECT DISTINCT gram FROM evw5)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM twin5 t JOIN evg5 USING (gram)
         |WHERE t.doc_id % 50 <> 0 AND t.doc_id % 50 <> 25
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // q154's 100 TB REPRESENTATION: each 13-id window collapses to an
    // int64 fingerprint inside the same typed sliding pass on BOTH
    // sides, so 8 bytes ride the join instead of ~4·13 string bytes and
    // no window string is ever materialized. Collisions can only
    // over-flag (drop-list one-sidedness); the oracle is q154's twin
    // VERBATIM, so the gate asserts hashed == string-window exactly
    QuerySpec("q157_token_decontaminate_hashed",
      (s, dir) => {
        val (train, ev) = tokenDecontamFixture(s, dir)
        graft.operators.Dedup.decontaminateTokenNgrams(train, ev, n = 13,
            hashWindows = true)
          .orderBy("doc_id")
      },
      // q157: the int64 window-hash representation must EQUAL the
      // string-window result — same twin, so the gate IS the equality
      // (a fingerprint collision on this corpus would go red here)
      tokenDecontamSql),

    // the capstone arc TOKEN-DECONTAMINATED end to end: q140's streamed
    // curate→dedup survivors, piece vocab learned on them, then the
    // streaming closed-pack export (q155) with the GPT-3 Appendix-C
    // 13-gram gate composed INTO the stream's stateless prepare — eval
    // window fingerprints (benchmark-sized, driver-collected before
    // ingest) binary-searched inside the tokenize projection, so a
    // contaminated doc never reaches the stateful packer and the
    // artifact a trainer consumes carries the guarantee, not just a
    // batch audit. Eval = each accepted id%50=0 doc quoting its
    // accepted successor verbatim (the q154 leak shape); emitted packs
    // equal the batch arithmetic over the clean corpus, minus each
    // shard's structurally-unemittable final open pack
    QuerySpec("q158_stream_decontam_packs",
      (s, dir) => {
        val root = scratch("graft_sdp_")
        val (accepted, _) = streamCurateDedupAccepted(s, dir)
        val corpus = accepted.select("doc_id", "text")
          .join(t(s, dir, "documents").select("doc_id", "lang"), Seq("doc_id"))
        val pieces = q137Pieces(corpus)
        val withIds = corpus.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
              .as("ids")).localCheckpoint()
        val sib = withIds.select((col("doc_id") - 1).as("doc_id"),
          col("ids").as("sib_ids"))
        val ev = withIds.where(col("doc_id") % 50 === 0 &&
            size(col("ids")) > 0)
          .join(sib, Seq("doc_id"), "left")
          .select(col("doc_id"), concat(col("ids"),
            coalesce(col("sib_ids"), array().cast("array<int>"))).as("ids"))
        val evalHashes = graft.operators.Dedup.evalWindowHashSet(ev, n = 13)
        // ONE digest projection for both branches below, so the empty
        // branch's schema is DERIVED from ClosedPack exactly like the
        // populated one's — a pack-schema change can never desync them
        def packDigests(packs: DataFrame): DataFrame = packs
          .select(col("shard").as("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
        // a curation chain that accepts nothing is a legitimate tiny-SF
        // outcome, not a harness error: zero packs, same schema — the
        // twin's chain yields zero rows from the same emptiness, so the
        // gate stays green at every scale factor (idRangeBacklog's loud
        // empty-frame require stays for the genuinely-broken-fixture
        // case in the streaming queries whose sources can never be
        // empty). The probe rides the localCheckpointed withIds — no
        // join replay, one cached-partition limit(1)
        if (withIds.where(col("doc_id") % 50 =!= 0).isEmpty) {
          import s.implicits._
          packDigests(s.emptyDataset[
            graft.streaming.StreamingPack.ClosedPack].toDF())
        } else {
          val (src, schema) = idRangeBacklog(s, root,
            corpus.where(col("doc_id") % 50 =!= 0)
              .select("doc_id", "lang", "text"))
          withShufflePartitions(s, 2) {
            graft.streaming.StreamingPack.runMaterializeAvailableNow(
              s, src, schema, s"$root/out", s"$root/ckpt", tokenBudget = 2048,
              prepare = df => graft.operators.Dedup.dropContaminatedStream(
                df.select(col("lang").as("shard"), col("doc_id"),
                  graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
                    .as("ids")),
                evalHashes, n = 13))
          }
          packDigests(s.read.parquet(s"$root/out"))
        }
      },
      // q158: the q141 arc with the q154 13-gram gate BETWEEN tokenize
      // and pack — q140's accepted survivors, piece ids off the shared
      // seq CTE, eval = accepted id%50=0 docs quoting their accepted
      // successors (the q154 leak shape over the CURATED corpus), train
      // docs with any eval-overlapping window dropped, then the q155
      // closed-pack arithmetic (per-shard max pack excluded — the
      // stream's final open pack is structurally unemittable)
      s"""WITH RECURSIVE
         |$streamCurateCtes,
         |acc AS (SELECT g.doc_id, g.text FROM gated g
         |  JOIN (SELECT doc_id FROM gacc1
         |        UNION ALL SELECT doc_id FROM gacc2) b USING (doc_id)),
         |corp AS MATERIALIZED (SELECT a.doc_id, d.lang, a.text
         |  FROM acc a JOIN documents d USING (doc_id)),
         |${bpePieceCtes("corp")},
         |dcorp AS MATERIALIZED (SELECT doc_id, lang FROM corp),
         |dseq AS MATERIALIZED (SELECT doc_id, n_pieces, ids_str
         |  FROM seq),
         |dtw AS MATERIALIZED (SELECT doc_id,
         |    string_split(ids_str, ' ') AS ids
         |  FROM dseq),
         |devq AS (SELECT c.doc_id,
         |    l1.ids || COALESCE(l2.ids, CAST([] AS VARCHAR[])) AS ids
         |  FROM dcorp c
         |  JOIN dtw l1 ON l1.doc_id = c.doc_id
         |  LEFT JOIN dtw l2 ON l2.doc_id = c.doc_id + 1
         |  WHERE c.doc_id % 50 = 0),
         |devw AS (SELECT DISTINCT
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM devq WHERE len(ids) >= 13)),
         |dtrw AS (SELECT doc_id,
         |    array_to_string(list_slice(ids, u, u + 12), ' ') AS gram
         |  FROM (SELECT doc_id, ids,
         |      unnest(range(1, len(ids) - 13 + 2)) AS u
         |    FROM dtw WHERE len(ids) >= 13)),
         |dcont AS (SELECT DISTINCT t.doc_id
         |  FROM dtrw t JOIN devw USING (gram)),
         |dcln AS (SELECT c.doc_id, c.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens,
         |    COALESCE(s.ids_str, '') AS ids_str
         |  FROM dcorp c LEFT JOIN dseq s USING (doc_id)
         |  WHERE c.doc_id % 50 <> 0
         |    AND c.doc_id NOT IN (SELECT doc_id FROM dcont)),
         |dcc8 AS (SELECT doc_id, lang, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dcln),
         |dpk8 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, ids_str FROM dcc8),
         |dpk8o AS (SELECT lang, pack_id, doc_id, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM dpk8),
         |dag8 AS MATERIALIZED (SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5
         |  FROM dpk8o GROUP BY lang, pack_id)
         |SELECT a.lang, a.pack_id, a.n_docs, a.pack_tokens, a.ids_md5,
         |  a.offsets_md5
         |FROM dag8 a JOIN (SELECT lang, max(pack_id) AS mp
         |  FROM dag8 GROUP BY lang) m USING (lang)
         |WHERE a.pack_id < m.mp
         |ORDER BY a.lang, a.pack_id""".stripMargin),

    // BYTE-level (GPT-2-style) BPE: pretokens keep their whitespace,
    // base symbols are UTF-8 BYTES (Latin-1-char carried), the base
    // alphabet is all 256 bytes — so UNK is STRUCTURALLY impossible
    // and decode∘encode reconstructs the EXACT original text,
    // whitespace included (the char-level family only gives the
    // stripped-text contract, q152). The corpus is salted with
    // multi-byte UTF-8 — accented Latin, CJK, an arrow, Greek, and a
    // supplementary-plane emoji (4-byte UTF-8, a surrogate pair in
    // the JVM) — so the gate exercises every UTF-8 width. The oracle
    // recomputes the identity from the raw text with NO tokenizer:
    // a lossy kernel, vocab gap, or pretokenizer drift breaks the
    // digest. n_pretoks additionally gates the whitespace-preserving
    // pretokenizer (Java regex) against DuckDB's RE2 reading of the
    // same pattern; n_bytes binds the decoded byte length.
    QuerySpec("q159_byte_bpe_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .where(col("text").isNotNull)
        val salted = docs.withColumn("text", concat(col("text"),
          lit(byteBpeSalt), col("doc_id").cast(StringType)))
        val mergeTable = graft.operators.Corpus.learnByteBpeMerges(salted,
          "text", numMerges = 16)
        val merges = graft.operators.Corpus.collectMerges(mergeTable)
        val vocab = graft.operators.Corpus.byteMergeVocab(mergeTable)
        salted.select(col("doc_id"),
            col("text"),
            graft.functions.TextFunctions.byteBpeEncode(col("text"), merges,
              vocab).as("__ids"))
          // decode ONCE into __txt (q152's pattern): the kernel walks the
          // full id stream, and CollapseProject keeps a non-cheap
          // expression referenced twice un-inlined
          .select(col("doc_id"), col("text"), col("__ids"),
            graft.functions.TextFunctions.byteBpeDecode(col("__ids"), vocab)
              .as("__txt"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("\\S+\\s*|^\\s+"), lit(0))).cast(LongType).as("n_pretoks"),
            (size(col("__ids")) <= octet_length(col("text")))
              .as("ids_le_bytes"),
            octet_length(col("__txt")).cast(LongType).as("n_bytes"),
            md5(col("__txt")).as("roundtrip_md5"))
          .orderBy("doc_id")
      },
      // q159: byte-level BPE's exact-identity contract needs NO
      // tokenizer on the oracle side — decode∘encode must equal the
      // salted text VERBATIM (whitespace and all), so the twin just
      // hashes the raw construction; the pretoken count gates the
      // Java-regex pretokenizer against RE2's reading of the pattern
      // the pretokenizer is DEFINED over Java's \s = [ \t\n\x0B\f\r]
      // (the kernel and the Spark regexp_extract_all agree); DuckDB's
      // RE2 \s omits \x0B, so the twin spells the Java class explicitly
      // — otherwise a vertical-tab doc reds the gate on a healthy build
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text || '$byteBpeSalt' ||
         |    CAST(doc_id AS VARCHAR),
         |    '[^ \\t\\n\\x0B\\f\\r]+[ \\t\\n\\x0B\\f\\r]*|^[ \\t\\n\\x0B\\f\\r]+'))
         |    AS BIGINT) AS n_pretoks,
         |  true AS ids_le_bytes,
         |  CAST(strlen(text || '$byteBpeSalt' ||
         |    CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_bytes,
         |  md5(text || '$byteBpeSalt' || CAST(doc_id AS VARCHAR))
         |    AS roundtrip_md5
         |FROM documents WHERE text IS NOT NULL
         |ORDER BY doc_id""".stripMargin),

    // trainer-tensor derivation: doc_offsets expand into the per-token
    // position_ids (reset to 0 at every document boundary) and
    // segment_ids (member index per token) a trainer's loader feeds a
    // packed-attention model — the arithmetic is pure offset algebra
    // over budget-bounded arrays, so the twin states both tensors
    // exactly from the shared q144 pack chain. A zero-token member
    // keeps its segment index in the numbering but contributes no
    // tokens, so both tensors stay length == pack_tokens.
    QuerySpec("q173_pack_trainer_tensors",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withIds = docs.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeEncode(col("text"), pieces)
              .as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        def joined(c: Column) = md5(array_join(
          transform(c, i => i.cast(StringType)), " "))
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          // per-member lengths off the offsets: lens[i] = off[i+1] - off[i]
          .withColumn("__lens", zip_with(
            slice(col("doc_offsets"), lit(2), size(col("doc_offsets")) - 1),
            slice(col("doc_offsets"), lit(1), size(col("doc_offsets")) - 1),
            (e, b) => e - b))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            joined(flatten(transform(col("__lens"),
              l => when(l > 0, sequence(lit(0), l - 1))
                .otherwise(array().cast("array<int>"))))).as("pos_md5"),
            joined(flatten(transform(col("__lens"),
              (l, i) => array_repeat(i.cast("int"), l)))).as("seg_md5"))
          .orderBy("lang", "pack_id")
      },
      // q173: the trainer tensors are pure offset algebra over the
      // q144 pack chain, so the twin states them exactly: per member
      // (id order), position ids are 0..n-1 and segment ids repeat the
      // member's 0-based rank; zero-token members keep their rank but
      // emit nothing (NULL skips the string_agg like q144's empty-ids
      // skip)
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |tt3 AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |tc2 AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM tt3),
         |tp2 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens FROM tc2),
         |tsg AS (SELECT lang, pack_id, doc_id, n_tokens,
         |  row_number() OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id) - 1 AS seg
         |  FROM tp2),
         |tts AS (SELECT lang, pack_id, doc_id, n_tokens,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |    ELSE array_to_string(range(n_tokens), ' ') END AS pos_str,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |    ELSE rtrim(repeat(CAST(seg AS VARCHAR) || ' ', n_tokens))
         |  END AS seg_str
         |  FROM tsg)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(COALESCE(string_agg(pos_str, ' ' ORDER BY doc_id), ''))
         |    AS pos_md5,
         |  md5(COALESCE(string_agg(seg_str, ' ' ORDER BY doc_id), ''))
         |    AS seg_md5
         |FROM tts GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // EOD-separated packs: every document contributes its ids PLUS one
    // document-separator id (-1 — outside every vocab's id space, the
    // GPT-2 <|endoftext|> convention) BEFORE packing, so boundaries are
    // findable in the flat stream itself and the budget pays for the
    // separator (n_tokens + 1). eod_ok re-derives the invariant from
    // the ARTIFACT arrays — the token before every doc_offsets
    // boundary is the separator — so a packer regression flips a gate
    // instead of hiding in prose; the digests stay exact cross-engine.
    QuerySpec("q174_eod_packs",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withIds = docs.select(col("doc_id"), col("lang"),
            concat(graft.functions.TextFunctions.bpeEncode(col("text"),
              pieces), array(lit(-1))).as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"),
            forall(slice(col("doc_offsets"), lit(2),
                size(col("doc_offsets")) - 1),
              o => element_at(col("pack_ids"), o) === -1).as("eod_ok"))
          .orderBy("lang", "pack_id")
      },
      // q174: q144's arithmetic with every doc one separator id richer
      // — ids gain a trailing -1 (a tokenless doc is JUST '-1'), the
      // weights gain +1, and the digests follow; eod_ok is the gate the
      // Spark side re-derives from the artifact
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |en3 AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) + 1 AS n_tokens,
         |    COALESCE(s.ids_str || ' ', '') || '-1' AS ids_str
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |ec2 AS (SELECT doc_id, lang, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM en3),
         |ep2 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, ids_str FROM ec2),
         |epo AS (SELECT lang, pack_id, doc_id, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM ep2)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(string_agg(ids_str, ' ' ORDER BY doc_id)) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5,
         |  TRUE AS eod_ok
         |FROM epo GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // no-split FFD packing (SFT-style: documents stay intact, packs
    // bin-pack instead of splitting). The twin knows the exact doc and
    // token universe; the packing guarantees are re-derived from the
    // OUTPUT: every doc placed exactly once, every multi-doc pack
    // within budget, at most one ≤-half-full pack per (shard, bucket)
    // group (the first-fit theorem), and fill efficiency (measured
    // 0.86 @ sf0.01, see SCALE.md for sf0.1; gate 0.75).
    QuerySpec("q176_ffd_pack_nosplit",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("text").isNotNull)
        val placed = graft.operators.Corpus.packSequencesNoSplit(docs,
          "lang", "doc_id",
          graft.functions.TextFunctions.nTokens(col("text")),
          tokenBudget = 512, nBuckets = 4)
        val packs = placed.groupBy("shard", "bucket", "pack_seq")
          .agg(count(lit(1)).as("nd"), sum("n_tokens").as("fill"))
        val packStats = packs.agg(
          count(lit(1)).as("__n_packs"),
          sum(when(col("nd") >= 2 && col("fill") > 512, 1L).otherwise(0L))
            .as("__over"),
          sum(when(col("fill") * 2 <= 512, 1L).otherwise(0L))
            .as("__n_half"))
        val groupStats = packs.select("shard", "bucket").distinct()
          .agg(count(lit(1)).as("__n_groups"))
        val docStats = placed.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("__n_distinct"),
          sum(col("n_tokens")).as("total_tokens"))
        docStats.crossJoin(packStats).crossJoin(groupStats).select(
          col("n_docs"), col("total_tokens"),
          (col("__n_distinct") === col("n_docs")).as("no_split_ok"),
          (col("__over") === 0).as("within_budget_ok"),
          (col("__n_half") <= col("__n_groups")).as("half_sparse_ok"),
          (col("total_tokens") * 100 >= col("__n_packs") * lit(512) * 75)
            .as("efficiency_ok"))
      },
      // q176: the twin states the doc/token universe exactly; the
      // packing guarantees (placement completeness, budget, the
      // first-fit half-full theorem, fill efficiency) are re-derived
      // from the OUTPUT on the Spark side
      s"""WITH tk AS (SELECT doc_id, len($toksSql) AS n
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  TRUE AS no_split_ok, TRUE AS within_budget_ok,
         |  TRUE AS half_sparse_ok, TRUE AS efficiency_ok
         |FROM tk""".stripMargin),

    // the unigram-LM (SentencePiece) member of the tokenizer family —
    // the third inference rule after greedy MaxMatch (q137) and
    // rank-ordered merges (q143): a frequency-seeded substring piece
    // table with exact INTEGER costs (Corpus.buildUnigramVocab /
    // collectUnigramPieces), then per-word minimum-cost Viterbi
    // segmentation, ties broken toward the UTF-8-binary-smallest piece
    // sequence. The twin re-derives every choice: same candidate
    // counting, same (cnt desc, piece) selection and ids, same integer
    // costs (HUGEINT floor-div), and the DP itself unrolled as 16
    // chained per-position stages (the salt compound caps word length
    // at 16) each keeping one (cost, path)-minimal row per word — so
    // ids_md5 pins the full id stream, not just counts. Same
    // compound-salted corpus as q137 so the lattice has real
    // decomposition work
    QuerySpec("q180_unigram_viterbi",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = unigramPieces(docs)
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.unigramEncode(col("text"), pieces)
              .as("__ids"))
          .select(col("doc_id"),
            size(col("__ids")).cast(LongType).as("n_pieces"),
            md5(array_join(transform(col("__ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"))
          .orderBy("doc_id")
      },
      // q180: the unigram Viterbi twin — builder + costs + the DP
      // unrolled per position (see unigramCtes); ids_md5 pins the full
      // per-doc id stream, so every tie-break choice is gated, not
      // just segment counts. Constants mirror the Spark call:
      // maxPieceLen 4, minCount 8, maxSize 120, costScale 2^20,
      // word-length cap 16 (the salt compound's length)
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |${unigramCtes(4, 8L, 120, 1L << 20, 16)}
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(u.n_pieces, 0) END AS n_pieces,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(u.ids_md5, md5('')) END AS ids_md5
         |FROM docs2 d LEFT JOIN uenc u USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // LM-based quality filter from the unigram tokenizer's OTHER
    // output: the exact integer Viterbi cost IS the document's
    // surprise under the unigram LM (Σ −log p(piece) on the cost
    // grid), so mean-surprise ranks text by familiarity — the CCNet
    // perplexity-filter shape with zero floats. The gate is
    // self-normalizing: keep docs whose mean piece cost ≤ the corpus
    // mean, cross-multiplied in decimals so the row hashes exactly
    QuerySpec("q183_unigram_surprise",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = unigramPieces(docs)
        val dec = "decimal(38,0)"
        // scored feeds BOTH the totals row and the output — checkpoint the
        // narrow per-doc frame so the corpus-wide Viterbi DP runs ONCE,
        // the same two-consumer fix tokenDistributionDrift carries
        val scored = docs.select(col("doc_id"),
            graft.functions.TextFunctions.unigramCost(col("text"), pieces)
              .as("__c"))
          .select(col("doc_id"),
            col("__c.n_pieces").cast(LongType).as("n_pieces"),
            col("__c.cost").as("vit_cost"))
          .localCheckpoint()
        val tot = scored.agg(sum(col("vit_cost")).cast(dec).as("__tc"),
          sum(col("n_pieces")).cast(dec).as("__tn"))
        scored.crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_pieces"), col("vit_cost"),
            (col("vit_cost").cast(dec) * col("__tn") <=
              col("__tc") * col("n_pieces").cast(dec)).as("keep"))
          .orderBy("doc_id")
      },
      // q183: per-doc vit_cost off the same DP (uenc carries it), the
      // self-normalizing mean-surprise gate cross-multiplied in HUGEINT.
      // Like q180/q137, a non-null ZERO-TOKEN doc coalesces to (0, 0,
      // keep=true — 0 ≤ 0) instead of riding the join's NULL: the Spark
      // side emits size([]) = 0 for it, only null TEXT stays NULL
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |${unigramCtes(4, 8L, 120, 1L << 20, 16)},
         |stot AS (SELECT CAST(sum(vit_cost) AS HUGEINT) AS tc,
         |    CAST(sum(n_pieces) AS HUGEINT) AS tn FROM uenc),
         |sfin AS (SELECT d.doc_id,
         |    CASE WHEN d.text IS NULL THEN NULL
         |      ELSE COALESCE(u.n_pieces, 0) END AS n_pieces,
         |    CASE WHEN d.text IS NULL THEN NULL
         |      ELSE COALESCE(u.vit_cost, 0) END AS vit_cost
         |  FROM docs2 d LEFT JOIN uenc u USING (doc_id))
         |SELECT f.doc_id, f.n_pieces, f.vit_cost,
         |  (CAST(f.vit_cost AS HUGEINT) * s.tn
         |    <= s.tc * CAST(f.n_pieces AS HUGEINT)) AS keep
         |FROM sfin f CROSS JOIN stot s
         |ORDER BY doc_id""".stripMargin),

    // one hard-EM iteration of the unigram tokenizer (Kudo §3.2's loop,
    // Viterbi-hard E-step + usage-based M-step + zero-usage prune):
    // E = one explode(unigramEncode) aggregate over the corpus, M =
    // Corpus.unigramHardEmStep (ids stable, costs re-estimated,
    // never-used multi-char pieces dropped), then the corpus re-encodes
    // under the NEW model. The twin re-derives the usage counts from
    // its own DP segmentation (per-word ids × word multiplicity), the
    // same prune and integer re-costing, and a SECOND unrolled Viterbi
    // — ids2_md5 gates the re-encoded stream choice for choice
    QuerySpec("q184_unigram_hard_em",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val p1 = unigramPieces(docs)
        val usage = docs.select(explode(
            graft.functions.TextFunctions.unigramEncode(col("text"), p1))
            .as("id"))
          .groupBy("id").agg(count(lit(1)).as("u"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val p2 = graft.operators.Corpus.unigramHardEmStep(p1, usage)
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.unigramEncode(col("text"), p2)
              .as("__ids"))
          .select(col("doc_id"),
            size(col("__ids")).cast(LongType).as("n_pieces2"),
            md5(array_join(transform(col("__ids"),
              i => i.cast(StringType)), " ")).as("ids2_md5"),
            lit(p1.size - p2.size).cast(LongType).as("n_pruned"))
          .orderBy("doc_id")
      },
      // q184: E-step usage from the first DP's own segmentation
      // (per-word ids × word multiplicity), zero-usage multi-char
      // prune, integer re-costing, then the SECOND unrolled Viterbi
      // over the new table
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |${unigramCtes(4, 8L, 120, 1L << 20, 16)},
         |vuse AS (SELECT CAST(unnest(string_split(s.ids, ' '))
         |      AS INTEGER) AS id, c.wc
         |  FROM useg s JOIN utc c ON c.tok = s.w),
         |vcnt AS (SELECT id, CAST(sum(wc) AS BIGINT) AS u
         |  FROM vuse GROUP BY 1),
         |vkept AS (SELECT p.piece, p.id, p.plen, coalesce(v.u, 0) AS u
         |  FROM upc p LEFT JOIN vcnt v USING (id)
         |  WHERE p.plen = 1 OR coalesce(v.u, 0) > 0),
         |vtot AS (SELECT CAST(sum(u) AS HUGEINT) AS t FROM vkept),
         |vpc AS MATERIALIZED (SELECT k.piece, k.id, k.plen,
         |    CAST(1 + (CAST(${1L << 20} AS HUGEINT) * (vt.t - k.u)) // vt.t
         |      AS BIGINT) AS cost
         |  FROM vkept k, vtot vt),
         |${unigramDpCtes("v", "vpc", 4, 16)}
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(v.n_pieces, 0) END AS n_pieces2,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(v.ids_md5, md5('')) END AS ids2_md5,
         |  CAST((SELECT count(*) FROM upc) - (SELECT count(*) FROM vkept)
         |    AS BIGINT) AS n_pruned
         |FROM docs2 d LEFT JOIN venc v USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // corpus-drift monitor between two snapshots (even/odd id slices of
    // the salted corpus, so the token space scales with the docs): the
    // EXACT total-variation distance as a rational — per-token
    // drift_num = |n_a·T_b − n_b·T_a| in DECIMAL(38,0), the suite
    // total and denominator 2·T_a·T_b riding every row — top 40
    // contributors by (drift_num desc, token). No float division
    // anywhere; the twin computes the identical integers in HUGEINT
    QuerySpec("q181_corpus_drift",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val drift = graft.operators.Corpus.tokenDistributionDrift(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1), "text")
        val dec = "decimal(38,0)"
        val tot = drift.agg(
          sum(col("drift_num")).cast(dec).as("tvd_num"),
          (sum(col("n_a")).cast(dec) * sum(col("n_b")).cast(dec) * lit(2))
            .cast(dec).as("tvd_den"))
        drift.crossJoin(broadcast(tot))
          .orderBy(col("drift_num").desc, col("token"))
          .limit(40)
          // exact decimals inside, doubles at the gate boundary (the
          // suite convention): every value here is ≤ T_a·T_b ≪ 2^53, so
          // the cast is exact at any test scale
          .select(col("token"), col("n_a"), col("n_b"),
            col("drift_num").cast(DoubleType).as("drift_num"),
            col("tvd_num").cast(DoubleType).as("tvd_num"),
            col("tvd_den").cast(DoubleType).as("tvd_den"))
      },
      // q181: exact-rational TVD — identical integers via HUGEINT
      // cross-multiplication, DECIMAL(38,0) on the wire for dtype
      // parity with Spark's decimal columns
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |t0 AS (SELECT doc_id, unnest($toksSql) AS token FROM docs2),
         |cnt AS (SELECT token,
         |    CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_a,
         |    CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_b
         |  FROM t0 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_a) AS HUGEINT) AS ta,
         |    CAST(sum(n_b) AS HUGEINT) AS tb FROM cnt),
         |d AS (SELECT token, n_a, n_b,
         |    CAST(abs(CAST(n_a AS HUGEINT) * tb - CAST(n_b AS HUGEINT) * ta)
         |      AS DECIMAL(38,0)) AS drift_num
         |  FROM cnt, tot),
         |t2 AS (SELECT CAST(sum(drift_num) AS DECIMAL(38,0)) AS tvd_num,
         |    (SELECT CAST(2 * ta * tb AS DECIMAL(38,0)) FROM tot)
         |      AS tvd_den FROM d)
         |SELECT token, n_a, n_b,
         |  CAST(drift_num AS DOUBLE) AS drift_num,
         |  CAST(tvd_num AS DOUBLE) AS tvd_num,
         |  CAST(tvd_den AS DOUBLE) AS tvd_den
         |FROM d, t2
         |ORDER BY drift_num DESC, token LIMIT 40""".stripMargin),

    // q181 over the BIGRAM distribution: word-order / phrase drift a
    // unigram histogram cannot see (the q52/q125 shingle semantics —
    // a doc shorter than n contributes its one whole-doc shingle).
    // Same exact-rational machinery, same top-40 report
    QuerySpec("q185_drift_bigrams",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val drift = graft.operators.Corpus.tokenDistributionDrift(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1), "text", ngram = 2)
        val dec = "decimal(38,0)"
        val tot = drift.agg(
          sum(col("drift_num")).cast(dec).as("tvd_num"),
          (sum(col("n_a")).cast(dec) * sum(col("n_b")).cast(dec) * lit(2))
            .cast(dec).as("tvd_den"))
        drift.crossJoin(broadcast(tot))
          .orderBy(col("drift_num").desc, col("token"))
          .limit(40)
          .select(col("token"), col("n_a"), col("n_b"),
            col("drift_num").cast(DoubleType).as("drift_num"),
            col("tvd_num").cast(DoubleType).as("tvd_num"),
            col("tvd_den").cast(DoubleType).as("tvd_den"))
      },
      // q185: q181's machinery over the bigram shingle distribution
      // (whole-doc shingle for short docs — the established fragment)
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |t0 AS (SELECT doc_id, unnest(${shinglesSql("tk", 2)}) AS token
         |  FROM (SELECT doc_id, $toksSql AS tk FROM docs2)),
         |cnt AS (SELECT token,
         |    CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_a,
         |    CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_b
         |  FROM t0 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_a) AS HUGEINT) AS ta,
         |    CAST(sum(n_b) AS HUGEINT) AS tb FROM cnt),
         |d AS (SELECT token, n_a, n_b,
         |    CAST(abs(CAST(n_a AS HUGEINT) * tb - CAST(n_b AS HUGEINT) * ta)
         |      AS DECIMAL(38,0)) AS drift_num
         |  FROM cnt, tot),
         |t2 AS (SELECT CAST(sum(drift_num) AS DECIMAL(38,0)) AS tvd_num,
         |    (SELECT CAST(2 * ta * tb AS DECIMAL(38,0)) FROM tot)
         |      AS tvd_den FROM d)
         |SELECT token, n_a, n_b,
         |  CAST(drift_num AS DOUBLE) AS drift_num,
         |  CAST(tvd_num AS DOUBLE) AS tvd_num,
         |  CAST(tvd_den AS DOUBLE) AS tvd_den
         |FROM d, t2
         |ORDER BY drift_num DESC, token LIMIT 40""".stripMargin),

    // unigram ids through the trainer-handoff arc: the q180 Viterbi
    // encoder feeds the q144 prefix-sum packer, and each pack is
    // audited q152-style — the flat id stream's digest (the actual
    // unigram ids, gated against the twin's per-word DP id strings
    // pushed through the same pack arithmetic), the whole-pack decode
    // (id→piece concat must equal the member texts minus whitespace —
    // the unigram alphabet keeps every corpus char, so decode∘encode
    // is exact with no UNK), and the per-segment boundary audit (a
    // shifted doc_offsets boundary changes a segment digest even when
    // the pack digest survives). The one check chain a trainer runs
    // before trusting unigram packs.
    QuerySpec("q187_unigram_pack_decode",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = unigramPieces(docs)
        val vocab = pieces.map(p => (p._1, p._2))
        val withIds = docs.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.unigramEncode(col("text"), pieces)
              .as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            size(col("pack_ids")).cast(LongType).as("n_ids"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            graft.functions.TextFunctions.bpeDecode(col("pack_ids"), vocab)
              .as("__txt"),
            transform(sequence(lit(1), size(col("doc_offsets")) - 1),
              i => md5(graft.functions.TextFunctions.bpeDecode(
                slice(col("pack_ids"),
                  element_at(col("doc_offsets"), i) + 1,
                  element_at(col("doc_offsets"), i + 1)
                    - element_at(col("doc_offsets"), i)),
                vocab))).as("__segs"))
          .select(col("lang"), col("pack_id"), col("n_docs"), col("n_ids"),
            col("ids_md5"),
            length(col("__txt")).cast(LongType).as("decoded_chars"),
            md5(col("__txt")).as("decoded_md5"),
            md5(array_join(col("__segs"), " ")).as("segs_md5"))
          .orderBy("lang", "pack_id")
      },
      // q187: the q180 DP's per-word id strings aggregated to per-doc
      // streams and pushed through the q144 pack CTEs; the decode side
      // needs NO tokenizer (unigram decode∘encode = salted text minus
      // whitespace — the alphabet keeps every corpus char, so no UNK),
      // exactly q152's regexp-strip rebuild, while ids_md5 gates the
      // actual id stream digest per pack
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |${unigramCtes(4, 8L, 120, 1L << 20, 16)},
         |uids AS (SELECT t.doc_id,
         |    string_agg(s.ids, ' ' ORDER BY t.ord) AS ids_str,
         |    CAST(sum(s.n) AS BIGINT) AS n_pieces
         |  FROM utoks t JOIN useg s ON s.w = t.tok
         |  GROUP BY 1),
         |qnt AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(u.n_pieces, 0) AS n_tokens,
         |    COALESCE(u.ids_str, '') AS ids_str,
         |    regexp_replace(d.text, '\\s+', '', 'g') AS dec
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN uids u USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |qcc AS (SELECT doc_id, lang, n_tokens, ids_str, dec,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM qnt),
         |qpk AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, n_tokens, ids_str, dec FROM qcc)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_ids,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  CAST(length(COALESCE(string_agg(dec, '' ORDER BY doc_id), ''))
         |    AS BIGINT) AS decoded_chars,
         |  md5(COALESCE(string_agg(dec, '' ORDER BY doc_id), ''))
         |    AS decoded_md5,
         |  md5(string_agg(md5(dec), ' ' ORDER BY doc_id)) AS segs_md5
         |FROM qpk GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // the unigram family's SOFT (lattice) E-step gated cross-engine:
    // SentencePiece's published forward-backward expected counts
    // (q184/q194 gate the hard/Viterbi variant; CorpusSpec pins where
    // the two provably diverge). The dictionary is the corpus tokens
    // TRUNCATED TO 4 CHARS — that bounds every lattice value by
    // L·Z^4·expScale, inside DuckDB's HUGEINT, so the twin can replay
    // the exact Z-homogenized integer forward-backward (α̃/β̃ unrolled
    // over 4 positions) instead of trusting floats; pieces are all
    // 1-2-char substrings with occurrence-count numerators, ids by
    // piece order. Output: per kept piece (singles + soft-used multis)
    // the seed count, the E-step's expected usage on the 2^20 grid,
    // and the M-step's re-cost — the full soft E→M round, bit-exact
    QuerySpec("q200_unigram_soft_estep",
      (s, dir) => {
        import graft.operators.Corpus
        val sess = s
        import sess.implicits._
        val expScale = 1L << 20
        val dict = t(s, dir, "documents").where(col("text").isNotNull)
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok0"))
          .select(substring(col("tok0"), 1, 4).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("wc"))
          .localCheckpoint() // feeds the seed scan AND the E-step
        val occ = dict.select(col("tok"), col("wc"),
          explode(sequence(lit(1), length(col("tok")))).as("i"))
        val ps = occ
          .select(col("tok").substr(col("i"), lit(1)).as("piece"), col("wc"))
          .unionByName(occ.where(col("i") + 1 <= length(col("tok")))
            .select(col("tok").substr(col("i"), lit(2)).as("piece"),
              col("wc")))
          .groupBy("piece").agg(sum("wc").as("n_seed"))
          .orderBy("piece").collect().zipWithIndex
          .map { case (r, ix) => (r.getString(0), ix + 1, r.getLong(1)) }
          .toSeq
        val usage = Corpus.unigramSoftUsage(dict, "tok", "wc", ps, expScale)
          .collect()
          .map(r => r.getInt(0) -> r.getDecimal(1).longValueExact()).toMap
        val nSeed = ps.map(p => p._2 -> p._3).toMap
        Corpus.unigramHardEmStep(ps, usage) // recost + zero-usage drop
          .map { case (p, id, c) =>
            (p, id.toLong, nSeed(id), usage.getOrElse(id, 0L), c) }
          .toDF("piece", "id", "n_seed", "soft_u", "cost")
          .orderBy("id")
      },
      // q200: the exact-integer lattice forward-backward replayed in
      // HUGEINT — words are <= 4 chars by construction, so α̃ (a0..a4)
      // and β̃ (B1..B4) unroll as guarded CASE columns over the seven
      // per-word piece weights; Z-homogenization (double pieces weigh
      // n·Z) keeps every marginal an integer ratio, one floor division
      // per (word, piece) onto the 2^20 grid, then the same M-step
      // floor arithmetic as the hard-EM twins
      s"""WITH d0 AS (SELECT unnest($toksSql) AS tok0 FROM documents
         |  WHERE text IS NOT NULL),
         |d AS (SELECT substr(tok0, 1, 4) AS tok,
         |    CAST(count(*) AS HUGEINT) AS wc FROM d0 GROUP BY 1),
         |pos AS (SELECT tok, wc,
         |    unnest(range(1, length(tok) + 1)) AS i FROM d),
         |sub AS (SELECT substr(tok, i, 1) AS piece, wc FROM pos
         |  UNION ALL
         |  SELECT substr(tok, i, 2), wc FROM pos
         |  WHERE i + 1 <= length(tok)),
         |seed AS (SELECT piece, CAST(sum(wc) AS HUGEINT) AS n_seed
         |  FROM sub GROUP BY 1),
         |p AS (SELECT piece,
         |    CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id,
         |    n_seed FROM seed),
         |zz AS (SELECT CAST(sum(n_seed) AS HUGEINT) AS z FROM p),
         |lat AS (SELECT tok, wc, length(tok) AS n, z.z,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,1,1)) AS w11,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,2,1)) AS w12,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,3,1)) AS w13,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,4,1)) AS w14,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,1,2)
         |     AND length(tok) >= 2) AS w21,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,2,2)
         |     AND length(tok) >= 3) AS w22,
         |  (SELECT n_seed FROM p WHERE p.piece = substr(tok,3,2)
         |     AND length(tok) >= 4) AS w23
         |  FROM d, zz z),
         |ab AS (SELECT *,
         |  CAST(1 AS HUGEINT) AS a0,
         |  w11 AS a1,
         |  CASE WHEN n >= 2 THEN w11*w12 + w21*z END AS a2,
         |  CASE WHEN n >= 3 THEN (w11*w12 + w21*z)*w13 + w11*w22*z
         |    END AS a3,
         |  CASE WHEN n >= 4 THEN
         |    ((w11*w12 + w21*z)*w13 + w11*w22*z)*w14
         |      + (w11*w12 + w21*z)*w23*z END AS a4,
         |  CASE WHEN n = 4 THEN 1 END AS b4,
         |  CASE WHEN n = 3 THEN 1 WHEN n = 4 THEN w14 END AS b3,
         |  CASE WHEN n = 2 THEN 1 WHEN n = 3 THEN w13
         |    WHEN n = 4 THEN w13*w14 + w23*z END AS b2,
         |  CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN w12
         |    WHEN n = 3 THEN w12*w13 + w22*z
         |    WHEN n = 4 THEN w12*(w13*w14 + w23*z) + w22*z*w14
         |    END AS b1
         |  FROM lat),
         |aa AS (SELECT *, CASE n WHEN 1 THEN a1 WHEN 2 THEN a2
         |    WHEN 3 THEN a3 ELSE a4 END AS tot FROM ab),
         |occn AS (
         |  SELECT tok, wc, tot, substr(tok,1,1) AS piece,
         |    a0*w11*b1 AS num FROM aa
         |  UNION ALL SELECT tok, wc, tot, substr(tok,2,1),
         |    a1*w12*b2 FROM aa WHERE n >= 2
         |  UNION ALL SELECT tok, wc, tot, substr(tok,3,1),
         |    a2*w13*b3 FROM aa WHERE n >= 3
         |  UNION ALL SELECT tok, wc, tot, substr(tok,4,1),
         |    a3*w14*b4 FROM aa WHERE n >= 4
         |  UNION ALL SELECT tok, wc, tot, substr(tok,1,2),
         |    a0*w21*z*b2 FROM aa WHERE n >= 2
         |  UNION ALL SELECT tok, wc, tot, substr(tok,2,2),
         |    a1*w22*z*b3 FROM aa WHERE n >= 3
         |  UNION ALL SELECT tok, wc, tot, substr(tok,3,2),
         |    a2*w23*z*b4 FROM aa WHERE n >= 4),
         |ew AS (SELECT tok, wc, piece,
         |    (CAST(1048576 AS HUGEINT) * sum(num)) // tot AS e
         |  FROM occn GROUP BY tok, wc, piece, tot),
         |su AS (SELECT piece, sum(wc * e) AS soft_u FROM ew GROUP BY 1),
         |kept AS (SELECT p.piece, p.id, p.n_seed,
         |    COALESCE(su.soft_u, 0) AS soft_u
         |  FROM p LEFT JOIN su USING (piece)
         |  WHERE length(p.piece) = 1 OR COALESCE(su.soft_u, 0) > 0),
         |t2 AS (SELECT CAST(sum(soft_u) AS HUGEINT) AS t2 FROM kept)
         |SELECT piece, id, CAST(n_seed AS BIGINT) AS n_seed,
         |  CAST(soft_u AS BIGINT) AS soft_u,
         |  CAST(1 + (CAST(1048576 AS HUGEINT) * (t.t2 - soft_u)) // t.t2
         |    AS BIGINT) AS cost
         |FROM kept, t2 t ORDER BY id""".stripMargin),

    // the unigram LEARN LOOP closed as a driver arc (q184 gates ONE
    // hard-EM iteration; this runs Corpus.learnUnigram — seed → 2×
    // (E → M → shrink-to-target) at the q180-family constants, target
    // 100) and ships the result through the unified tokenizer
    // artifact: the gated table is what save→load returns, so the
    // round-trip is load-bearing. The twin unrolls both rounds — two
    // chained Viterbi DP passes, the usage/recost/prune algebra in
    // HUGEINT, and the identical shrink arithmetic
    QuerySpec("q194_learn_unigram",
      (s, dir) => {
        import graft.operators.{Tokenizer, UnigramTokenizer}
        val learned = graft.operators.Corpus.learnUnigram(
          saltedDocs(s, dir), "text", vocabSize = 100, rounds = 2,
          maxPieceLen = 4, minCount = 8, seedSize = 120)
        val root = scratch("graft_unilearn_")
        Tokenizer.save(s, UnigramTokenizer(learned), s"$root/uni")
        val back = Tokenizer.load(s, s"$root/uni")
          .asInstanceOf[UnigramTokenizer].pieces
        val sess = s
        import sess.implicits._
        back.toDF("piece", "id", "cost")
          .select(col("piece"), col("id").cast(LongType).as("id"),
            col("cost"))
          .orderBy("id")
      },
      // q194: the 2-round learn loop unrolled — q184's EM algebra run
      // twice with the shrink-to-target prune between rounds: after
      // each recost, singles stay and multis keep the top
      // greatest(100 − |singles|, (3·|multis|)//4) by (usage desc,
      // piece) — the exact integer arithmetic of Corpus.learnUnigram.
      // The second DP pass reads the round-1 survivor table (vsel)
      // through the same generator; the output is the FINAL table
      s"""WITH docs2 AS (SELECT doc_id,
         |    text || ' ' || regexp_replace(substr(text, 1, 16), ' ', '', 'g')
         |      AS text FROM documents),
         |${unigramCtes(4, 8L, 120, 1L << 20, 16)},
         |vuse AS (SELECT CAST(unnest(string_split(s.ids, ' '))
         |      AS INTEGER) AS id, c.wc
         |  FROM useg s JOIN utc c ON c.tok = s.w),
         |vcnt AS (SELECT id, CAST(sum(wc) AS BIGINT) AS u
         |  FROM vuse GROUP BY 1),
         |vkept AS (SELECT p.piece, p.id, p.plen, coalesce(v.u, 0) AS u
         |  FROM upc p LEFT JOIN vcnt v USING (id)
         |  WHERE p.plen = 1 OR coalesce(v.u, 0) > 0),
         |vtot AS (SELECT CAST(sum(u) AS HUGEINT) AS t FROM vkept),
         |vpc0 AS MATERIALIZED (SELECT k.piece, k.id, k.plen, k.u,
         |    CAST(1 + (CAST(${1L << 20} AS HUGEINT) * (vt.t - k.u)) // vt.t
         |      AS BIGINT) AS cost
         |  FROM vkept k, vtot vt),
         |vkm AS (SELECT greatest(
         |    100 - (SELECT count(*) FROM vpc0 WHERE plen = 1),
         |    (3 * (SELECT count(*) FROM vpc0 WHERE plen > 1)) // 4) AS k),
         |vsel AS MATERIALIZED (
         |  SELECT piece, id, plen, cost FROM vpc0 WHERE plen = 1
         |  UNION ALL
         |  SELECT piece, id, plen, cost FROM (
         |    SELECT piece, id, plen, cost,
         |      row_number() OVER (ORDER BY u DESC, piece) AS rn
         |    FROM vpc0 WHERE plen > 1)
         |  WHERE rn <= (SELECT k FROM vkm)),
         |${unigramDpCtes("w", "vsel", 4, 16)},
         |wuse AS (SELECT CAST(unnest(string_split(s.ids, ' '))
         |      AS INTEGER) AS id, c.wc
         |  FROM wseg s JOIN utc c ON c.tok = s.w),
         |wcnt AS (SELECT id, CAST(sum(wc) AS BIGINT) AS u
         |  FROM wuse GROUP BY 1),
         |wkept AS (SELECT p.piece, p.id, p.plen, coalesce(v.u, 0) AS u
         |  FROM vsel p LEFT JOIN wcnt v USING (id)
         |  WHERE p.plen = 1 OR coalesce(v.u, 0) > 0),
         |wtot AS (SELECT CAST(sum(u) AS HUGEINT) AS t FROM wkept),
         |wpc0 AS MATERIALIZED (SELECT k.piece, k.id, k.plen, k.u,
         |    CAST(1 + (CAST(${1L << 20} AS HUGEINT) * (wt.t - k.u)) // wt.t
         |      AS BIGINT) AS cost
         |  FROM wkept k, wtot wt),
         |wkm AS (SELECT greatest(
         |    100 - (SELECT count(*) FROM wpc0 WHERE plen = 1),
         |    (3 * (SELECT count(*) FROM wpc0 WHERE plen > 1)) // 4) AS k),
         |wsel AS (
         |  SELECT piece, id, cost FROM wpc0 WHERE plen = 1
         |  UNION ALL
         |  SELECT piece, id, cost FROM (
         |    SELECT piece, id, cost,
         |      row_number() OVER (ORDER BY u DESC, piece) AS rn
         |    FROM wpc0 WHERE plen > 1)
         |  WHERE rn <= (SELECT k FROM wkm))
         |SELECT piece, CAST(id AS BIGINT) AS id, cost
         |FROM wsel ORDER BY id""".stripMargin),

    // q159 under GPT-2's PUBLISHED pretokenization (Radford et al.
    // 2019 — the gpt2 encoder regex: contractions split, one literal
    // space binds to a word, letter/digit/punct runs split, a
    // whitespace run sheds all but its last space via the (?!\S)
    // lookahead). The corpus adds gpt2Salt so every branch of the
    // pattern is live. The pattern tiles the input completely, so the
    // exact-reconstruction audit holds unchanged; n_pretoks is the
    // REAL cross-engine pin — Java's lookahead reading vs the twin's
    // independent RE2 derivation (a lookahead-free variant plus a
    // run-split adjustment term: RE2 has no lookahead, so equality is
    // a theorem about the two decompositions, checked per doc)
    QuerySpec("q168_byte_bpe_gpt2_pretok",
      (s, dir) => {
        import graft.functions.ByteBpeKernel
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .where(col("text").isNotNull)
        val salted = docs.withColumn("text", concat(col("text"),
          lit(byteBpeSalt), lit(gpt2Salt), col("doc_id").cast(StringType)))
        val mergeTable = graft.operators.Corpus.learnByteBpeMerges(salted,
          "text", numMerges = 16, pretokPattern = ByteBpeKernel.gpt2Pattern)
        val merges = graft.operators.Corpus.collectMerges(mergeTable)
        val vocab = graft.operators.Corpus.byteMergeVocab(mergeTable)
        salted.select(col("doc_id"),
            col("text"),
            graft.functions.TextFunctions.byteBpeEncode(col("text"), merges,
              vocab, ByteBpeKernel.gpt2Pattern).as("__ids"))
          .select(col("doc_id"), col("text"), col("__ids"),
            graft.functions.TextFunctions.byteBpeDecode(col("__ids"), vocab)
              .as("__txt"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit(ByteBpeKernel.gpt2Pattern), lit(0)))
              .cast(LongType).as("n_pretoks"),
            (size(col("__ids")) <= octet_length(col("text")))
              .as("ids_le_bytes"),
            octet_length(col("__txt")).cast(LongType).as("n_bytes"),
            md5(col("__txt")).as("roundtrip_md5"))
          .orderBy("doc_id")
      },
      // q168: the GPT-2 pretokenizer's cross-engine pin. RE2 has no
      // lookahead, so the twin derives the SAME count independently:
      // a lookahead-free variant of the pattern (the final \s+ eats a
      // whole whitespace run where Java's \s+(?!\S) sheds the last
      // space into the next word — same COUNT whenever the run ends
      // in a space) plus an adjustment term counting the one shape
      // that differs — a run of >=2 whitespace chars ENDING in
      // non-space whitespace before a non-whitespace char, which Java
      // splits into two pretokens and the variant keeps as one. Java's
      // \s class is spelled out ([ \t\n\x0B\f\r] — RE2's \s omits
      // \x0B, the q159 lesson); \p{L}/\p{N} are Unicode categories in
      // both engines. Exact reconstruction and byte length audit as in
      // q159 — the twin recomputes the identity from the raw text with
      // NO tokenizer, so a lossy kernel or pretokenizer drift breaks
      // the digest
      s"""WITH g8 AS MATERIALIZED (SELECT doc_id,
         |    text || '$byteBpeSalt' || '$gpt2SaltSql' ||
         |      CAST(doc_id AS VARCHAR) AS txt
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt,
         |      '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+'))
         |    + len(regexp_extract_all(txt,
         |      '[ \\t\\n\\x0B\\f\\r][\\t\\n\\x0B\\f\\r][^ \\t\\n\\x0B\\f\\r]'))
         |    AS BIGINT) AS n_pretoks,
         |  true AS ids_le_bytes,
         |  CAST(strlen(txt) AS BIGINT) AS n_bytes,
         |  md5(txt) AS roundtrip_md5
         |FROM g8 ORDER BY doc_id""".stripMargin),

    // the byte family joins the ONE unified tokenizer artifact (its
    // schema's third kind): learn → persist → load through the
    // single kind-dispatching loader → the LOADED tokenizer must
    // reproduce the built one's ids exactly (in-query equality over
    // every doc) AND its decode∘encode must still be the exact-text
    // identity — the ship-a-byte-tokenizer contract. The vocabulary's
    // Latin-1 byte-carrier strings (control chars included) round-trip
    // through parquet like any piece strings; the loader refuses an
    // artifact whose alphabet doesn't cover all 256 bytes (that would
    // resurrect UNK, the failure mode the family exists to exclude)
    QuerySpec("q161_byte_artifact_roundtrip",
      (s, dir) => {
        import graft.operators.{ByteMergeTokenizer, Tokenizer}
        val root = scratch("graft_btok_")
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .where(col("text").isNotNull)
        val salted = docs.withColumn("text", concat(col("text"),
          lit(byteBpeSalt), col("doc_id").cast(StringType)))
        val mt = graft.operators.Corpus.learnByteBpeMerges(salted, "text",
          numMerges = 16)
        val built = ByteMergeTokenizer(
          graft.operators.Corpus.collectMerges(mt),
          graft.operators.Corpus.byteMergeVocab(mt))
        Tokenizer.save(s, built, s"$root/byte")
        val loaded = Tokenizer.load(s, s"$root/byte")
        salted.select(col("doc_id"), col("text"),
            built.encode(col("text")).as("__a"),
            loaded.encode(col("text")).as("__b"))
          .select(col("doc_id"),
            (col("__a") === col("__b")).as("ids_match"),
            md5(loaded.decode(col("__b"))).as("roundtrip_md5"))
          .orderBy("doc_id")
      },
      // q161: the persisted-artifact gate — the loaded tokenizer's ids
      // equal the built one's (in-query equality; the twin asserts the
      // invariant) and its decode still reconstructs the salted text
      // verbatim, which the twin recomputes with no tokenizer at all
      s"""SELECT doc_id, true AS ids_match,
         |  md5(text || '$byteBpeSalt' || CAST(doc_id AS VARCHAR))
         |    AS roundtrip_md5
         |FROM documents WHERE text IS NOT NULL
         |ORDER BY doc_id""".stripMargin),

    // the byte family through the PACK pipeline, audited EXACTLY:
    // byte-merge ids packed under a SQL-computable weight (the doc's
    // byte length — any caller-supplied nTokens column works, and this
    // one lets the twin replicate the pack boundaries with no
    // tokenizer), then each pack's flat id stream DECODES to the exact
    // concatenation of its member docs — whitespace included, the
    // guarantee q152's stripped-text audit structurally can't give.
    // decoded_bytes doubles as a second independent derivation (the
    // twin computes it from strlen, the query from the decoded string)
    QuerySpec("q162_byte_packs_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
          .where(col("text").isNotNull)
        val salted = docs.withColumn("text", concat(col("text"),
          lit(byteBpeSalt), col("doc_id").cast(StringType)))
        val mt = graft.operators.Corpus.learnByteBpeMerges(salted, "text",
          numMerges = 16)
        val merges = graft.operators.Corpus.collectMerges(mt)
        val vocab = graft.operators.Corpus.byteMergeVocab(mt)
        val withIds = salted.select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.byteBpeEncode(col("text"), merges,
            vocab).as("__ids"),
          octet_length(col("text")).cast(LongType).as("__n_tokens"))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 8192)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          // decode each pack's ~budget-sized id stream ONCE (q152 pattern)
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens").as("pack_bytes"),
            graft.functions.TextFunctions.byteBpeDecode(col("pack_ids"),
              vocab).as("__txt"),
            // q152's per-segment audit, byte family: each member's id
            // range sliced out by doc_offsets decodes ALONE to exactly
            // that member's text (the twin hashes the member texts
            // directly) — a shifted boundary flips a segment digest even
            // when the whole-pack digest still matches
            transform(sequence(lit(1), size(col("doc_offsets")) - 1),
              i => md5(graft.functions.TextFunctions.byteBpeDecode(
                slice(col("pack_ids"),
                  element_at(col("doc_offsets"), i) + 1,
                  element_at(col("doc_offsets"), i + 1)
                    - element_at(col("doc_offsets"), i)),
                vocab))).as("__segs"))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_bytes"),
            octet_length(col("__txt")).cast(LongType).as("decoded_bytes"),
            md5(col("__txt")).as("decoded_md5"),
            md5(array_join(col("__segs"), " ")).as("segs_md5"))
          .orderBy("lang", "pack_id")
      },
      // q162: byte ids through the packer — pack boundaries replicate
      // from strlen weights (no tokenizer needed), and each pack's
      // decoded stream must equal its member texts concatenated in doc
      // order VERBATIM; decoded_bytes re-derives the same quantity from
      // the opposite side (strlen of the concat vs sum of weights)
      s"""WITH bslt AS MATERIALIZED (SELECT doc_id, lang,
         |    text || '$byteBpeSalt' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents WHERE text IS NOT NULL),
         |bnt AS (SELECT doc_id, lang, text,
         |    CAST(strlen(text) AS BIGINT) AS n_tokens FROM bslt),
         |bcc AS (SELECT doc_id, lang, text, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM bnt),
         |bpk AS (SELECT lang,
         |  CAST((cum - n_tokens) // 8192 AS BIGINT) AS pack_id,
         |  doc_id, text, n_tokens FROM bcc)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_bytes,
         |  CAST(strlen(string_agg(text, '' ORDER BY doc_id)) AS BIGINT)
         |    AS decoded_bytes,
         |  md5(string_agg(text, '' ORDER BY doc_id)) AS decoded_md5,
         |  md5(string_agg(md5(text), ' ' ORDER BY doc_id)) AS segs_md5
         |FROM bpk GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // the byte family through the STREAMING packer: q155's incremental
    // closed-pack export with the byte encode kernel as the stateless
    // prepare — emitted packs must carry the q162 exact-reconstruction
    // property (each closed pack's ids decode to its member texts
    // verbatim, ACROSS micro-batch boundaries), minus each shard's
    // structurally-unemittable final open pack. The streamed cursor
    // advances by ids.length, so this runs the IDENTITY byte tokenizer
    // (0 merges: ids == bytes, boundaries replicate from strlen with
    // no tokenizer on the twin side); the learned-merge payload is
    // gated by q161/q162 — here the gate is the streaming composition
    QuerySpec("q163_stream_byte_packs",
      (s, dir) => {
        val root = scratch("graft_sbp_")
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
          .where(col("text").isNotNull)
        val salted = docs.withColumn("text", concat(col("text"),
          lit(byteBpeSalt), col("doc_id").cast(StringType)))
        val merges = Seq.empty[(String, String)]
        val vocab = graft.operators.Corpus.identityByteVocab
        val (src, schema) = idRangeBacklog(s, root, salted)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingPack.runMaterializeAvailableNow(
            s, src, schema, s"$root/out", s"$root/ckpt", tokenBudget = 8192,
            prepare = df => df.select(col("lang").as("shard"), col("doc_id"),
              graft.functions.TextFunctions.byteBpeEncode(col("text"),
                merges, vocab).as("ids")))
        }
        s.read.parquet(s"$root/out")
          // decode each pack's id stream ONCE (q152 pattern)
          .select(col("shard").as("lang"), col("pack_id"), col("n_docs"),
            graft.functions.TextFunctions.byteBpeDecode(col("pack_ids"),
              vocab).as("__txt"))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            octet_length(col("__txt")).cast(LongType).as("decoded_bytes"),
            md5(col("__txt")).as("decoded_md5"))
          .orderBy("lang", "pack_id")
      },
      // q163: q162's boundary arithmetic (ids == bytes under the
      // identity byte tokenizer, so strlen IS the cursor) minus each
      // shard's final open pack — the streamed export's reconstruction
      // gate across micro-batch boundaries
      s"""WITH sslt AS MATERIALIZED (SELECT doc_id, lang,
         |    text || '$byteBpeSalt' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents WHERE text IS NOT NULL),
         |snt3 AS (SELECT doc_id, lang, text,
         |    CAST(strlen(text) AS BIGINT) AS n_tokens FROM sslt),
         |scc3 AS (SELECT doc_id, lang, text, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM snt3),
         |spk3 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 8192 AS BIGINT) AS pack_id,
         |  doc_id, text, n_tokens FROM scc3),
         |sag3 AS MATERIALIZED (SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(strlen(string_agg(text, '' ORDER BY doc_id)) AS BIGINT)
         |    AS decoded_bytes,
         |  md5(string_agg(text, '' ORDER BY doc_id)) AS decoded_md5
         |  FROM spk3 GROUP BY lang, pack_id)
         |SELECT a.lang, a.pack_id, a.n_docs, a.decoded_bytes,
         |  a.decoded_md5
         |FROM sag3 a JOIN (SELECT lang, max(pack_id) AS mp
         |  FROM sag3 GROUP BY lang) m USING (lang)
         |WHERE a.pack_id < m.mp
         |ORDER BY a.lang, a.pack_id""".stripMargin),

    // the trainer-facing export under the LEARNED tokenizer: q142's
    // merge table drives rank-ordered id emission (BpeMergeEncodeExpr
    // over the buildMergeVocab symbol ids — alphabet 1..A, then merges
    // at A+rank), feeding the SAME packer + token-pack materialization
    // as q144. This closes the learning arc at the artifact a trainer
    // consumes: q144 could only ship MaxMatch ids; a pipeline that
    // selects the learned tokenizer (q150's A/B) exports through this
    QuerySpec("q151_merge_token_packs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mergeTable = graft.operators.Corpus.learnBpeMerges(docs, "text",
          numMerges = 16)
        val merges = graft.operators.Corpus.collectMerges(mergeTable)
        val vocab = graft.operators.Corpus.collectPieces(
          graft.operators.Corpus.buildMergeVocab(docs, "text", mergeTable))
        val withIds = docs.select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeMergeEncode(col("text"), merges,
              vocab).as("__ids"))
          .withColumn("__n_tokens", size(col("__ids")).cast(LongType))
        val packed = graft.operators.Corpus.packSequences(withIds, "lang",
          "doc_id", col("__n_tokens"), tokenBudget = 2048)
        graft.operators.Corpus.materializeTokenPacks(packed, "lang",
            "doc_id", "__ids")
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // q151: q144's packing arithmetic fed by the LEARNED tokenizer's
      // id stream — per-word final segmentations off blw16 (1-char
      // words never entered the chain: they segment as themselves),
      // each symbol mapped through the merge vocab (alphabet sorted =
      // ids 1..A, merged symbol = A + rank, min(id) on collisions,
      // unseen → 0)
      {
        val mergedRanks = (0 until bpeLearnK).map { i =>
          s"SELECT lhs, rhs, ${i + 1} AS r FROM blt$i"
        }.mkString(" UNION ALL ")
        s"""WITH $bpeLearnCtes,
           |mvch AS (SELECT DISTINCT
           |    unnest(regexp_extract_all(word, '(.)', 1)) AS ch
           |  FROM blwc),
           |mva AS (SELECT ch AS piece,
           |    CAST(row_number() OVER (ORDER BY ch) AS INTEGER) AS id
           |  FROM mvch),
           |mvn AS (SELECT CAST(count(*) AS INTEGER) AS a FROM mva),
           |mvm AS (SELECT lhs || rhs AS piece, CAST(r + a AS INTEGER) AS id
           |  FROM ($mergedRanks) CROSS JOIN mvn),
           |mvv AS (SELECT piece, MIN(id) AS id FROM
           |  (SELECT piece, id FROM mva
           |   UNION ALL SELECT piece, id FROM mvm) GROUP BY piece),
           |mwall AS (SELECT word, $bpeLearnUnwrapRe AS sa FROM blw$bpeLearnK
           |  UNION ALL SELECT word, [word] AS sa FROM blwc
           |  WHERE length(word) < 2),
           |mwsym AS (SELECT word, unnest(sa) AS s,
           |    unnest(range(1, len(sa) + 1)) AS p FROM mwall),
           |mwids AS (SELECT word, CAST(count(*) AS BIGINT) AS wc,
           |    string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ' '
           |      ORDER BY w.p) AS ids_str
           |  FROM mwsym w LEFT JOIN mvv v ON v.piece = w.s
           |  GROUP BY word),
           |mta AS (SELECT doc_id, $toksSql AS arr FROM documents
           |  WHERE text IS NOT NULL),
           |mtk AS (SELECT doc_id, unnest(arr) AS word,
           |    unnest(range(1, len(arr) + 1)) AS ord
           |  FROM mta WHERE len(arr) > 0),
           |mseq AS (SELECT t.doc_id, CAST(sum(w.wc) AS BIGINT) AS n_tokens,
           |    string_agg(w.ids_str, ' ' ORDER BY t.ord) AS ids_str
           |  FROM mtk t JOIN mwids w USING (word) GROUP BY t.doc_id),
           |mnt AS (SELECT d.doc_id, doc.lang,
           |    COALESCE(s.n_tokens, 0) AS n_tokens,
           |    COALESCE(s.ids_str, '') AS ids_str
           |  FROM mta d JOIN documents doc USING (doc_id)
           |  LEFT JOIN mseq s USING (doc_id)),
           |mcc AS (SELECT doc_id, lang, n_tokens, ids_str,
           |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM mnt),
           |mpk AS (SELECT lang,
           |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
           |  doc_id, n_tokens, ids_str FROM mcc),
           |mpko AS (SELECT lang, pack_id, doc_id, n_tokens, ids_str,
           |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
           |    ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
           |  FROM mpk)
           |SELECT lang, pack_id, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           |  md5(COALESCE(string_agg(
           |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
           |    ORDER BY doc_id), '')) AS ids_md5,
           |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
           |    ORDER BY doc_id)) AS offsets_md5
           |FROM mpko GROUP BY lang, pack_id
           |ORDER BY lang, pack_id""".stripMargin
      }),

    // tokenizer ARTIFACT persistence: both artifacts — the piece vocab
    // (q137's) and the learned merge table (q142's) — write to parquet
    // model files, load back, and drive their inference kernels; the
    // oracle recomputes both paths from the corpus, so a green row
    // proves the persisted artifacts reproduce the built ones exactly
    // (the ship-a-tokenizer contract)
    QuerySpec("q145_artifact_roundtrip",
      (s, dir) => {
        import graft.operators.{MaxMatchTokenizer, MergeTokenizer, Tokenizer}
        val root = scratch("graft_tok_")
        val raw = t(s, dir, "documents")
        val salted = raw.withColumn("text", saltCompound(col("text")))
        val builtMax = MaxMatchTokenizer(graft.operators.Corpus.collectPieces(
          graft.operators.Corpus.buildPieceVocab(salted, "text",
            minCount = 5, maxSize = 200)))
        val mergeTable =
          graft.operators.Corpus.learnBpeMerges(raw, "text", numMerges = 16)
        val builtMerge = MergeTokenizer(
          graft.operators.Corpus.collectMerges(mergeTable),
          graft.operators.Corpus.collectPieces(
            graft.operators.Corpus.buildMergeVocab(raw, "text", mergeTable)))
        // both kinds persist in the ONE unified schema and come back
        // through the ONE loader — the artifact's kind column, not the
        // call site, decides which kernel family runs
        Tokenizer.save(s, builtMax, s"$root/max")
        Tokenizer.save(s, builtMerge, s"$root/mrg")
        val loadedMax = Tokenizer.load(s, s"$root/max")
        val loadedMerge = Tokenizer.load(s, s"$root/mrg")
        salted.select(col("doc_id"),
            loadedMax.count(col("text")).cast(LongType).as("n_pieces"))
          .join(raw.select(col("doc_id"),
            loadedMerge.count(col("text")).cast(LongType)
              .as("n_bpe_tokens")), Seq("doc_id"))
          .orderBy("doc_id")
      },
      // both artifact paths recomputed from the corpus: the MaxMatch
      // count off the salted-vocab block, the merge-order count off
      // the learn chain's final segmentations — a green row proves
      // the parquet-persisted artifacts reproduce the built ones
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |$bpeLearnCtes,
         |wfin2 AS (SELECT word,
         |    CAST(len($bpeLearnUnwrapRe) AS BIGINT) AS wc
         |  FROM blw$bpeLearnK),
         |dtk2 AS (SELECT doc_id, unnest($toksSql) AS word
         |  FROM documents),
         |dcnt2 AS (SELECT d.doc_id, SUM(COALESCE(w.wc, 1)) AS n
         |  FROM dtk2 d LEFT JOIN wfin2 w USING (word) GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE COALESCE(s.n_pieces, 0) END AS n_pieces,
         |  CASE WHEN d.text IS NULL THEN NULL
         |    ELSE CAST(COALESCE(dc.n, 0) AS BIGINT) END AS n_bpe_tokens
         |FROM docs2 d
         |LEFT JOIN seq s USING (doc_id)
         |LEFT JOIN dcnt2 dc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // tokenizer EVALUATION: per-language fertility/compression report
    // over the learned (q142) tokenizer — words, word bytes, and BPE
    // tokens roll up per lang as exact BIGINT sums (fertility =
    // n_bpe_tokens/n_words and bytes-per-token = n_word_bytes/
    // n_bpe_tokens are downstream divisions; sums keep the gate
    // hash-exact). Byte accounting is octet_length/strlen on the two
    // engines — equal on this pure-ASCII corpus, so the multi-byte
    // semantics are pinned by TextKernelsSpec, not this gate. One
    // narrow codegen projection (tokens + merge-count kernels) then
    // ONE O(#langs) aggregate — no per-word shuffle
    QuerySpec("q146_tokenizer_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Corpus.collectMerges(
          graft.operators.Corpus.learnBpeMerges(docs, "text", numMerges = 16))
        docs.filter(col("text").isNotNull)
          .select(col("lang"),
            graft.functions.TextFunctions.tokens(col("text")).as("tk"),
            graft.functions.TextFunctions.bpeMergeCount(col("text"), merges)
              .cast(LongType).as("n_bpe"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("tk")).cast(LongType)).as("n_words"),
            sum(graft.functions.TextFunctions.tokenByteSum(col("tk")))
              .as("n_word_bytes"),
            sum(col("n_bpe")).as("n_bpe_tokens"))
          .orderBy("lang")
      },
      // per-lang rollup of the q143 per-word counts plus word/byte
      // totals off the shared tokenizer (strlen = bytes = Spark
      // octet_length; zh multi-byte text keeps both engines honest);
      // every sum CAST to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
      s"""WITH $bpeLearnCtes,
         |wf3 AS (SELECT word,
         |    CAST(len($bpeLearnUnwrapRe) AS BIGINT) AS wc
         |  FROM blw$bpeLearnK),
         |dtk3 AS (SELECT doc_id, unnest($toksSql) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |dw3 AS (SELECT d.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(strlen(d.word)) AS BIGINT) AS n_bytes,
         |    CAST(sum(COALESCE(w.wc, 1)) AS BIGINT) AS n_bpe
         |  FROM dtk3 d LEFT JOIN wf3 w USING (word) GROUP BY 1)
         |SELECT doc.lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(sum(dw3.n_words), 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(sum(dw3.n_bytes), 0) AS BIGINT)
         |    AS n_word_bytes,
         |  CAST(COALESCE(sum(dw3.n_bpe), 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents doc LEFT JOIN dw3 USING (doc_id)
         |WHERE doc.text IS NOT NULL
         |GROUP BY 1 ORDER BY lang""".stripMargin),

    // tokenizer A/B comparison: the two shipped tokenizers — the
    // frequency piece vocab under MaxMatch inference (q137 family) and
    // the learned merge table under rank-ordered inference (q142/q143
    // family) — run over the SAME raw corpus, reporting per-language
    // token totals and per-doc win counts (which tokenizer compresses
    // each doc better). The model-selection report a pipeline runs
    // before committing to a tokenizer; one narrow projection carrying
    // both kernels, one O(#langs) aggregate
    QuerySpec("q150_tokenizer_compare",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pieces = q137Pieces(docs)
        val merges = graft.operators.Corpus.collectMerges(
          graft.operators.Corpus.learnBpeMerges(docs, "text", numMerges = 16))
        docs.filter(col("text").isNotNull)
          .select(col("lang"),
            graft.functions.TextFunctions.bpeCount(col("text"), pieces)
              .cast(LongType).as("nmax"),
            graft.functions.TextFunctions.bpeMergeCount(col("text"), merges)
              .cast(LongType).as("nmrg"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nmax")).as("n_maxmatch_tokens"),
            sum(col("nmrg")).as("n_merge_tokens"),
            sum(when(col("nmrg") < col("nmax"), lit(1L)).otherwise(lit(0L)))
              .as("n_merge_wins"),
            sum(when(col("nmax") < col("nmrg"), lit(1L)).otherwise(lit(0L)))
              .as("n_maxmatch_wins"))
          .orderBy("lang")
      },
      // both tokenizer chains over the SAME raw corpus: the q137-style
      // vocab/greedy-walk block instantiated on `rawd` gives per-doc
      // MaxMatch counts (seq), the learn chain's last stage gives
      // per-word merge counts — joined per doc, rolled up per lang
      // with the win census
      s"""WITH RECURSIVE
         |rawd AS (SELECT doc_id, text FROM documents),
         |${bpePieceCtes("rawd")},
         |$bpeLearnCtes,
         |wfm AS (SELECT word,
         |    CAST(len($bpeLearnUnwrapRe) AS BIGINT) AS wc
         |  FROM blw$bpeLearnK),
         |dtm AS (SELECT doc_id, unnest($toksSql) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |dcm AS (SELECT d.doc_id,
         |    CAST(sum(COALESCE(w.wc, 1)) AS BIGINT) AS nm
         |  FROM dtm d LEFT JOIN wfm w USING (word) GROUP BY 1),
         |per AS (SELECT doc.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS nmax,
         |    COALESCE(dc.nm, 0) AS nmrg
         |  FROM documents doc LEFT JOIN seq s USING (doc_id)
         |  LEFT JOIN dcm dc USING (doc_id)
         |  WHERE doc.text IS NOT NULL)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nmax) AS BIGINT) AS n_maxmatch_tokens,
         |  CAST(sum(nmrg) AS BIGINT) AS n_merge_tokens,
         |  CAST(sum(CASE WHEN nmrg < nmax THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_merge_wins,
         |  CAST(sum(CASE WHEN nmax < nmrg THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_maxmatch_wins
         |FROM per GROUP BY 1 ORDER BY lang""".stripMargin),

    // pack-efficiency audit over q139's packing: per shard the pack
    // count, capacity (n_packs × budget), actual token total, and the
    // oversize-doc census (docs longer than the whole budget — the
    // ones a trainer must chunk before packing). Two metadata-sized
    // aggregates on top of the pinned packer shape; all-BIGINT output
    // so utilization = total/capacity is a downstream division
    QuerySpec("q147_pack_efficiency",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val withN = docs.select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.bpeCount(col("text"), pieces)
            .cast(LongType).as("__n_tokens"))
        graft.operators.Corpus.packSequences(withN, "lang", "doc_id",
            col("__n_tokens"), tokenBudget = 2048)
          .where(col("pack_id").isNotNull)
          .groupBy("lang", "pack_id")
          .agg(sum(col("n_tokens")).as("pt"),
            sum(when(col("n_tokens") > lit(2048L), lit(1L))
              .otherwise(lit(0L))).as("os"),
            max(col("n_tokens")).as("mx"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_packs"),
            sum(col("pt")).as("total_tokens"),
            sum(col("os")).as("n_oversize_docs"),
            max(col("mx")).as("max_doc_tokens"))
          .withColumn("capacity_tokens", col("n_packs") * lit(2048L))
          .select("lang", "n_packs", "capacity_tokens", "total_tokens",
            "n_oversize_docs", "max_doc_tokens")
          .orderBy("lang")
      },
      // q139's pack arithmetic rolled up twice: per (lang, pack) then
      // per lang, with the oversize census (n_tokens > budget) riding
      // the first rollup
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |nt4 AS (SELECT d.doc_id, doc.lang,
         |    COALESCE(s.n_pieces, 0) AS n_tokens
         |  FROM docs2 d JOIN documents doc USING (doc_id)
         |  LEFT JOIN seq s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |c4 AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM nt4),
         |p4 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  n_tokens FROM c4),
         |pp4 AS (SELECT lang, pack_id,
         |    CAST(sum(n_tokens) AS BIGINT) AS pt,
         |    CAST(sum(CASE WHEN n_tokens > 2048 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS os,
         |    CAST(max(n_tokens) AS BIGINT) AS mx
         |  FROM p4 GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(count(*) * 2048 AS BIGINT) AS capacity_tokens,
         |  CAST(sum(pt) AS BIGINT) AS total_tokens,
         |  CAST(sum(os) AS BIGINT) AS n_oversize_docs,
         |  CAST(max(mx) AS BIGINT) AS max_doc_tokens
         |FROM pp4 GROUP BY 1 ORDER BY lang""".stripMargin),

    // vocabulary-coverage audit: the piece vocab trains on ENGLISH
    // docs only, then tokenizes every OTHER language — n_unk counts
    // the MaxMatch walk's UNK emissions (positions where no piece, not
    // even the single character, matches: zero by construction on the
    // build corpus, real character-level OOV at apply time). The
    // synthetic corpus is all-lowercase ASCII in every lang, so the
    // eval slice gets the classic casing-OOV perturbation — an
    // UPPERCASED prefix echo — and every uppercase char is a
    // guaranteed UNK. Per-doc (n_pieces, n_unk) is the coverage
    // report a tokenizer ships with; ONE narrow projection with the
    // fused count+UNK kernel (a single tokenize + trie walk emits
    // both), no shuffle beyond the output sort
    QuerySpec("q148_vocab_coverage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pieces = q137Pieces(docs.where(col("lang") === "en"))
        docs.where(col("lang") =!= "en" && col("text").isNotNull)
          .withColumn("text", concat(col("text"), lit(" "),
            upper(substring(col("text"), 1, 12))))
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.bpeCountUnk(col("text"), pieces)
              .as("__cu"))
          .select(col("doc_id"), col("lang"),
            col("__cu.n_pieces").cast(LongType).as("n_pieces"),
            col("__cu.n_unk").cast(LongType).as("n_unk"))
          .orderBy("doc_id")
      },
      // vocab trained on the en slice (same wv/alpha/min(id)
      // construction as q137's twin), applied to every other lang with
      // an UNK-tolerant greedy walk: a position with no matching piece
      // (LEFT JOIN miss) advances one char and counts as UNK — the
      // kernel's exact rule
      s"""WITH RECURSIVE
         |tr AS (SELECT doc_id, text FROM documents
         |  WHERE lang = 'en'),
         |ev AS (SELECT doc_id, lang,
         |    text || ' ' || upper(substr(text, 1, 12)) AS text
         |  FROM documents
         |  WHERE lang <> 'en' AND text IS NOT NULL),
         |bptk8 AS (SELECT unnest($toksSql) AS token FROM tr),
         |wv08 AS (SELECT token, count(*) AS cnt FROM bptk8
         |  GROUP BY token HAVING count(*) >= 5
         |  ORDER BY cnt DESC, token LIMIT 200),
         |wv8 AS (SELECT token AS piece,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, token)
         |      AS INTEGER) AS id FROM wv08),
         |trw8 AS (SELECT DISTINCT tok FROM
         |  (SELECT unnest($toksSql) AS tok FROM tr)),
         |trpos8 AS (SELECT tok,
         |    CAST(unnest(range(1, length(tok) + 1)) AS INTEGER) AS p
         |  FROM trw8),
         |alpha8 AS (SELECT ch,
         |    CAST(200 + row_number() OVER (ORDER BY ch) AS INTEGER)
         |      AS id
         |  FROM (SELECT DISTINCT substr(tok, p, 1) AS ch FROM trpos8)),
         |pieces8 AS (SELECT piece, MIN(id) AS id FROM (
         |    SELECT piece, id FROM wv8
         |    UNION ALL SELECT ch AS piece, id FROM alpha8)
         |  GROUP BY piece),
         |lens8 AS (SELECT DISTINCT CAST(length(piece) AS INTEGER) AS l
         |  FROM pieces8),
         |eta8 AS (SELECT doc_id, $toksSql AS arr FROM ev),
         |etoks8 AS (SELECT doc_id, unnest(arr) AS tok
         |  FROM eta8 WHERE len(arr) > 0),
         |ew8 AS (SELECT DISTINCT tok FROM etoks8),
         |ewpos8 AS (SELECT tok,
         |    CAST(unnest(range(1, length(tok) + 1)) AS INTEGER) AS p
         |  FROM ew8),
         |ebest8 AS (SELECT w.tok, w.p,
         |    CAST(MAX(length(pc.piece)) AS INTEGER) AS blen
         |  FROM ewpos8 w JOIN lens8 ln ON ln.l <= length(w.tok) - w.p + 1
         |  JOIN pieces8 pc ON pc.piece = substr(w.tok, w.p, ln.l)
         |  GROUP BY w.tok, w.p),
         |ebid8 AS MATERIALIZED (SELECT w.tok, w.p,
         |    COALESCE(b.blen, 1) AS blen,
         |    CASE WHEN b.blen IS NULL THEN 1 ELSE 0 END AS unk
         |  FROM ewpos8 w LEFT JOIN ebest8 b
         |    ON b.tok = w.tok AND b.p = w.p),
         |egreedy8 AS (
         |  SELECT tok, CAST(1 AS INTEGER) AS p FROM ew8
         |  UNION ALL
         |  SELECT g.tok, CAST(g.p + b.blen AS INTEGER)
         |    FROM egreedy8 g JOIN ebid8 b ON b.tok = g.tok AND b.p = g.p),
         |ewc8 AS (SELECT g.tok, CAST(count(*) AS BIGINT) AS wc,
         |    CAST(sum(b.unk) AS BIGINT) AS wunk
         |  FROM egreedy8 g JOIN ebid8 b ON b.tok = g.tok AND b.p = g.p
         |  GROUP BY g.tok),
         |eseq8 AS (SELECT t.doc_id,
         |    CAST(sum(w.wc) AS BIGINT) AS n_pieces,
         |    CAST(sum(w.wunk) AS BIGINT) AS n_unk
         |  FROM etoks8 t JOIN ewc8 w ON w.tok = t.tok GROUP BY 1)
         |SELECT e.doc_id, e.lang,
         |  COALESCE(s.n_pieces, 0) AS n_pieces,
         |  COALESCE(s.n_unk, 0) AS n_unk
         |FROM ev e LEFT JOIN eseq8 s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // the remediation pipeline q147's oversize census feeds, gated:
    // chunk at 64 whitespace tokens, re-pack by REAL BPE counts, and
    // prove n_oversize == 0 while the packing arithmetic balances.
    // The zero is corpus-conditional, not universal: a chunk's BPE
    // count is bounded by 64 × max-word-chars (char fallback), which
    // stays under the 2048 budget only while words are ≤ 32 chars —
    // true here (plain words ≤ ~12 chars, salt compounds ≤ 16), and
    // exactly what the gated census verifies. cid = doc_id·2³² +
    // chunk_id keeps chunk order inside doc order with no reachable
    // collision (2³² chunks = a 274-billion-token document). Same
    // shuffle classes as q139/q147 — the chunk explode is narrow
    QuerySpec("q149_chunk_repack",
      (s, dir) => {
        val docs = saltedDocs(s, dir)
        val pieces = q137Pieces(docs)
        val chunks = graft.operators.Corpus
          .chunkDocuments(docs, maxTokens = 64)
          .select(col("doc_id"),
            (col("doc_id") * lit(4294967296L) + col("chunk_id")).as("cid"),
            col("text"))
          .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        val withN = chunks.select(col("cid"), col("lang"),
          graft.functions.TextFunctions.bpeCount(col("text"), pieces)
            .cast(LongType).as("__n_tokens"))
        graft.operators.Corpus.packSequences(withN, "lang", "cid",
            col("__n_tokens"), tokenBudget = 2048)
          .where(col("pack_id").isNotNull)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("nch"), sum(col("n_tokens")).as("pt"),
            sum(when(col("n_tokens") > lit(2048L), lit(1L))
              .otherwise(lit(0L))).as("os"),
            max(col("n_tokens")).as("mx"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_packs"),
            sum(col("nch")).as("n_chunks"),
            sum(col("pt")).as("total_tokens"),
            sum(col("os")).as("n_oversize_chunks"),
            max(col("mx")).as("max_chunk_tokens"))
          .withColumn("capacity_tokens", col("n_packs") * lit(2048L))
          .select("lang", "n_chunks", "n_packs", "capacity_tokens",
            "total_tokens", "n_oversize_chunks", "max_chunk_tokens")
          .orderBy("lang")
      },
      // chunk at 64 whitespace tokens off the shared ord column
      // (token at ord lands in chunk (ord-1)//64), per-chunk BPE
      // counts = sum of the greedy walk's per-word piece counts,
      // then q139's pack arithmetic over cid order and q147's two
      // rollups with the oversize census
      s"""WITH RECURSIVE
         |$bpeSeqCtes,
         |wcnt9 AS (SELECT tok, CAST(count(*) AS BIGINT) AS wc
         |  FROM wp GROUP BY tok),
         |ct9 AS (SELECT t.doc_id,
         |    CAST((t.ord - 1) // 64 AS BIGINT) AS chunk_id, w.wc
         |  FROM toks t JOIN wcnt9 w USING (tok)),
         |chk9 AS (SELECT doc_id, doc_id * 4294967296 + chunk_id AS cid,
         |    CAST(sum(wc) AS BIGINT) AS n_tokens
         |  FROM ct9 GROUP BY 1, 2),
         |lg9 AS (SELECT c.cid, d.lang, c.n_tokens
         |  FROM chk9 c JOIN documents d USING (doc_id)),
         |cc9 AS (SELECT cid, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY cid
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM lg9),
         |p9 AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  n_tokens FROM cc9),
         |pp9 AS (SELECT lang, pack_id,
         |    CAST(count(*) AS BIGINT) AS nch,
         |    CAST(sum(n_tokens) AS BIGINT) AS pt,
         |    CAST(sum(CASE WHEN n_tokens > 2048 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS os,
         |    CAST(max(n_tokens) AS BIGINT) AS mx
         |  FROM p9 GROUP BY 1, 2)
         |SELECT lang, CAST(sum(nch) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(count(*) * 2048 AS BIGINT) AS capacity_tokens,
         |  CAST(sum(pt) AS BIGINT) AS total_tokens,
         |  CAST(sum(os) AS BIGINT) AS n_oversize_chunks,
         |  CAST(max(mx) AS BIGINT) AS max_chunk_tokens
         |FROM pp9 GROUP BY 1 ORDER BY lang""".stripMargin),

    // learn → apply, closed in BPE's own semantics: the q142 merge
    // table collects driver-side (model metadata, k rows) and applies
    // IN RANK ORDER through the memoized codegen kernel — per-doc
    // token counts under true Sennrich apply_bpe inference (vs q137's
    // MaxMatch rule, which can segment differently)
    QuerySpec("q143_bpe_learn_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Corpus.collectMerges(
          graft.operators.Corpus.learnBpeMerges(docs, "text", numMerges = 16))
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.bpeMergeCount(col("text"), merges)
              .cast(LongType).as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      bpeLearnApplyOracle),

    // learn-loop EXHAUSTION gated cross-engine (on a LIVE row instead
    // of an unreachable branch): a
    // sparse corpus slice with a pair-count floor exhausts the learn
    // loop strictly before k=16, so the twin's chain runs REAL empty
    // stages — a CROSS JOIN there would empty every later blw and
    // zero the apply counts; only LEFT-JOIN state propagation (the
    // 9b2d9a6 fix) keeps the final segmentation readable off blw16.
    // n_merges pins the exhaustion RANK itself to the twin's
    // stage-emptiness pattern
    QuerySpec("q160_bpe_learn_exhausted",
      (s, dir) => {
        // FIXED 20-doc slice (sf-invariant size) + floor 60: at sf0.01
        // the pair counts run 159..40 over 16 ranks, so the loop stops
        // at rank 9 — seven REAL empty twin stages
        val sparse = t(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        val merges = graft.operators.Corpus.collectMerges(
          graft.operators.Corpus.learnBpeMerges(sparse, "text",
            numMerges = 16, minPairCount = 60L))
        sparse.select(col("doc_id"),
            graft.functions.TextFunctions.bpeMergeCount(col("text"), merges)
              .cast(LongType).as("n_bpe_tokens"),
            lit(merges.length.toLong).as("n_merges"))
          .orderBy("doc_id")
      },
      // q160: the exhaustion path live — sparse slice + pair-count
      // floor 60 leaves real EMPTY blt stages; the apply counts off
      // blw16 only survive them under LEFT-JOIN state propagation,
      // and n_merges counts exactly the non-empty stages
      {
        val ranks = (0 until bpeLearnK).map { i =>
          s"SELECT lhs, rhs FROM blt$i"
        }.mkString(" UNION ALL ")
        s"""WITH sparse AS MATERIALIZED (SELECT doc_id, text
           |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
           |${bpeLearnChainCtes("sparse", 60L)},
           |nmg AS (SELECT CAST(count(*) AS BIGINT) AS n_merges
           |  FROM ($ranks)),
           |wfin AS (SELECT word,
           |    CAST(len($bpeLearnUnwrapRe) AS BIGINT) AS wc
           |  FROM blw$bpeLearnK),
           |dtk AS (SELECT doc_id, unnest($toksSql) AS word FROM sparse),
           |dcnt AS (SELECT d.doc_id, SUM(COALESCE(w.wc, 1)) AS n
           |  FROM dtk d LEFT JOIN wfin w USING (word) GROUP BY 1)
           |SELECT doc.doc_id,
           |  CASE WHEN doc.text IS NULL THEN NULL
           |    ELSE CAST(COALESCE(dc.n, 0) AS BIGINT) END AS n_bpe_tokens,
           |  nmg.n_merges
           |FROM sparse doc LEFT JOIN dcnt dc USING (doc_id)
           |CROSS JOIN nmg
           |ORDER BY doc_id""".stripMargin
      }),

    // exact token top-k: one map-side-combined shuffle on the token, then
    // TakeOrdered for the k rows — the top-k itself never materializes the
    // full distribution on the driver
    QuerySpec("q83_token_topk",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(50),
      s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin),

    // tokenizer vocabulary: frequency-filtered, size-capped, dense ids by
    // (count desc, token asc) — the rank window runs on the vocab-sized
    // top cut, never the corpus-sized distribution
    QuerySpec("q86_vocab_build",
      (s, dir) =>
        graft.operators.Corpus.buildVocab(t(s, dir, "documents"), "text",
          minCount = 5, maxSize = 200).orderBy("token_id"),
      s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk
         |  GROUP BY token HAVING count(*) >= 5
         |  ORDER BY cnt DESC, token LIMIT 200)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token)
         |    AS INTEGER) AS token_id, token, cnt
         |FROM c ORDER BY token_id""".stripMargin),

    // token-budget sequence packing (pretraining batch layout): docs cut
    // into ≤2048-token packs per language by cumulative offset — one
    // shuffle + one per-shard sort
    // stats-only consumer: pre-project to (id, shard, token count) so the
    // prefix-sum range shuffle carries three narrow columns, not text
    // (the RDD boundary blocks Catalyst pruning — see packSequences doc)
    QuerySpec("q68_pack_sequences",
      (s, dir) =>
        graft.operators.Corpus.packSequences(
            t(s, dir, "documents").select(col("doc_id"), col("lang"),
              TextFunctions.nTokens(col("text")).cast("long").as("__n_tokens")),
            "lang", "doc_id", col("__n_tokens"), tokenBudget = 2048)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
          .orderBy("lang", "pack_id"),
      s"""WITH d AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |p AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id, n_tokens
         |  FROM c)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),

    // sliding-window chunking (64-token budget, 8-token overlap): the
    // long-document preprocessing step before packing — narrow transform +
    // posexplode, integer-exact chunk arithmetic, chunk text hashed by the
    // oracle verbatim
    QuerySpec("q106_chunk_documents",
      (s, dir) =>
        graft.operators.Corpus.chunkDocuments(t(s, dir, "documents"),
            maxTokens = 64, overlap = 8)
          .orderBy("doc_id", "chunk_id"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ch AS (SELECT doc_id,
         |    unnest(list_transform(
         |      range(0, 1 + (greatest(len(toks) - 64, 0) + 55) // 56),
         |      i -> struct_pack(cid := i,
         |        c := list_slice(toks, i * 56 + 1, i * 56 + 64)))) AS s
         |  FROM tk WHERE len(toks) > 0)
         |SELECT doc_id, CAST(s.cid AS BIGINT) AS chunk_id,
         |  CAST(len(s.c) AS BIGINT) AS n_tokens,
         |  array_to_string(s.c, ' ') AS text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),
  )
}
