package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Dedup

import Shared._

/** Dedup family: exact, MinHash/LSH, SimHash and span dedup, near-dup
  * clusters and the pipelines built on them, the incremental dedup
  * index in batch and streaming form (one oracle for both), and line-
  * level dedup over the lined corpus.
  */
private[graft] object DedupQueries {

  /** The q177/q178 lined corpus — MUST stay byte-identical to the
    * twins' `lnb` CTE: the newline-free synthetic docs re-enter as
    * 10-word chunk lines joined by '\n', and every doc_id % 7 == 0
    * doc carries one extra verbatim boilerplate line at the end (the
    * cross-page chrome the line-dedup stages exist to remove).
    * Zero-token docs are excluded on both sides (a chunking of
    * nothing has no lines to dedup).
    */
  private val boilerplateLine = "nav home about contact subscribe"

  private def linedDocs(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val nLines = floor((size(toks) + lit(9)) / lit(10)).cast("int")
    val chunks = transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(toks, i * 10 + 1, lit(10)), " "))
    val lined = when(col("doc_id") % 7 === 0,
      concat(chunks, array(lit(boilerplateLine)))).otherwise(chunks)
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .where(col("text").isNotNull && size(toks) > 0)
      .select(col("doc_id"), array_join(lined, "\n").as("text"))
  }

  // banded-LSH candidate pairs + recursive min-root reachability over the
  // doc set in CTE `srcTable` (a `sig` CTE must already be in scope) —
  // mirrors Dedup.minhashLshPairs + nearDupClusters; ONE definition
  // shared by the q78/q79/q79b/q101/q107 twins so the banding and root
  // rules can never drift apart between oracles
  private def clusterCtes(srcTable: String): String = {
    val bandKeys = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""banded AS ($bandKeys),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |e AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM $srcTable
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)""".stripMargin
  }

  // the two-batch incremental dedup-index policy (q128 batch form,
  // q129 streaming form — IDENTICAL semantics, one oracle): batch 1 =
  // even ids (smaller-id-wins within batch), batch 2 = odd ids
  // (accepted-index witness wins on any id, then smaller-id within
  // batch); banding + exact-jaccard verify mirror Dedup.dedupIndexAddBatch
  // CTE prefix shared by q128/q129/q136: banding + jaccard verify +
  // the two-batch accept sets (acc1 even ids, acc2 odd ids)
  private val dedupIndexCtes: String = {
    val bandKeys = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' " +
        s"|| CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $shingleCtes,
       |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
       |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
       |banded AS ($bandKeys),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |cand AS (SELECT DISTINCT a.doc_id AS aid, b.doc_id AS bid
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
       |inter AS (SELECT c.aid, c.bid, count(*) AS cnt
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.aid
       |  JOIN sh y ON y.doc_id = c.bid AND y.s = x.s
       |  GROUP BY 1, 2),
       |ver AS (SELECT i.aid, i.bid FROM inter i
       |  JOIN sz sa ON sa.doc_id = i.aid
       |  JOIN sz sb ON sb.doc_id = i.bid
       |  WHERE i.cnt::DOUBLE >= 0.3 * (sa.sz + sb.sz - i.cnt)),
       |rej1 AS (SELECT DISTINCT bid FROM ver
       |  WHERE bid % 2 = 0 AND aid % 2 = 0 AND aid < bid),
       |acc1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
       |  AND doc_id NOT IN (SELECT bid FROM rej1)),
       |rej2 AS (SELECT DISTINCT bid FROM ver WHERE bid % 2 = 1
       |  AND (aid IN (SELECT doc_id FROM acc1)
       |       OR (aid % 2 = 1 AND aid < bid))),
       |acc2 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1
       |  AND doc_id NOT IN (SELECT bid FROM rej2))""".stripMargin
  }

  private val dedupIndexOracle: String =
    s"""$dedupIndexCtes
       |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM acc1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM acc2
       |ORDER BY doc_id""".stripMargin

  // q136: erase doc_id%11=0 from the index, then replay EXACTLY those
  // docs as batch 3 — judged fresh against the post-removal index
  // (index witness on any id, then smaller-id within the batch)
  private val dedupUnlearnOracle: String =
    s"""$dedupIndexCtes,
       |allacc AS (SELECT doc_id, 1 AS b FROM acc1
       |  UNION ALL SELECT doc_id, 2 FROM acc2),
       |rem AS (SELECT doc_id FROM allacc WHERE doc_id % 11 = 0),
       |idx3 AS (SELECT doc_id FROM allacc
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
       |rej3 AS (SELECT DISTINCT bid FROM ver
       |  WHERE bid IN (SELECT doc_id FROM rem)
       |  AND (aid IN (SELECT doc_id FROM idx3)
       |       OR (aid IN (SELECT doc_id FROM rem) AND aid < bid))),
       |acc3 AS (SELECT doc_id FROM rem
       |  WHERE doc_id NOT IN (SELECT bid FROM rej3))
       |SELECT a.doc_id, CAST(a.b AS BIGINT) AS batch FROM allacc a
       |WHERE a.doc_id NOT IN (SELECT doc_id FROM rem)
       |UNION ALL
       |SELECT doc_id, CAST(3 AS BIGINT) AS batch FROM acc3
       |ORDER BY doc_id""".stripMargin

  private def simhashCtes(bits: Int): String = {
    val sums = (0 until bits).map(b =>
      s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val assemble = (0 until bits).map(b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, ${pHashSql("tok")} AS hv FROM toks),
       |bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash
       |  FROM bits)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // exact dedup: hash-groupBy on normalized content
    QuerySpec("q30_dedup_exact",
      (s, dir) =>
        Dedup.exact(t(s, dir, "documents")).orderBy("chash"),
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS chash,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY chash""".stripMargin),

    // minhash signatures (8 lanes, 3-word shingles)
    QuerySpec("q31_minhash_signatures",
      (s, dir) =>
        Dedup.minhashSignature(t(s, dir, "documents")).orderBy("doc_id"),
      s"""WITH $shingleCtes,
         |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh)
         |SELECT doc_id, $mhTerms
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // minhash LSH candidate pairs (4 bands × 2 rows)
    QuerySpec("q32_minhash_lsh_pairs",
      (s, dir) =>
        Dedup.minhashLshPairs(t(s, dir, "documents")).orderBy("id_a", "id_b"),
      {
        val bandKeys = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || " +
            s"CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |banded AS ($bandKeys)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // 16-bit simhash signatures
    QuerySpec("q33_simhash",
      (s, dir) =>
        Dedup.simhash(t(s, dir, "documents")).orderBy("doc_id"),
      s"""WITH ${simhashCtes(16)}
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin),

    // exact n-gram Jaccard near-dup pairs (inverted-index self-join)
    QuerySpec("q34_ngram_jaccard",
      (s, dir) =>
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.3)
          .orderBy("id_a", "id_b"),
      s"""WITH $shingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),

    // winnowing-style fingerprint: k-min shingle hashes (order-independent)
    QuerySpec("q37_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat_ws("-", TextFunctions.fingerprint(col("text"))).as("fingerprint"))
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |fp AS (SELECT doc_id,
         |  list_slice(list_sort(list_transform(
         |    list_distinct(${shinglesSql("tk")}),
         |    s -> ${pHashSql("s")})), 1, 4) AS f
         |  FROM toks)
         |SELECT doc_id, array_to_string(f, '-') AS fingerprint
         |FROM fp ORDER BY doc_id""".stripMargin),

    // incremental near-dup dedup index: even-id docs arrive first, odd-id
    // docs second; each batch rejects against the accepted-doc index
    // (band-key candidates + exact jaccard verify) then against itself
    // (smaller-id witness), survivors fold into the index. The oracle
    // replays the identical two-batch policy in SQL
    QuerySpec("q128_dedup_index",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val none = docs.limit(0)
        val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        val (a1r, idx1r) = graft.operators.Dedup.dedupIndexAddBatch(
          graft.operators.Dedup.dedupIndexKeys(none), b1)
        // materialize the state between batches — exactly what a real
        // deployment does (the operator persists the index, whose hashes
        // column carries the witness sets; accepted TEXT is never re-read);
        // without it batch 2's lineage recomputes batch 1's whole dedup
        val (a1, idx1) = (a1r.localCheckpoint(), idx1r.localCheckpoint())
        val (a2, _) = graft.operators.Dedup.dedupIndexAddBatch(idx1, b2)
        a1.select(col("doc_id"), lit(1L).as("batch"))
          .unionByName(a2.select(col("doc_id"), lit(2L).as("batch")))
          .orderBy("doc_id")
      },
      dedupIndexOracle),

    // streaming near-dup dedup: the q128 policy applied per micro-batch
    // (even-id file then odd-id file, mtime-pinned arrival order) with
    // marker-committed versioned state — backlog replay == batch result
    QuerySpec("q129_stream_dedup_index",
      (s, dir) => {
        val root = scratch("graft_sdidx_")
        val docs = t(s, dir, "documents").select("doc_id", "text")
        // even ids arrive as batch 1, odd as batch 2 (parityBacklog's
        // slice order; arrival order pinned by mtime AND name) — the
        // shared writer replaces the hand-rolled even/odd fixture this
        // query carried, byte-identical backlog, concurrent slice writes
        val (src, schema) = parityBacklog(s, root, docs)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingDedupIndex.runAvailableNow(
            s, src, schema, s"$root/state", s"$root/ckpt")
        }
        val (accepted, _, _) =
          graft.streaming.StreamingDedupIndex.readState(s, s"$root/state")
        accepted.select(col("doc_id"), col("batch")).orderBy("doc_id")
      },
      // the streaming replay applies the IDENTICAL two-batch policy
      // (even-id file then odd-id file), so it shares q128's oracle
      dedupIndexOracle),

    // dedup-index unlearning: erase accepted docs (id%11=0) from the
    // index, then replay EXACTLY those docs — re-admitted only if their
    // erased selves were their sole witnesses; prior rejections stand
    QuerySpec("q136_dedup_unlearn",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val none = docs.limit(0)
        val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        val (a1r, idx1r) = graft.operators.Dedup.dedupIndexAddBatch(
          graft.operators.Dedup.dedupIndexKeys(none), b1)
        val (a1, idx1) = (a1r.localCheckpoint(), idx1r.localCheckpoint())
        val (a2r, idx2r) = graft.operators.Dedup.dedupIndexAddBatch(idx1, b2)
        val (a2, idx2) = (a2r.localCheckpoint(), idx2r.localCheckpoint())
        val acc12 = a1.withColumn("batch", lit(1L))
          .unionByName(a2.withColumn("batch", lit(2L)))
        val doomed = acc12.where(pmod(col("doc_id"), lit(11)) === 0)
          .select("doc_id")
        val (accKept, idx3) = graft.operators.Dedup.dedupIndexRemove(
          idx2, acc12, doomed)
        val b3 = docs.join(doomed, Seq("doc_id")) // erased content re-arrives
        val (a3, _) = graft.operators.Dedup.dedupIndexAddBatch(
          idx3.localCheckpoint(), b3)
        accKept.select(col("doc_id"), col("batch"))
          .unionByName(a3.select(col("doc_id"), lit(3L).as("batch")))
          .orderBy("doc_id")
      },
      dedupUnlearnOracle),

    // cross-document LINE-level dedup, keep-first (CCNet / RefinedWeb
    // boilerplate removal). The corpus has no newlines, so both
    // engines construct the SAME lined corpus: 10-word chunks as
    // lines, plus a verbatim boilerplate line planted on every
    // doc_id % 7 == 0 (the nav/footer chrome the stage exists to
    // strip). Keep-first keeps the boilerplate ONLY in its
    // lowest-(doc, pos) occurrence; organic chunk collisions collapse
    // identically on both sides. Exact per-doc reassembly md5.
    QuerySpec("q177_line_dedup_keep_first",
      (s, dir) => {
        val cleaned = graft.operators.Dedup.dedupLinesKeepFirst(
          linedDocs(s, dir))
        cleaned.select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      // q177: the lined corpus (10-word chunk lines + the planted
      // boilerplate on doc_id % 7 == 0) is stated identically here;
      // keep-first = row_number over (doc_id, pos) per line; docs
      // whose every line lost reassemble to ''
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |win AS (SELECT doc_id, lpos, line, row_number() OVER (
         |    PARTITION BY line ORDER BY doc_id, lpos) AS rn FROM lnb),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM win WHERE rn = 1 GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // the companion boilerplate STRIP: any line present in >= 3
    // distinct docs is removed from ALL of them (the first page does
    // not keep the navigation either) — the planted chrome vanishes
    // corpus-wide, unique content is untouched
    QuerySpec("q178_strip_frequent_lines",
      (s, dir) => {
        val cleaned = graft.operators.Dedup.stripFrequentLines(
          linedDocs(s, dir), minDocs = 3)
        cleaned.select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      // q178: same lined corpus; any line in >= 3 distinct docs is
      // removed from ALL of them
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |freq AS (SELECT line FROM lnb GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= 3),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM lnb ANTI JOIN freq USING (line) GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // incremental line dedup: the q177 semantics absorbed batch by
    // batch through a persistent seen-line index — batch 1 = even doc
    // ids, batch 2 = odd; the planted boilerplate's canonical copy
    // lands in batch 1 (doc 0), so every batch-2 carrier losing it is
    // the cross-batch memory the oracle checks. The twin states the
    // composed result as ONE arrival-order rule: keep-first by
    // (batch, doc_id, pos)
    QuerySpec("q179_incremental_line_dedup",
      (s, dir) => {
        val lined = linedDocs(s, dir)
        val idx0 = lined.select(col("text").as("line")).limit(0)
        val (c1, idx1) = graft.operators.Dedup.lineIndexAddBatch(
          idx0, lined.where(col("doc_id") % 2 === 0))
        val (c2, _) = graft.operators.Dedup.lineIndexAddBatch(
          idx1, lined.where(col("doc_id") % 2 === 1))
        c1.unionByName(c2).select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      // q179: the two-batch incremental composition collapses to ONE
      // arrival-order keep-first rule — (batch = parity, doc_id, pos)
      // — so the oracle is q177's with the widened ORDER BY; the green
      // row proves the index carried batch-1 lines into batch 2
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |win AS (SELECT doc_id, lpos, line, row_number() OVER (
         |    PARTITION BY line ORDER BY doc_id % 2, doc_id, lpos)
         |    AS rn FROM lnb),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM win WHERE rn = 1 GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // q179 as a STREAM: lineIndexAddBatch per micro-batch under the
    // family's marker-committed versioned state (delta-per-batch +
    // atomic `_current` rename LAST), replayed off a parity-split
    // two-file backlog — arrival order ≠ id order, so the green row
    // proves batch 1 (even ids) OWNS its lines against smaller odd
    // batch-2 ids, i.e. the state genuinely carried across the
    // micro-batch boundary. Output is the state itself read back:
    // cleaned docs + their acceptance batch, collapsed by the twin into
    // ONE arrival-order keep-first rule (parity, doc_id, pos).
    QuerySpec("q188_stream_line_dedup",
      (s, dir) => {
        val root = scratch("graft_slined_")
        val lined = linedDocs(s, dir)
        val (src, schema) = parityBacklog(s, root, lined)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingLineDedup.runAvailableNow(
            s, src, schema, s"$root/state", s"$root/ckpt")
        }
        val (cleaned, _, _) = graft.streaming.StreamingLineDedup
          .readState(s, s"$root/state")
        cleaned.select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"),
            col("batch"))
          .orderBy("doc_id")
      },
      // q188: the streamed run must collapse to the SAME arrival-order
      // rule as q179 (the backlog's parity split IS q179's batch
      // split), with each doc additionally pinned to its acceptance
      // batch — evens are batch 1, odds batch 2
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |win AS (SELECT doc_id, lpos, line, row_number() OVER (
         |    PARTITION BY line ORDER BY doc_id % 2, doc_id, lpos)
         |    AS rn FROM lnb),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM win WHERE rn = 1 GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5,
         |  CAST(CASE WHEN d2.doc_id % 2 = 0 THEN 1 ELSE 2 END
         |    AS BIGINT) AS batch
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // q178's frequent-line strip as a STREAM: a per-line distinct-doc
    // COUNT index absorbs each micro-batch (counts add — globally
    // unique ids make per-batch distinct sets disjoint), and a line
    // strips from the batch being processed iff its CUMULATIVE count
    // reaches minDocs. Arrival-order semantics gated cross-engine: a
    // line crossing the threshold only once batch 2 arrives strips
    // from batch-2 docs while batch-1 copies stand (a stream cannot
    // retract; the batch operator is the retroactive form) — the twin
    // states exactly that two-regime rule off the parity split.
    QuerySpec("q190_stream_line_strip",
      (s, dir) => {
        val root = scratch("graft_slstrip_")
        val lined = linedDocs(s, dir)
        val (src, schema) = parityBacklog(s, root, lined)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingLineStrip.runAvailableNow(
            s, src, schema, s"$root/state", s"$root/ckpt", minDocs = 3)
        }
        val (cleaned, _, _) = graft.streaming.StreamingLineStrip
          .readState(s, s"$root/state")
        cleaned.select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"),
            col("batch"))
          .orderBy("doc_id")
      },
      // q190: the streamed strip's two-regime rule stated directly —
      // an even (batch-1) doc loses a line iff batch 1 ALONE has it in
      // ≥ minDocs distinct docs; an odd (batch-2) doc iff the WHOLE
      // corpus does (cumulative count at its batch). Batch-1 copies of
      // a line that only crosses in batch 2 stand — the no-retraction
      // contract, gated
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |c1 AS (SELECT line, count(DISTINCT doc_id) AS n FROM lnb
         |  WHERE doc_id % 2 = 0 GROUP BY 1),
         |ct AS (SELECT line, count(DISTINCT doc_id) AS n FROM lnb
         |  GROUP BY 1),
         |keepl AS (SELECT l.doc_id, l.lpos, l.line FROM lnb l
         |  LEFT JOIN c1 ON c1.line = l.line
         |  LEFT JOIN ct ON ct.line = l.line
         |  WHERE (CASE WHEN l.doc_id % 2 = 0
         |    THEN COALESCE(c1.n, 0) ELSE ct.n END) < 3),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM keepl GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5,
         |  CAST(CASE WHEN d2.doc_id % 2 = 0 THEN 1 ELSE 2 END
         |    AS BIGINT) AS batch
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // the full two-stage MinHash pipeline on TEXT: banded candidates +
    // EXACT Jaccard verification restricted to the candidate set (the
    // 10 TB design: quadratic verify cost only where bands collided).
    // q32 gates the candidate stage and q34 the all-pairs ground truth;
    // this row gates the composition — candidate ∩ (jaccard >= 0.3),
    // each pair carrying its true similarity
    QuerySpec("q197_minhash_verified_pairs",
      (s, dir) =>
        graft.operators.Dedup.minhashLshVerifiedPairs(
            t(s, dir, "documents"), threshold = 0.3)
          .orderBy("id_a", "id_b"),
      // q197: the text two-stage composition — q32's banded candidates
      // intersected with q34's exact Jaccard, restricted to candidates
      {
        val bandKeys = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || " +
            s"CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |banded AS ($bandKeys),
           |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
           |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           |inter AS (SELECT p.id_a, p.id_b, count(*) AS i
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.id_a
           |  JOIN sh b2 ON b2.doc_id = p.id_b AND b2.s = a.s
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
           |FROM inter
           |JOIN sz sa ON sa.doc_id = id_a
           |JOIN sz sb ON sb.doc_id = id_b
           |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // q179's incremental composition at the CRAWL-SCALE index
    // representation (hashLines = true): the persistent seen-line
    // index stores 60-bit md5-prefix fingerprints, so the probe join
    // ships 8 bytes per seen line instead of the line text, and the
    // state parquet carries the representation marker (a mismatched
    // probe fails loudly — DedupSpec). The twin RE-DERIVES membership
    // and keep-first from the SAME digest, so a fingerprint collision
    // on the gated corpus would surface as a red row, never a silent
    // divergence from hashed-mode semantics.
    QuerySpec("q192_line_dedup_hashed",
      (s, dir) => {
        val lined = linedDocs(s, dir)
        val idx0 = lined.select(lit(0L).as("line")).limit(0)
        val (c1, idx1) = graft.operators.Dedup.lineIndexAddBatch(
          idx0, lined.where(col("doc_id") % 2 === 0), hashLines = true)
        val (c2, _) = graft.operators.Dedup.lineIndexAddBatch(
          idx1, lined.where(col("doc_id") % 2 === 1), hashLines = true)
        c1.unionByName(c2).select(col("doc_id"),
            when(col("text") === "", lit(0))
              .otherwise(size(split(col("text"), "\n")))
              .cast(LongType).as("n_lines_kept"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      // q192: q179's arrival-order keep-first rule with BOTH index
      // membership and within-batch grouping re-derived from the same
      // 60-bit md5-prefix digest the hashed index stores — partitioning
      // the window by the digest instead of the line IS the hashed
      // semantics, so a collision would diverge here, not hide
      s"""WITH d2 AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL AND len($toksSql) > 0),
         |ln0 AS (SELECT doc_id, u AS lpos,
         |    array_to_string(list_slice(toks, u*10+1, u*10+10), ' ')
         |      AS line
         |  FROM (SELECT doc_id, toks,
         |      unnest(range((len(toks)+9)//10)) AS u FROM d2)),
         |lnb AS (SELECT doc_id, lpos, line FROM ln0
         |  UNION ALL
         |  SELECT doc_id, (len(toks)+9)//10 AS lpos,
         |    'nav home about contact subscribe' AS line
         |  FROM d2 WHERE doc_id % 7 = 0),
         |win AS (SELECT doc_id, lpos, line, row_number() OVER (
         |    PARTITION BY ('0x' || substr(md5(line), 1, 15))::BIGINT
         |    ORDER BY doc_id % 2, doc_id, lpos) AS rn FROM lnb),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY lpos) AS clean,
         |    count(*) AS nk
         |  FROM win WHERE rn = 1 GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
         |  md5(COALESCE(r.clean, '')) AS clean_md5
         |FROM d2 LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // split-leakage audit: the q107 cluster-granularity split leaks ZERO
    // near-dup pairs across the train/eval boundary (structural — the
    // split is constant per connected component), while a per-document
    // hash split over the SAME pair graph leaks at the pair rate. The
    // audit is the operator under test; the naive column is the
    // counterexample that shows it measures something real.
    QuerySpec("q138_split_leak_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(docs)
        val clusters = Dedup.nearDupClusters(docs, pairs)
        val clusterAsg = graft.operators.Corpus.clusterSplit(docs, clusters, evalPct = 10)
        val naiveAsg = docs.withColumn("split",
          when(pmod(TextFunctions.portableHash(
              concat(lit("split|"), col("doc_id").cast("string"))), lit(100))
            < 10, lit("eval")).otherwise(lit("train")))
        pairs.agg(count(lit(1)).as("pairs_total"))
          .crossJoin(broadcast(graft.operators.Corpus.splitLeakCount(clusterAsg, pairs)
            .withColumnRenamed("cross_pairs", "cross_pairs_cluster")))
          .crossJoin(broadcast(graft.operators.Corpus.splitLeakCount(naiveAsg, pairs)
            .withColumnRenamed("cross_pairs", "cross_pairs_naive")))
      },
      // the q107 cluster split vs a per-doc hash split, audited over the
      // SAME pairs CTE the clusters were built from: cluster leaks 0
      // (structural), naive leaks at the pair rate
      s"""WITH RECURSIVE $shingleCtes,
         |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
         |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
         |${clusterCtes("documents")},
         |cr AS (SELECT src AS doc_id, min(dst) AS root FROM reach
         |  GROUP BY src),
         |casg AS (SELECT doc_id,
         |  CASE WHEN ${pHashSql("'split|' || CAST(root AS VARCHAR)")} % 100 < 10
         |    THEN 'eval' ELSE 'train' END AS split FROM cr),
         |nasg AS (SELECT doc_id,
         |  CASE WHEN ${pHashSql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 10
         |    THEN 'eval' ELSE 'train' END AS split FROM documents)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS pairs_total,
         |  (SELECT CAST(count(*) FILTER (WHERE a.split <> b.split) AS BIGINT)
         |     FROM pairs p JOIN casg a ON p.id_a = a.doc_id
         |     JOIN casg b ON p.id_b = b.doc_id) AS cross_pairs_cluster,
         |  (SELECT CAST(count(*) FILTER (WHERE a.split <> b.split) AS BIGINT)
         |     FROM pairs p JOIN nasg a ON p.id_a = a.doc_id
         |     JOIN nasg b ON p.id_b = b.doc_id) AS cross_pairs_naive""".stripMargin),

    // simhash near-dups: banded candidate gen (exact for hamming<bands),
    // popcount verify on candidates only
    QuerySpec("q44_simhash_neardup",
      (s, dir) =>
        Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxHamming = 2)
          .orderBy("id_a", "id_b"),
      s"""WITH ${simhashCtes(32)},
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 2 ORDER BY id_a, id_b""".stripMargin),

    // streaming exact dedup: dropDuplicates state across micro-batches —
    // the same backlog ingested twice (2 files, 1 file per batch) yields
    // each event exactly once
    QuerySpec("q50_stream_dedup",
      (s, dir) => {
        val root = scratch("graft_sdedup_")
        val src = java.nio.file.Paths.get(s"$root/src")
        java.nio.file.Files.createDirectories(src)
        val ev = java.nio.file.Paths.get(s"$dir/events.parquet")
        java.nio.file.Files.copy(ev, src.resolve("f1.parquet"))
        java.nio.file.Files.copy(ev, src.resolve("f2.parquet"))
        val schema = rawTable(s, dir, "events").schema
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingDedup.runAvailableNow(
            s, src.toString, schema, s"$root/table", s"$root/ckpt",
            Seq("event_id"))
        }
        s.read.parquet(s"$root/table")
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin),

    // near-dup cluster assignment: connected components over the minhash
    // LSH pair graph (smallest reachable doc id = cluster root) — the
    // canonical-representative step after pairwise detection
    QuerySpec("q78_neardup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.nearDupClusters(docs, Dedup.minhashLshPairs(docs))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $shingleCtes,
         |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
         |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
         |${clusterCtes("documents")}
         |SELECT src AS doc_id, min(dst) AS root FROM reach
         |GROUP BY src ORDER BY doc_id""".stripMargin),

    // the composed corpus-construction pipeline, end-to-end: exact-dedup →
    // near-dup cluster representatives → decontaminate vs the eval slice →
    // quality-filter → stratified mixture → sequence packing. Every stage
    // is individually oracle-gated (q30/q78/q71/q45/q67/q68); this entry
    // gates the COMPOSITION — the column contracts between stages and the
    // combined plan — the LLM-corpus analogue of the reference's chained
    // etl_flow (py_pipeline/orchestration.py:155-209)
    QuerySpec("q79_corpus_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val keepIds = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
        val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
        val reps = Dedup.nearDupClusters(kept, Dedup.minhashLshPairs(kept))
          .where(col("doc_id") === col("root")).select("doc_id")
        val repDocs = kept.join(reps, Seq("doc_id"), "left_semi")
        val clean = Dedup.decontaminate(
          repDocs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), shingleN = 3)
        val quality = clean.where(qualityKeep(col("text")))
        val mixed = graft.operators.Corpus.stratifiedSample(quality,
          "lang", "doc_id",
          Map("en" -> 10, "de" -> 30, "fr" -> 30), defaultRate = 50)
        graft.operators.Corpus.packSequences(
            mixed.select(col("doc_id"), col("lang"),
              TextFunctions.nTokens(col("text")).cast("long").as("__n_tokens")),
            "lang", "doc_id", col("__n_tokens"), tokenBudget = 2048)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
          .orderBy("lang", "pack_id")
      },
      {
        s"""WITH RECURSIVE
           |ch AS (SELECT doc_id,
           |  md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS chash
           |  FROM documents),
           |keep AS (SELECT min(doc_id) AS doc_id FROM ch GROUP BY chash),
           |kd AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
           |ktoks AS (SELECT doc_id, $toksSql AS tk FROM kd),
           |ksh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM ktoks),
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM ksh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |${clusterCtes("kd")},
           |reps AS (SELECT src AS doc_id FROM reach
           |  GROUP BY src HAVING min(dst) = src),
           |rd AS (SELECT kd.* FROM kd JOIN reps USING (doc_id)),
           |ttoks AS (SELECT doc_id, $toksSql AS tk FROM rd
           |  WHERE doc_id % 50 <> 0),
           |tsh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM ttoks),
           |etoks AS (SELECT doc_id, $toksSql AS tk FROM documents
           |  WHERE doc_id % 50 = 0),
           |esh AS (SELECT DISTINCT unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM etoks),
           |cont AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN esh USING (s)),
           |clean AS (SELECT * FROM rd WHERE doc_id % 50 <> 0
           |  AND doc_id NOT IN (SELECT doc_id FROM cont)),
           |qm AS (SELECT doc_id, lang, text, $toksSql AS tk FROM clean),
           |qf AS (SELECT doc_id, lang,
           |  CAST(len(tk) AS INTEGER) AS n_tokens,
           |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
           |    list_aggregate(list_transform(tk, x -> strlen(x)), 'sum')::DOUBLE
           |      / len(tk) END AS mtl,
           |  CASE WHEN strlen(text) = 0 THEN 0.0 ELSE
           |    (strlen(text) - strlen(regexp_replace(text,
           |      '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / strlen(text)
           |  END AS pr
           |  FROM qm),
           |q AS (SELECT doc_id, lang, n_tokens FROM qf
           |  WHERE n_tokens >= 20 AND mtl >= 3.0 AND mtl <= 10.0
           |    AND pr <= 0.2),
           |mx AS (SELECT doc_id, lang, n_tokens FROM q
           |  WHERE ('0x' || substr(md5(lang || '|' ||
           |      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
           |    CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 30
           |      WHEN 'fr' THEN 30 ELSE 50 END),
           |c AS (SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  sum(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY lang
           |    ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM mx),
           |p AS (SELECT lang,
           |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id, n_tokens
           |  FROM c)
           |SELECT lang, pack_id, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
           |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin
      }),

    // q79 with the span-excision stage wired in: … → decontaminate →
    // EXCISE duplicated spans (boilerplate removal — the Lee et al. ACL'22
    // step) → quality-filter over the EXCISED text → mix → pack. Excision
    // changes texts, so the quality gate and token budgets downstream see
    // the cleaned corpus — the composition contract this entry gates
    QuerySpec("q79b_pipeline_excise",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val keepIds = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
        val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
        val reps = Dedup.nearDupClusters(kept, Dedup.minhashLshPairs(kept))
          .where(col("doc_id") === col("root")).select("doc_id")
        val repDocs = kept.join(reps, Seq("doc_id"), "left_semi")
        val clean = Dedup.decontaminate(
          repDocs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), shingleN = 3)
        val excised = Dedup.exciseDuplicatedSpans(clean, shingleK = 8)
        val quality = excised.where(qualityKeep(col("text")))
        val mixed = graft.operators.Corpus.stratifiedSample(quality,
          "lang", "doc_id",
          Map("en" -> 10, "de" -> 30, "fr" -> 30), defaultRate = 50)
        graft.operators.Corpus.packSequences(
            mixed.select(col("doc_id"), col("lang"),
              TextFunctions.nTokens(col("text")).cast("long").as("__n_tokens")),
            "lang", "doc_id", col("__n_tokens"), tokenBudget = 2048)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
          .orderBy("lang", "pack_id")
      },
      {
        s"""WITH RECURSIVE
           |ch AS (SELECT doc_id,
           |  md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS chash
           |  FROM documents),
           |keep AS (SELECT min(doc_id) AS doc_id FROM ch GROUP BY chash),
           |kd AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
           |ktoks AS (SELECT doc_id, $toksSql AS tk FROM kd),
           |ksh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM ktoks),
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM ksh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |${clusterCtes("kd")},
           |reps AS (SELECT src AS doc_id FROM reach
           |  GROUP BY src HAVING min(dst) = src),
           |rd AS (SELECT kd.* FROM kd JOIN reps USING (doc_id)),
           |ttoks AS (SELECT doc_id, $toksSql AS tk FROM rd
           |  WHERE doc_id % 50 <> 0),
           |tsh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM ttoks),
           |etoks AS (SELECT doc_id, $toksSql AS tk FROM documents
           |  WHERE doc_id % 50 = 0),
           |esh AS (SELECT DISTINCT unnest(list_distinct(${shinglesSql("tk")}))
           |  AS s FROM etoks),
           |cont AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN esh USING (s)),
           |clean AS (SELECT * FROM rd WHERE doc_id % 50 <> 0
           |  AND doc_id NOT IN (SELECT doc_id FROM cont)),
           |ctk AS (SELECT doc_id, lang, text, $toksSql AS toks FROM clean),
           |ssh0 AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(toks) - 8 + 2),
           |      i -> struct_pack(pos := i - 1,
           |        h := md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS sp
           |  FROM ctk WHERE len(toks) >= 8),
           |ssh AS (SELECT doc_id, sp.pos AS pos, sp.h AS h FROM ssh0),
           |sdup AS (SELECT doc_id, pos FROM
           |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM ssh)
           |  WHERE c > 1),
           |sisl AS (SELECT doc_id, pos,
           |    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
           |      THEN 1 ELSE 0 END AS brk FROM sdup),
           |sgrp AS (SELECT doc_id, pos,
           |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM sisl),
           |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           |  FROM sgrp GROUP BY doc_id, g),
           |pt0 AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(toks) + 1),
           |      i -> struct_pack(pos := i - 1, tok := toks[i]))) AS pt
           |  FROM ctk),
           |pt AS (SELECT doc_id, pt.pos AS pos, pt.tok AS tok FROM pt0),
           |keptt AS (SELECT p.doc_id, p.pos, p.tok FROM pt p
           |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
           |    WHERE sp.doc_id = p.doc_id AND p.pos BETWEEN sp.s AND sp.e)),
           |rebuilt AS (SELECT doc_id,
           |    coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS ntext
           |  FROM keptt GROUP BY doc_id),
           |exc AS (SELECT c.doc_id, c.lang,
           |    CASE WHEN EXISTS (SELECT 1 FROM spans sp
           |        WHERE sp.doc_id = c.doc_id)
           |      THEN coalesce(r.ntext, '') ELSE c.text END AS text
           |  FROM clean c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id),
           |qm AS (SELECT doc_id, lang, text, $toksSql AS tk FROM exc),
           |qf AS (SELECT doc_id, lang,
           |  CAST(len(tk) AS INTEGER) AS n_tokens,
           |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
           |    list_aggregate(list_transform(tk, x -> strlen(x)), 'sum')::DOUBLE
           |      / len(tk) END AS mtl,
           |  CASE WHEN strlen(text) = 0 THEN 0.0 ELSE
           |    (strlen(text) - strlen(regexp_replace(text,
           |      '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / strlen(text)
           |  END AS pr
           |  FROM qm),
           |q AS (SELECT doc_id, lang, n_tokens FROM qf
           |  WHERE n_tokens >= 20 AND mtl >= 3.0 AND mtl <= 10.0
           |    AND pr <= 0.2),
           |mx AS (SELECT doc_id, lang, n_tokens FROM q
           |  WHERE ('0x' || substr(md5(lang || '|' ||
           |      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
           |    CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 30
           |      WHEN 'fr' THEN 30 ELSE 50 END),
           |c AS (SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  sum(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY lang
           |    ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM mx),
           |p AS (SELECT lang,
           |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id, n_tokens
           |  FROM c)
           |SELECT lang, pack_id, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
           |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin
      }),

    // incremental streaming near-dup: two id-ordered backlog files, one
    // per micro-batch; batch 2's docs are rejected against the band-key
    // HISTORY accumulated from batch 1 (and lower ids within-batch), so
    // the final table equals the global lower-id band-collision rule the
    // oracle computes
    QuerySpec("q73_stream_neardup",
      (s, dir) => {
        val root = scratch("graft_snd_")
        val src = java.nio.file.Paths.get(s"$root/src")
        java.nio.file.Files.createDirectories(src)
        val docs = rawTable(s, dir, "documents")
        val mid = docs.count() / 2
        def writeHalf(df: DataFrame, name: String): Unit = {
          val tmp = s"$root/tmp_$name"
          df.coalesce(1).write.parquet(tmp)
          val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          java.nio.file.Files.move(part, src.resolve(name))
        }
        writeHalf(docs.where(col("doc_id") < mid), "f1.parquet")
        writeHalf(docs.where(col("doc_id") >= mid), "f2.parquet")
        // FileStreamSource orders the backlog by modification time; the
        // oracle's history-based rejection assumes f1 (low doc ids) lands
        // first, so pin distinct, increasing mtimes — two moves inside the
        // same mtime granularity could otherwise tie and flip the order
        java.nio.file.Files.setLastModifiedTime(src.resolve("f1.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
        java.nio.file.Files.setLastModifiedTime(src.resolve("f2.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1000000001000L))
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingNearDup.runAvailableNow(
            s, src.toString, docs.schema,
            s"$root/table", s"$root/hist", s"$root/ckpt")
        }
        s.read.parquet(s"$root/table")
          .select("doc_id", "lang").orderBy("doc_id")
      },
      {
        val bandKeys = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || " +
            s"CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |banded AS ($bandKeys),
           |rej AS (SELECT DISTINCT b.doc_id FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT d.doc_id, d.lang FROM documents d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM rej)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // span-level exact dedup (Lee et al. 2022, fixed-shingle ExactSubstr):
    // maximal per-doc extents of 8-token windows that occur more than once
    // anywhere in the corpus — the verbatim-boilerplate catcher that
    // whole-doc hash (q30) and near-dup banding (q32/q44) both miss
    QuerySpec("q94_span_dedup",
      (s, dir) =>
        graft.operators.Dedup.duplicatedSpans(t(s, dir, "documents"), 8)
          .orderBy("doc_id", "span_start"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks) - 8 + 2),
         |      i -> struct_pack(pos := i - 1,
         |        h := md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS sp
         |  FROM tk WHERE len(toks) >= 8),
         |sh AS (SELECT doc_id, sp.pos AS pos, sp.h AS h FROM sh0),
         |dup AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM sh)
         |  WHERE c > 1),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
         |      THEN 1 ELSE 0 END AS brk FROM dup),
         |grp AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 8 - min(pos) AS BIGINT) AS dup_tokens
         |FROM grp GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin),

    // hub-shingle diagnostic for span pairing: how many 8-token windows the
    // q98 frequency cap would exclude from pairing (here cap=2, sized to
    // this corpus's max shingle frequency of 3 so the gate exercises a
    // nonzero hub set) — one shuffle on the shingle digest, scalar output
    QuerySpec("q100_hub_shingles",
      (s, dir) =>
        graft.operators.Dedup.hubShingleStats(t(s, dir, "documents"),
          shingleK = 8, maxShingleFreq = 2),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks) - 8 + 2),
         |      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS h
         |  FROM tk WHERE len(toks) >= 8),
         |c AS (SELECT h, count(*) AS c FROM sh0 GROUP BY h)
         |SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total_occurrences,
         |  CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
         |    AS dup_occurrences,
         |  CAST(count(CASE WHEN c > 2 THEN 1 END) AS BIGINT) AS hub_shingles,
         |  CAST(coalesce(sum(CASE WHEN c > 2 THEN c END), 0) AS BIGINT)
         |    AS hub_occurrences
         |FROM c""".stripMargin),

    // soft dedup: near-dup clusters thin to ~2 docs each (min-id
    // representative guaranteed + hash-deterministic extras) instead of
    // hard keep-one — the training-mixture trade that lets popular
    // content retain some extra mass; twin replays the q78 recursive-CTE
    // clusters and the same integer hash rule
    QuerySpec("q101_cluster_weighted_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = Dedup.nearDupClusters(docs, Dedup.minhashLshPairs(docs))
        graft.operators.Corpus
          .clusterWeightedSample(docs, clusters, targetPerCluster = 2)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      {
        s"""WITH RECURSIVE $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |${clusterCtes("documents")},
           |cr AS (SELECT src AS doc_id, min(dst) AS root FROM reach
           |  GROUP BY src),
           |sz AS (SELECT root, count(*) AS csz FROM cr GROUP BY root),
           |kp AS (SELECT cr.doc_id FROM cr JOIN sz USING (root)
           |  WHERE cr.doc_id = cr.root OR
           |    ${pHashSql("CAST(root AS VARCHAR) || '|' || " +
                  "CAST(cr.doc_id AS VARCHAR)")} % csz < 1)
           |SELECT d.doc_id, d.lang FROM documents d JOIN kp USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // leakage-safe split: eval/train decided by hashing the near-dup
    // CLUSTER root, so no near-duplicate pair straddles the boundary —
    // the twin replays the q78 recursive-CTE clusters and the hash rule
    QuerySpec("q107_cluster_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = Dedup.nearDupClusters(docs, Dedup.minhashLshPairs(docs))
        graft.operators.Corpus.clusterSplit(docs, clusters, evalPct = 10)
          .select("doc_id", "root", "split")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $shingleCtes,
         |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
         |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
         |${clusterCtes("documents")},
         |cr AS (SELECT src AS doc_id, min(dst) AS root FROM reach
         |  GROUP BY src)
         |SELECT doc_id, root,
         |  CASE WHEN ${pHashSql("'split|' || CAST(root AS VARCHAR)")} % 100 < 10
         |    THEN 'eval' ELSE 'train' END AS split
         |FROM cr ORDER BY doc_id""".stripMargin),

    // NEAR-dup decontamination: q71's exact rule drops a train doc on ANY
    // shared shingle (verbatim leakage); this drops only LSH candidates of
    // an eval doc whose exact distinct-shingle Jaccard verifies >= 0.5 —
    // the paraphrased-leakage rule. Twin replays the banding + jaccard
    QuerySpec("q113_decontaminate_neardup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminateNearDup(
            docs.where(col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 50 === 0), threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      {
        val bandKeys = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' " +
            s"|| CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |banded AS ($bandKeys),
           |tb AS (SELECT * FROM banded WHERE doc_id % 50 <> 0),
           |eb AS (SELECT * FROM banded WHERE doc_id % 50 = 0),
           |cand AS (SELECT DISTINCT tb.doc_id AS tid, eb.doc_id AS eid
           |  FROM tb JOIN eb ON tb.band = eb.band AND tb.key = eb.key),
           |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |inter AS (SELECT c.tid, c.eid, count(*) AS i
           |  FROM cand c JOIN sh a ON a.doc_id = c.tid
           |  JOIN sh b ON b.doc_id = c.eid AND b.s = a.s
           |  GROUP BY 1, 2),
           |bad AS (SELECT DISTINCT i2.tid FROM inter i2
           |  JOIN sz a ON a.doc_id = i2.tid JOIN sz b ON b.doc_id = i2.eid
           |  WHERE CAST(i2.i AS DOUBLE) >=
           |    0.5 * CAST(a.sz + b.sz - i2.i AS DOUBLE))
           |SELECT d.doc_id, d.lang FROM documents d
           |WHERE d.doc_id % 50 <> 0
           |  AND d.doc_id NOT IN (SELECT tid FROM bad)
           |ORDER BY d.doc_id""".stripMargin
      }),
  )
}
