package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Retrieval, Similarity}

import Shared._

/** ANN/retrieval family: exact and approximate nearest neighbours (IVF,
  * LSH, PQ, IVFADC and its residual, maintained and streamed forms),
  * embedding near-dups and quantization, and the inverted-index / BM25
  * retrieval queries. The index builds are memoized fixtures, so a timed
  * run measures the search.
  */
private[graft] object AnnQueries {

  /** q112's input: a 3-version documents table (v0 = full corpus; v1
    * upserts every 5th doc with one appended token; v2 deletes every 7th
    * doc) — the mutation rules are pure doc_id arithmetic so the DuckDB
    * twin can rebuild the final corpus without seeing the lake.
    */
  private def q112Fixture(s: SparkSession, dir: String): String =
    memoFixture("q112", dir) { () =>
      val root = fixtureScratch("graft_q112_") + "/tbl"
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.store.VersionedTable.write(docs, root)
      graft.store.VersionedTable.upsert(s, root,
        docs.where(col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" graftextra"))),
        Seq("doc_id"))
      graft.store.VersionedTable.delete(s, root,
        docs.where(col("doc_id") % 7 === 0).select("doc_id"),
        Seq("doc_id"))
      root
    }

  /** q114's input: the PQ index — m=16 sub-quantizers × 64 codewords over
    * the unit-normalized corpus, plus the encoded per-vector codes. Index
    * CONSTRUCTION (16 subspaces × 3 Lloyd passes), memoized like the
    * versioned-table fixtures so the timed region is the ADC search +
    * exact rerank, not the offline build.
    */
  private def q114Fixture(s: SparkSession, dir: String): String =
    memoFixture("q114", dir) { () =>
      val base = fixtureScratch("graft_q114_")
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, m = 16, k = 64, iterations = 3)
      cb.write.parquet(s"$base/cb")
      Similarity.pqEncode(emb, cb).write.parquet(s"$base/enc")
      base
    }

  /** q115's input: the IVFADC index — q114's PQ codebooks composed with a
    * 16-cell IVF layout (kmeans centroids + the cell-partitioned PQ-code
    * table from `writeClusteredPQ`). Memoized like q114, so the timed
    * region is the cell-pruned ADC search + rerank, not the offline
    * index build.
    */
  private def q115Fixture(s: SparkSession, dir: String): String = {
    // resolve the nested fixture OUTSIDE the memo builder: the cache's
    // compute must never re-enter itself ("Recursive update")
    val pqBase = q114Fixture(s, dir)
    memoFixture("q115", dir) { () =>
      val base = fixtureScratch("graft_q115_")
      val emb = t(s, dir, "embeddings")
      val cb = s.read.parquet(s"$pqBase/cb")
      val cents = Similarity.kmeans(emb, k = 16, iterations = 3)
      cents.write.parquet(s"$base/cents")
      Similarity.writeClusteredPQ(emb, cents, cb, s"$base/idx")
      base
    }
  }

  /** q116's input: the RESIDUAL IVFADC index — q115's 16 IVF cells with
    * per-subspace codebooks retrained on cell residuals (x̂ − c_cell) and
    * the cell-partitioned residual-code table. Same memoization contract
    * as q114/q115: the offline build is untimed.
    */
  private def q116Fixture(s: SparkSession, dir: String): String = {
    val p115 = q115Fixture(s, dir) // outside the builder — no re-entry
    memoFixture("q116", dir) { () =>
      val base = fixtureScratch("graft_q116_")
      val emb = t(s, dir, "embeddings")
      val cents = s.read.parquet(s"$p115/cents")
      val rcb = Similarity.pqCodebooksResidual(emb, cents, m = 16, k = 64,
        iterations = 3)
      rcb.write.parquet(s"$base/rcb")
      Similarity.writeClusteredPQ(emb, cents, rcb, s"$base/idx",
        residual = true)
      base
    }
  }

  /** q117's input: a MAINTAINED IVFADC index — a fresh copy of q115's
    * index mutated by one deterministic signed feed (update vec_id%5==0
    * to x·0.5+0.125 per element; delete vec_id%7==0 unless updated;
    * insert 10000+vec_id for vec_id%11==0 with 1−x), plus the post-feed
    * corpus and its REBUILT twin index. All mutation rules are pure
    * vec_id arithmetic so the DuckDB twin reconstructs the final corpus
    * without seeing the index; construction is untimed per the fixture
    * contract.
    */
  private def q117Fixture(s: SparkSession, dir: String): String = {
    val p115 = q115Fixture(s, dir) // outside the builder — no re-entry
    val p114 = q114Fixture(s, dir)
    memoFixture("q117", dir) { () =>
      val base = fixtureScratch("graft_q117_")
      val emb = t(s, dir, "embeddings")
      val cents = s.read.parquet(s"$p115/cents")
      val cb = s.read.parquet(s"$p114/cb")
      Similarity.writeClusteredPQ(emb, cents, cb, s"$base/idx")
      val updNew = emb.where(col("vec_id") % 5 === 0)
        .select(col("vec_id"), transform(col("embedding"),
          x => (x * lit(0.5d) + lit(0.125d)).cast("float")).as("embedding"))
      val insNew = emb.where(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"),
            x => (lit(1.0d) - x).cast("float")).as("embedding"))
      val minus = emb.where(col("vec_id") % 5 === 0 ||
          (col("vec_id") % 7 === 0))
        .select(col("vec_id"), col("embedding"), lit(-1L).as("__sign"))
      val plus = updNew.unionByName(insNew)
        .select(col("vec_id"), col("embedding"), lit(1L).as("__sign"))
      Similarity.maintainClusteredPQ(s, s"$base/idx", cents, cb,
        minus.unionByName(plus))
      val finalCorpus = emb
        .where(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 0)
        .select("vec_id", "embedding")
        .unionByName(updNew).unionByName(insNew)
      finalCorpus.write.parquet(s"$base/final")
      Similarity.writeClusteredPQ(finalCorpus, cents, cb, s"$base/rebuilt")
      base
    }
  }

  /** q118's input: the STREAMING-maintained IVFADC index — v0 = vec_id%3==0
    * committed with its index, then a 2-file backlog (file A: %3==1
    * inserts + %9==0 updates to x·0.5+0.125; file B: %3==2 inserts)
    * streamed through `runVersionedWithAnnIndex`, each micro-batch
    * committing a version AND folding its change feed into the index.
    * The rebuilt twin over the final snapshot is built alongside; the
    * final corpus is pure vec_id arithmetic (all 500 ids, %9==0
    * transformed) so the DuckDB twin reconstructs it directly.
    */
  private def q118Fixture(s: SparkSession, dir: String): String = {
    val p115 = q115Fixture(s, dir) // outside the builder — no re-entry
    val p114 = q114Fixture(s, dir)
    memoFixture("q118", dir) { () =>
      val base = scratch("graft_q118_")
      val emb = t(s, dir, "embeddings")
      val cents = s.read.parquet(s"$p115/cents")
      val cb = s.read.parquet(s"$p114/cb")
      val v0 = emb.where(col("vec_id") % 3 === 0).select("vec_id", "embedding")
      graft.store.VersionedTable.write(v0, s"$base/tbl")
      Similarity.writeClusteredPQ(v0, cents, cb, s"$base/idx")
      val src = s"$base/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val fileA = emb.where(col("vec_id") % 3 === 1)
        .select("vec_id", "embedding")
        .unionByName(emb.where(col("vec_id") % 9 === 0)
          .select(col("vec_id"), transform(col("embedding"),
            x => (x * lit(0.5d) + lit(0.125d)).cast("float"))
            .as("embedding")))
      val fileB = emb.where(col("vec_id") % 3 === 2)
        .select("vec_id", "embedding")
      Seq("a" -> fileA, "b" -> fileB).foreach { case (tag, df) =>
        val staging = s"$base/stage_$tag"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(src, s"feed_$tag.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      withShufflePartitions(s, 2) {
        graft.streaming.StreamingUpsert.runVersionedWithAnnIndex(
          s, src, fileB.schema, s"$base/tbl", s"$base/ckpt", Seq("vec_id"),
          s"$base/idx", cents, cb)
      }
      Similarity.writeClusteredPQ(
        graft.store.VersionedTable.read(s, s"$base/tbl"), cents, cb,
        s"$base/rebuilt")
      base
    }
  }

  /** The documents table as a vector corpus: feature-hashed 64-dim
    * embeddings (integer histograms cast to float — exact for these
    * magnitudes). Shared by q120's fixture and query so the two can
    * never drift.
    */
  private def textEmb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id").as("vec_id"),
      transform(TextFunctions.hashEmbed(col("text"), 64),
        x => x.cast("float")).as("embedding"))

  /** q120's input: the IVFADC index built over the feature-hashed
    * document embeddings — 8 k-means cells + 8-subspace codebooks +
    * cell-partitioned codes, all derived from `documents.text` alone.
    * Untimed like every index-build fixture.
    */
  private def q120Fixture(s: SparkSession, dir: String): String =
    memoFixture("q120", dir) { () =>
      val base = scratch("graft_q120_")
      val emb = textEmb(s, dir)
      val cents = Similarity.kmeans(emb, k = 8, iterations = 3)
      cents.write.parquet(s"$base/cents")
      val cb = Similarity.pqCodebooks(emb, m = 8, k = 16, iterations = 3)
      cb.write.parquet(s"$base/cb")
      Similarity.writeClusteredPQ(emb, cents, cb, s"$base/idx")
      base
    }

  /** Cosine similarity of the list columns `qv` and `cv`. */
  private val cosSql = "list_dot_product(qv, cv) / " +
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"

  val specs: Seq[QuerySpec] = Seq(

    // feature-hashing embeddings (the hashing trick): signed token-count
    // histograms, INTEGER-EXACT so the DuckDB twin reproduces every value
    // — the model-free featurizer closing text → vector → ANN. Exploded
    // to scalar rows for the value-hash compare
    QuerySpec("q119_hash_embed",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(TextFunctions.hashEmbed(col("text"), 64))
              .as(Seq("pos", "v")))
          .orderBy("doc_id", "pos"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |h AS (SELECT doc_id, ${pHashSql("t")} AS hv FROM t2),
         |agg AS (SELECT doc_id, hv % 64 AS bucket,
         |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
         |    AS BIGINT) AS v
         |  FROM h GROUP BY 1, 2),
         |grid AS (SELECT tk.doc_id, r.range AS pos
         |  FROM tk, range(64) r)
         |SELECT g.doc_id, CAST(g.pos AS INTEGER) AS pos,
         |  coalesce(a.v, 0) AS v
         |FROM grid g LEFT JOIN agg a
         |  ON a.doc_id = g.doc_id AND a.bucket = g.pos
         |ORDER BY g.doc_id, pos""".stripMargin),

    // the CLOSED text→ANN pipeline: raw documents → feature-hashed
    // vectors → IVFADC index → cell-pruned search + exact rerank, no
    // external model anywhere. The oracle rebuilds the SAME vectors from
    // the same portable hash and brute-forces them; recall gated
    // in-query as in every approximate path. Zero-norm vectors (empty /
    // whitespace-only text) have undefined cosine and rank on NEITHER
    // side: Spark's null-sim rows never enter the top-k heap, and the
    // twin filters list_dot_product(ev, ev) > 0 to match
    QuerySpec("q120_text_ann_pipeline",
      (s, dir) => {
        val base = q120Fixture(s, dir)
        val emb = textEmb(s, dir)
        val probes = emb.where(col("vec_id") < 25)
        val cents = s.read.parquet(s"$base/cents")
        val cb = s.read.parquet(s"$base/cb")
        val ann = Similarity.ivfAdcTopKRerank(s, s"$base/idx", cb, cents,
          emb, probes, k = 5, nprobe = 6, shortlist = 100)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).select(
          col("n_exact"),
          (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"))
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |h AS (SELECT doc_id, ${pHashSql("t")} AS hv FROM t2),
         |agg AS (SELECT doc_id, hv % 64 AS bucket,
         |  CAST(SUM(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END)
         |    AS BIGINT) AS v
         |  FROM h GROUP BY 1, 2),
         |grid AS (SELECT tk.doc_id, r.range AS pos
         |  FROM tk, range(64) r),
         |emb AS (SELECT g.doc_id,
         |  list(CAST(coalesce(a.v, 0) AS DOUBLE) ORDER BY g.pos) AS ev
         |  FROM grid g LEFT JOIN agg a
         |    ON a.doc_id = g.doc_id AND a.bucket = g.pos
         |  GROUP BY g.doc_id),
         |q AS (SELECT doc_id AS query_id, ev AS qv FROM emb
         |  WHERE doc_id < 25 AND list_dot_product(ev, ev) > 0),
         |c AS (SELECT doc_id AS neighbor_id, ev AS cv FROM emb
         |  WHERE list_dot_product(ev, ev) > 0),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok FROM x""".stripMargin),

    // SemDeDup (Abbas et al. 2023): k-means cells as the candidate
    // blocks for embedding-level duplicate pruning, keep-priority =
    // least-similar-to-centroid. The corpus is salted with exact
    // semantic duplicates (every 10th vector re-enters under id+10⁶ —
    // the synthetic embeddings have NO natural pairs above 0.9: the
    // closest non-planted pair measures < 0.7 at both SFs, so the twin
    // can state the pair universe and the kept count EXACTLY). Gated
    // IN-QUERY three ways: n_kept matches the twin's arithmetic,
    // candidate recall over the exact pair set (identical vectors
    // share a cell, so planted recall is 1.0; gate 0.8 tolerates
    // natural-pair drift), and the SemDeDup postcondition recomputed
    // from the OUTPUT labels — no two kept members of one cell within
    // threshold, exactly zero violations.
    QuerySpec("q175_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val corpus = emb.unionByName(emb.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
        val centroids = Similarity.kmeans(emb, k = 16, iterations = 3)
        val dd = Similarity.semanticDedup(corpus, centroids,
          threshold = 0.9)
        val exact = Dedup.embeddingNearDupPairs(corpus, threshold = 0.9)
        val cells = dd.select(col("vec_id"), col("cell"), col("keep"))
        // exact pairs annotated with both members' (cell, keep)
        val annotated = exact
          .join(cells.select(col("vec_id").as("id_a"), col("cell").as("ca"),
            col("keep").as("ka")), "id_a")
          .join(cells.select(col("vec_id").as("id_b"), col("cell").as("cb"),
            col("keep").as("kb")), "id_b")
        val counts = annotated.agg(
          count(lit(1)).as("n_exact_pairs"),
          sum(when(col("ca") === col("cb"), 1L).otherwise(0L))
            .as("__n_caught"),
          sum(when(col("ca") === col("cb") && col("ka") && col("kb"), 1L)
            .otherwise(0L)).as("__n_kept_viol"))
        val totals = dd.agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        // a pairless corpus leaves the pair-side sums NULL (agg over
        // zero rows): zero caught of zero pairs is a PASS, not a null gate
        totals.crossJoin(counts).select(
          col("n_vecs"), col("n_kept"), col("n_exact_pairs"),
          (coalesce(col("__n_caught"), lit(0L)) * 10 >=
            col("n_exact_pairs") * 8).as("recall_ok"),
          (coalesce(col("__n_kept_viol"), lit(0L)) === 0)
            .as("kept_dissimilar_ok"))
      },
      // q175: the twin owns the exact universe — vector count, the
      // full pairwise above-threshold count over the duplicate-salted
      // corpus, and (because the planted pairs are DISJOINT and the
      // closest natural pair sits < 0.7, far under the 0.9 threshold)
      // the kept count as n_vecs − n_pairs. The cell-candidate recall
      // and the kept-set mutual-dissimilarity postcondition are
      // measured IN-QUERY on the Spark side, so a failing gate breaks
      // the hash
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |u AS (SELECT vec_id, v FROM e
         |  UNION ALL
         |  SELECT vec_id + 1000000, v FROM e WHERE vec_id % 10 = 0),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS qv,
         |    b.v AS cv
         |  FROM u a JOIN u b ON a.vec_id < b.vec_id),
         |x AS (SELECT count(*) AS n_exact_pairs FROM pairs
         |  WHERE $cosSql > 0.9)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_vecs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM u) - n_exact_pairs
         |    AS n_kept,
         |  n_exact_pairs, TRUE AS recall_ok,
         |  TRUE AS kept_dissimilar_ok
         |FROM x""".stripMargin),

    // exact cosine top-k (brute force baseline; queries broadcast)
    QuerySpec("q38_sim_bruteforce",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
          .orderBy("query_id", "rnk")
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
         |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    // IVF-bucketed ANN: centroid assign, probe own cell
    QuerySpec("q39_sim_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), centroids, k = 5)
          .orderBy("query_id", "rnk")
      },
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
         |  WHERE vec_id < 10),
         |scored AS (
         |  SELECT e.vec_id, e.v, centroid_id,
         |    list_dot_product(v, cvec) /
         |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cvec, cvec)))
         |      AS csim
         |  FROM e CROSS JOIN cent),
         |asg AS (SELECT vec_id, v, centroid_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, centroid_id) AS r FROM scored) WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM asg
         |  WHERE vec_id < 10),
         |pairs AS (
         |  SELECT query_id, a.vec_id AS neighbor_id, qv, a.v AS cv
         |  FROM q JOIN asg a USING (cell) WHERE query_id <> a.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, $cosSql AS sim FROM pairs),
         |final AS (SELECT query_id, neighbor_id, sim,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rnk FROM ranked)
         |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
         |FROM final WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    // embedding-cosine near-duplicate pairs; the registered entry is the
    // size-switched form (exact all-pairs under the row limit — which these
    // SFs are — IVF-cell-bucketed candidates above it, PlanAuditSpec pins
    // the large-path plan shape)
    QuerySpec("q40_embedding_neardup",
      (s, dir) =>
        Dedup.embeddingNearDupPairsAuto(t(s, dir, "embeddings"), threshold = 0.4)
          .orderBy("id_a", "id_b"),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.v AS qv, b.v AS cv
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, $cosSql AS cos
         |FROM pairs WHERE $cosSql > 0.4
         |ORDER BY id_a, id_b""".stripMargin),

    // random-hyperplane LSH near-dup (the linear-candidate scale path for
    // q40), gated against the exact all-pairs ground truth IN-QUERY:
    // precision is 1 by construction (candidates verify with the exact
    // cosine kernel, so found ⊆ exact) and the banding parameters are sized
    // for ≥0.9 recall (measured 1.0 @ sf0.01, 0.995 @ sf0.1) — both facts
    // surface as oracle-checked booleans, integer arithmetic only.
    QuerySpec("q56_embedding_neardup_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val exact = Dedup.embeddingNearDupPairs(emb, threshold = 0.4)
          .agg(count(lit(1)).as("n_pairs_exact"))
        val found = Dedup.embeddingNearDupPairsLsh(emb, threshold = 0.4,
            nBits = 60, bands = 20)
          .agg(count(lit(1)).as("n_pairs_found"))
        exact.crossJoin(found).select(
          col("n_pairs_exact"),
          (col("n_pairs_found") * 10 >= col("n_pairs_exact") * 9).as("recall_ok"),
          (col("n_pairs_found") <= col("n_pairs_exact")).as("precision_ok"))
      },
      // the gates are integer-arithmetic booleans: recall_ok/precision_ok
      // are TRUE by parameter sizing (see the query comments), n_pairs_exact
      // is the same count q40's oracle computes
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS qv, b.v AS cv
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |x AS (SELECT count(*) AS n_pairs_exact FROM pairs
         |  WHERE $cosSql > 0.4)
         |SELECT n_pairs_exact, TRUE AS recall_ok, TRUE AS precision_ok
         |FROM x""".stripMargin),

    // full ANN pipeline: deterministic k-means index build + multi-probe
    // IVF search, recall@5 gated IN-QUERY against the exact brute-force
    // baseline over a 50-query probe set (measured 0.964 @ sf0.01,
    // 0.932 @ sf0.1 at cells=16 nprobe=12; gate 0.9). The oracle's
    // rows/hash check thus certifies the ANN index actually finds near
    // neighbors — not merely that rows came back.
    QuerySpec("q57_ann_kmeans_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val probes = emb.where(col("vec_id") < 50)
        val centroids = Similarity.kmeans(emb, k = 16, iterations = 3)
        val ann = Similarity.ivfTopK(emb, probes, centroids, k = 5, nprobe = 12)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).select(
          col("n_exact"),
          (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok FROM x""".stripMargin),

    // symmetric int8 absmax quantization of the embedding column (the
    // 4×-storage lever): emitted aggregates are integer-exact, the scale
    // divide + floor(+0.5) rounding is IEEE-identical on both engines
    QuerySpec("q66_quantize_int8",
      (s, dir) =>
        graft.operators.Corpus.quantizeInt8(t(s, dir, "embeddings"))
          .select(col("vec_id"),
            expr("aggregate(qvec, 0L, (a, x) -> a + cast(x as long))")
              .as("q_sum"),
            array_min(col("qvec")).as("q_min"),
            array_max(col("qvec")).as("q_max"))
          .orderBy("vec_id"),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v,
        |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
        |    AS qscale FROM e),
        |qq AS (SELECT vec_id,
        |  list_transform(v, x ->
        |    CAST(floor(x * 127.0 / qscale + 0.5) AS INTEGER)) AS qvec
        |  FROM q)
        |SELECT vec_id,
        |  CAST(COALESCE(list_aggregate(qvec, 'sum'), 0) AS BIGINT) AS q_sum,
        |  CAST(list_min(qvec) AS INTEGER) AS q_min,
        |  CAST(list_max(qvec) AS INTEGER) AS q_max
        |FROM qq ORDER BY vec_id""".stripMargin),

    // IVF cell-clustered STORAGE layout: corpus written partitionBy(cell)
    // so a probe scans only the probed cells' partition directories (file
    // pruning pinned in PlanAuditSpec — the bytes-touched analogue of the
    // cell shuffle key). Gates: recall ≥ 0.9 vs exact brute force AND
    // rank-for-rank equality with the unclustered ivfTopK — proving the
    // layout changes which BYTES are read, not a single result row. The
    // clustered write runs in the timed region by design (like q80): the
    // layout is the operator under proof
    QuerySpec("q102_ann_clustered_layout",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val probes = emb.where(col("vec_id") < 50)
        val centroids = Similarity.kmeans(emb, k = 16, iterations = 3)
        val path = scratch("graft_q102_") + "/emb"
        Similarity.writeClustered(emb, centroids, path)
        val ann = Similarity.ivfTopKClustered(s, path, probes, centroids,
          k = 5, nprobe = 12)
        val plain = Similarity.ivfTopK(emb, probes, centroids, k = 5, nprobe = 12)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nSame = ann.join(plain, Seq("query_id", "neighbor_id", "rnk"),
            "left_semi")
          .agg(count(lit(1)).as("n_same"))
        val nAnn = ann.agg(count(lit(1)).as("n_ann"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).crossJoin(nAnn).crossJoin(nSame).select(
          col("n_exact"),
          (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"),
          (col("n_same") === col("n_ann") && col("n_ann") === col("n_exact"))
            .as("layout_ok"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok, TRUE AS layout_ok
         |FROM x""".stripMargin),

    // inverted index over trigram shingle terms: exact df / total tf per
    // term; posting lists materialize only for terms with df <= 16 (stop
    // terms elide to NULL so no reduce task ever builds a corpus-sized
    // list — stats stay exact for every term)
    QuerySpec("q109_inverted_index",
      (s, dir) =>
        Retrieval.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
            n = 3, postingsCap = 16)
          .orderBy("term"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS term
         |  FROM tk),
         |per AS (SELECT term, doc_id, count(*) AS tf FROM sh GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(tf) AS BIGINT) AS tf_total,
         |  CASE WHEN count(*) <= 16 THEN
         |    array_to_string(list_sort(list(doc_id)), ',') END AS postings
         |FROM per GROUP BY term ORDER BY term""".stripMargin),

    // BM25 top-25 for a 3-term query: tf counted inside the token array
    // (no explode/shuffle of corpus rows), corpus stats via a one-row
    // broadcast, TakeOrdered top-k; scores emitted in exact micro-units
    QuerySpec("q110_bm25_topk",
      (s, dir) =>
        Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("dup", "spark", "merge"), topK = 25),
      {
        // same operand ORDER as Retrieval.bm25TopK so identical integer
        // inputs take identical IEEE paths; ln() may differ by an ulp
        // between libms, which the micro-unit rounding absorbs
        val terms = Seq("dup", "spark", "merge")
        val tfCols = terms.zipWithIndex.map { case (tm, i) =>
          s"CAST(len(list_filter(toks, x -> x = '$tm')) AS BIGINT) AS tf$i"
        }.mkString(",\n  ")
        val dfCols = terms.indices.map { i =>
          s"CAST(count(*) FILTER (WHERE tf$i > 0) AS BIGINT) AS df$i"
        }.mkString(",\n  ")
        val w = terms.indices.map { i =>
          s"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)" +
            s" / (CAST(df$i AS DOUBLE) + 0.5))" +
            s" * (CAST(tf$i AS DOUBLE) * 2.2)" +
            s" / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 *" +
            s" CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))"
        }.mkString(" + ")
        s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |per AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |  $tfCols
           |  FROM tk),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(dl) AS BIGINT) AS sdl,
           |  $dfCols FROM per)
           |SELECT doc_id, CAST(round(($w) * 1e6) AS BIGINT) AS score_e6
           |FROM per, st ORDER BY score_e6 DESC, doc_id LIMIT 25""".stripMargin
      }),

    // incrementally-maintained inverted index: the (term, doc, tf)
    // multiplicity state folds two delta-sized change feeds (doc rewrite,
    // doc delete) and must equal a full re-tokenize of the final corpus —
    // the retrieval member of the incremental-view family (q95/q99/q103/
    // q105). Twin rebuilds the final corpus from the pure doc_id mutation
    // rules; the ok gate compares fold vs rebuild in-query
    QuerySpec("q112_incremental_index",
      (s, dir) => {
        val root = q112Fixture(s, dir)
        import graft.store.VersionedTable
        val s0 = Retrieval.indexState(
          VersionedTable.read(s, root, Some(0L)), "doc_id", "text")
        val s1 = Retrieval.applyFeedIndex(s0,
          VersionedTable.changeFeed(s, root, 0L, 1L, Seq("doc_id")),
          "doc_id", "text")
        val s2 = Retrieval.applyFeedIndex(s1,
          VersionedTable.changeFeed(s, root, 1L, 2L, Seq("doc_id")),
          "doc_id", "text")
        val inc = Retrieval.termStats(s2)
          .select(col("term"), col("df").as("df_i"), col("tf_total").as("t_i"))
        val full = Retrieval.termStats(Retrieval.indexState(
          VersionedTable.read(s, root), "doc_id", "text"))
        full.join(inc, Seq("term"), "full_outer")
          .select(col("term"), col("df"), col("tf_total"),
            (col("df") <=> col("df_i") && col("tf_total") <=> col("t_i"))
              .as("ok"))
          .orderBy("term")
      },
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' graftextra'
         |      ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |tk AS (SELECT doc_id, $toksSql AS tk FROM base),
         |sh AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS term
         |  FROM tk),
         |per AS (SELECT term, doc_id, count(*) AS tf FROM sh GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(tf) AS BIGINT) AS tf_total, TRUE AS ok
         |FROM per GROUP BY term ORDER BY term""".stripMargin),

    // PQ-compressed ANN: ADC over 16-byte codes ranks the whole corpus, a
    // 100-candidate shortlist reranks with the exact cosine kernel (only
    // the shortlist's full vectors are ever fetched). Gate mirrors
    // q57/q102: recall@5 >= 0.9 vs brute force, proven in-query
    QuerySpec("q114_ann_pq",
      (s, dir) => {
        val base = q114Fixture(s, dir)
        val emb = t(s, dir, "embeddings")
        val probes = emb.where(col("vec_id") < 50)
        val cb = s.read.parquet(s"$base/cb")
        val enc = s.read.parquet(s"$base/enc")
        val ann = Similarity.pqTopKRerank(enc, cb, emb, probes,
          k = 5, shortlist = 100)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).select(
          col("n_exact"),
          (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok FROM x""".stripMargin),

    // IVF×PQ composition (IVFADC — the FAISS IndexIVFPQ deploy): PQ codes
    // stored cell-partitioned, so the ADC pass reads ONLY probed cells'
    // FILES — nprobe/cells of a 32×-compressed corpus — then the exact
    // rerank fetches just the shortlist. Gates mirror q102+q114: recall@5
    // >= 0.9 vs brute force, AND rank-for-rank equality with the
    // whole-corpus pqTopK at nprobe = cells (the routing drops bytes,
    // never candidates)
    QuerySpec("q115_ann_ivfadc",
      (s, dir) => {
        val pqBase = q114Fixture(s, dir)
        val base = q115Fixture(s, dir)
        val emb = t(s, dir, "embeddings")
        val probes = emb.where(col("vec_id") < 50)
        val cb = s.read.parquet(s"$pqBase/cb")
        val enc = s.read.parquet(s"$pqBase/enc")
        val cents = s.read.parquet(s"$base/cents")
        val ann = Similarity.ivfAdcTopKRerank(s, s"$base/idx", cb, cents,
          emb, probes, k = 5, nprobe = 12, shortlist = 100)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val full = Similarity.ivfAdcTopK(s, s"$base/idx", cb, cents, probes,
          k = 5, nprobe = 16)
        val plain = Similarity.pqTopK(enc, cb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nSame = full.join(plain, Seq("query_id", "neighbor_id", "rnk"),
            "left_semi")
          .agg(count(lit(1)).as("n_same"))
        val nFull = full.agg(count(lit(1)).as("n_full"))
        val nPlain = plain.agg(count(lit(1)).as("n_plain"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).crossJoin(nFull).crossJoin(nPlain)
          .crossJoin(nSame).select(
            col("n_exact"),
            (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"),
            (col("n_same") === col("n_full") && col("n_full") === col("n_plain"))
              .as("adc_ok"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok, TRUE AS adc_ok
         |FROM x""".stripMargin),

    // RESIDUAL IVFADC (true Jégou §V / FAISS IndexIVFPQ): the PQ
    // codebooks quantize cell residuals x̂ − c_cell instead of raw unit
    // directions — residuals concentrate near zero, so the same m×k
    // budget buys lower quantization error — and the ADC score adds the
    // per-(query, cell) q̂·c_cell offset back. Same recall gate as
    // q114/q115 at the same nprobe/shortlist settings
    QuerySpec("q116_ann_ivfadc_residual",
      (s, dir) => {
        val base = q116Fixture(s, dir)
        val cents = s.read.parquet(s"${q115Fixture(s, dir)}/cents")
        val emb = t(s, dir, "embeddings")
        val probes = emb.where(col("vec_id") < 50)
        val rcb = s.read.parquet(s"$base/rcb")
        val ann = Similarity.ivfAdcTopKRerank(s, s"$base/idx", rcb, cents,
          emb, probes, k = 5, nprobe = 12, shortlist = 100, residual = true)
        val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
        val nHits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).select(
          col("n_exact"),
          (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok FROM x""".stripMargin),

    // incremental ANN index maintenance: the clustered PQ index mutated
    // by ONE delta-sized feed application (touched cells only) must be
    // search-indistinguishable from a full rebuild over the post-feed
    // corpus — maintained and rebuilt searches rank-for-rank identical
    // (exact: cell+code are deterministic functions of vector and index
    // state) plus the usual recall gate vs brute force on the FINAL
    // corpus
    QuerySpec("q117_ann_index_maintain",
      (s, dir) => {
        val base = q117Fixture(s, dir)
        val cents = s.read.parquet(s"${q115Fixture(s, dir)}/cents")
        val cb = s.read.parquet(s"${q114Fixture(s, dir)}/cb")
        val fin = s.read.parquet(s"$base/final")
        val probes = fin.where(col("vec_id") < 50)
        val annM = Similarity.ivfAdcTopKRerank(s, s"$base/idx", cb, cents,
          fin, probes, k = 5, nprobe = 12, shortlist = 100)
        val annR = Similarity.ivfAdcTopKRerank(s, s"$base/rebuilt", cb, cents,
          fin, probes, k = 5, nprobe = 12, shortlist = 100)
        val exact = Similarity.bruteForceTopK(fin, probes, k = 5)
        val nHits = annM.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nSame = annM.join(annR, Seq("query_id", "neighbor_id", "rnk"),
            "left_semi")
          .agg(count(lit(1)).as("n_same"))
        val nM = annM.agg(count(lit(1)).as("n_m"))
        val nR = annR.agg(count(lit(1)).as("n_r"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).crossJoin(nM).crossJoin(nR).crossJoin(nSame)
          .select(
            col("n_exact"),
            (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"),
            (col("n_same") === col("n_m") && col("n_m") === col("n_r"))
              .as("maintain_ok"))
      },
      s"""WITH fin AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 5 <> 0 AND vec_id % 7 <> 0
         |  UNION ALL
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(CAST(x AS DOUBLE) * 0.5 + 0.125 AS FLOAT))
         |  FROM embeddings WHERE vec_id % 5 = 0
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding,
         |    x -> CAST(1.0 - CAST(x AS DOUBLE) AS FLOAT))
         |  FROM embeddings WHERE vec_id % 11 = 0),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM fin WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM fin),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok, TRUE AS maintain_ok
         |FROM x""".stripMargin),

    // streaming ANN freshness: the backlog streams through micro-batches
    // that each commit a table version AND fold its change feed into the
    // clustered PQ index — after the drain, searching the streamed index
    // must be rank-for-rank the rebuilt twin (whatever batch boundaries
    // the trigger chose), with the recall gate vs brute force over the
    // final snapshot
    QuerySpec("q118_stream_ann_index",
      (s, dir) => {
        val base = q118Fixture(s, dir)
        val cents = s.read.parquet(s"${q115Fixture(s, dir)}/cents")
        val cb = s.read.parquet(s"${q114Fixture(s, dir)}/cb")
        val fin = graft.store.VersionedTable.read(s, s"$base/tbl")
        val probes = fin.where(col("vec_id") < 50)
        val annM = Similarity.ivfAdcTopKRerank(s, s"$base/idx", cb, cents,
          fin, probes, k = 5, nprobe = 12, shortlist = 100)
        val annR = Similarity.ivfAdcTopKRerank(s, s"$base/rebuilt", cb, cents,
          fin, probes, k = 5, nprobe = 12, shortlist = 100)
        val exact = Similarity.bruteForceTopK(fin, probes, k = 5)
        val nHits = annM.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nSame = annM.join(annR, Seq("query_id", "neighbor_id", "rnk"),
            "left_semi")
          .agg(count(lit(1)).as("n_same"))
        val nM = annM.agg(count(lit(1)).as("n_m"))
        val nR = annR.agg(count(lit(1)).as("n_r"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        nExact.crossJoin(nHits).crossJoin(nM).crossJoin(nR).crossJoin(nSame)
          .select(
            col("n_exact"),
            (col("n_hits") * 10 >= col("n_exact") * 9).as("recall_ok"),
            (col("n_same") === col("n_m") && col("n_m") === col("n_r"))
              .as("stream_ok"))
      },
      s"""WITH fin AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 9 = 0 THEN list_transform(embedding,
         |      x -> CAST(CAST(x AS DOUBLE) * 0.5 + 0.125 AS FLOAT))
         |    ELSE embedding END AS embedding
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM fin WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |  FROM fin),
         |scored AS (SELECT query_id, neighbor_id, $cosSql AS sim
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored),
         |x AS (SELECT count(*) AS n_exact FROM ranked WHERE rnk <= 5)
         |SELECT n_exact, TRUE AS recall_ok, TRUE AS stream_ok
         |FROM x""".stripMargin),
  )
}
