package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate
import graft.functions.VectorFunctions._
import graft.store.UpsertWriter

/** Approximate-nearest-neighbor search over an embedding column
  * (driver-mandated extension — SURVEY.md §7.9).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus; one narrow pass computes all similarities,
  *    one shuffle ranks per query. The baseline and the verifier.
  *  - [[ivfTopK]] — IVF-style: assign every corpus vector to its nearest
  *    centroid (one narrow pass, centroids broadcast), then probe only the
  *    query's `nprobe` closest cells. Search cost drops by ~(cells/nprobe)×;
  *    recall is bounded by cell assignment like any IVF index. At 100 TB the
  *    assignment doubles as the partition key so each cell is co-located.
  *
  * Ranking is deterministic: similarity rounded to 9 dp, ties broken by
  * neighbor id — the DuckDB oracle ranks identically.
  */
object Similarity {

  /** Rank a `(query_id, neighbor_id, sim)`-shaped candidate frame to its
    * per-query top-k via the bounded [[TopKAggregate]] heap — TWO-PHASE:
    * each input partition partially aggregates to at most k entries per
    * query before the shuffle, and the reduce side merges the bounded
    * heaps. The `row_number().over(Window.partitionBy("query_id"))` form
    * this replaces shuffled EVERY scored candidate of a query into one
    * task and sorted there — corpus-sized for the ADC pass, a single-task
    * wall at 100 TB. Rank order is identical: sim desc, neighbor id asc.
    */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKAggregate.topKByScore(col("sim"), col("neighbor_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"),
        col("__e").getField("id").as("neighbor_id"),
        (col("__pos") + lit(1)).cast("int").as("rnk"),
        col("__e").getField("score").as("sim"))

  /** Exact top-k neighbors for each query vector (queries excluded from
    * their own result). `queries` must be small enough to broadcast — it is
    * the probe set, not the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineWithNorms(
        dot(col("qv"), col("cv")), col("qn"), col("cn")))
    topKRanked(scored, k)
  }

  /** Collect a (centroid_id, cvec) table to driver arrays, id-ascending.
    * Centroids are index state — k×dim values, a few KB — so the collect is
    * O(metadata); widening float→double is exact, keeping the kernel's
    * arithmetic bit-identical to the float-array join form.
    */
  /** Float/double-tolerant vector extraction for driver-side collects —
    * both array element types are valid embedding columns everywhere in
    * this module, so every collect must accept either.
    */
  private def toDoubles(xs: Seq[Any]): Array[Double] = xs.map {
    case f: Float => f.toDouble
    case d: Double => d
    case x => x.asInstanceOf[Number].doubleValue()
  }.toArray

  private def collectCentroids(centroids: DataFrame,
      centroidIdCol: String, centroidVecCol: String)
      : (Array[Long], Array[Array[Double]]) = {
    val rows = centroids
      .select(col(centroidIdCol).cast("long"), col(centroidVecCol))
      .collect()
      .map(r => r.getLong(0) -> toDoubles(r.getSeq[Any](1)))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Assign each vector to its highest-cosine centroid. Centroids are
    * driver state (k×dim), so assignment is a NARROW projection — the
    * [[graft.functions.VecNearestCentroids]] kernel computes the argmax
    * map-side with zero Exchange between the corpus scan and the cell
    * column (the broadcast-join + per-vector window form shuffled the
    * whole corpus on vec_id once per pass).
    *
    * Null contract: rows with a null embedding have no meaningful cell and
    * are EXCLUDED from the assignment output — explicitly, with a filter,
    * so the drop is visible in the plan rather than an artifact of how the
    * kernel happens to treat nulls (the exploded multi-probe form would
    * otherwise drop them silently while the scalar form emitted a null
    * cell; both now agree).
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id", centroidVecCol: String = "cvec")
      : DataFrame = {
    val (ids, cvecs) = collectCentroids(centroids, centroidIdCol, centroidVecCol)
    ivfAssignArrays(corpus.where(col(vecCol).isNotNull), ids, cvecs, idCol, vecCol)
  }

  /** [[ivfAssign]] over already-collected centroid arrays (`ids` sorted
    * ascending) — the form `kmeans` uses per iteration, skipping the
    * DataFrame round-trip.
    */
  private def ivfAssignArrays(corpus: DataFrame, ids: Array[Long],
      cvecs: Array[Array[Double]], idCol: String, vecCol: String,
      l2: Boolean = false): DataFrame = {
    val assign =
      if (l2) graft.functions.VectorExpressions
        .nearestCentroidsL2(col(vecCol), ids, cvecs, 1)
      else graft.functions.VectorExpressions
        .nearestCentroids(col(vecCol), ids, cvecs, 1)
    corpus.select(col(idCol), col(vecCol), assign.getItem(0).as("cell"))
  }

  /** Deterministic distributed Lloyd's k-means over the embedding column —
    * the index builder for the IVF path, so ANN needs no external
    * clustering library. Initial centroids are the k vectors with the
    * smallest portable hash of their id (deterministic sampling, no RNG);
    * each iteration is one broadcast-join assignment pass + one groupBy
    * mean — the centroid set (k × dim doubles) is the only driver state.
    *
    * Returns (centroid_id, cvec) ready for [[ivfAssign]]/[[ivfTopK]].
    */
  def kmeans(corpus: DataFrame, k: Int, iterations: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      l2: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    var centroids = corpus
      .select(col(idCol), col(vecCol),
        graft.functions.TextFunctions.portableHash(col(idCol).cast("string"))
          .as("__h"))
      .orderBy(col("__h"), col(idCol))
      .limit(k)
      .orderBy(col("__h"), col(idCol))
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to iterations) {
      // narrow assignment straight off the driver arrays — each Lloyd
      // iteration costs one scan + one (cell,pos) partial-agg, never a
      // corpus-wide shuffle on vec_id
      val assigned = ivfAssignArrays(corpus,
        centroids.indices.map(_.toLong).toArray,
        centroids.map(_.map(_.toDouble)), idCol, vecCol, l2)
      // per-cell mean, dimension-wise: explode positions, average, rebuild
      val means = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("mean"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).toArray).toMap
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.getOrElse(i, old) // empty cell keeps its centroid
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        centroids.zipWithIndex.map { case (v, i) =>
          org.apache.spark.sql.Row(i.toLong, v.toSeq)
        }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)))))
  }

  /** Assign each vector to its `nprobe` highest-cosine centroids (the
    * multi-probe generalization of [[ivfAssign]]; one row per probed cell).
    * Same narrow kernel: one array of cell ids per vector, exploded — no
    * join, no window. Null embeddings are excluded, same contract as
    * [[ivfAssign]].
    */
  def ivfAssignN(vectors: DataFrame, centroids: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id", centroidVecCol: String = "cvec")
      : DataFrame = {
    val (ids, cvecs) = collectCentroids(centroids, centroidIdCol, centroidVecCol)
    vectors.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        explode(graft.functions.VectorExpressions
          .nearestCentroids(col(vecCol), ids, cvecs, nprobe)).as("cell"))
  }

  /** Cell-clustered storage layout for the IVF index: write the corpus
    * partitioned BY CELL, so each IVF cell is its own partition directory —
    * the on-disk analogue of using the cell as the shuffle key. A probe
    * then reads ONLY the probed cells' files via partition pruning
    * (pinned in PlanAuditSpec): at 100 TB an nprobe/cells probe touches
    * that fraction of the corpus BYTES, not just that fraction of the
    * compares — the difference between an index and a full scan.
    */
  def writeClustered(corpus: DataFrame, centroids: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    ivfAssign(corpus, centroids, idCol, vecCol)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** IVF top-k over a [[writeClustered]] table. The probed cell set
    * (≤ nprobe × |queries| values — query-set METADATA, never corpus
    * data) becomes an `isin` partition filter, so the scan prunes to the
    * probed directories. Results are identical to [[ivfTopK]] with the
    * same centroids: cell assignment is deterministic and the float
    * vectors round-trip parquet exactly. The probed cell list and the
    * scoring join share ONE assigned-frame DEFINITION (so the routing
    * can never drift from the scoring), but the frame is not persisted:
    * the assignment projection re-evaluates once per action — probe-set
    * cost — and `queries` must therefore be deterministic, as every
    * source in this module is.
    */
  def ivfTopKClustered(spark: SparkSession, path: String, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qAssigned = assignQueries(queries, centroids, nprobe, idCol, vecCol)
    val probed = qAssigned.select("cell").distinct()
      .collect().map(_.getLong(0)) // O(metadata): the probe set is small
    val corpus = spark.read.parquet(path)
      .where(col("cell").isin(probed: _*))
      .withColumn("cell", col("cell").cast("long"))
    cellProbeTopK(qAssigned, corpus, k, idCol, vecCol)
  }

  /** The multi-probe query side of every cell-routed search:
    * `(query_id, qv, cell, qn)` — one [[ivfAssignN]] pass, shared so no
    * caller assigns the same query set twice.
    */
  private def assignQueries(queries: DataFrame, centroids: DataFrame,
      nprobe: Int, idCol: String, vecCol: String): DataFrame =
    ivfAssignN(queries, centroids, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell"),
        norm(col(vecCol)).as("qn"))

  /** Score an [[assignQueries]] frame against a cell-assigned corpus and
    * rank top-k — the ONE implementation [[ivfTopK]] and
    * [[ivfTopKClustered]] both go through, so the two stay rank-identical
    * by construction (q102's layout-equality gate depends on exactly
    * that).
    */
  private def cellProbeTopK(qAssigned: DataFrame, assignedCorpus: DataFrame,
      k: Int, idCol: String, vecCol: String): DataFrame = {
    val scored = broadcast(qAssigned)
      .join(assignedCorpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col("cell"), norm(col(vecCol)).as("cn")),
        Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineWithNorms(
        dot(col("qv"), col("cv")), col("qn"), col("cn")))
    topKRanked(scored, k)
  }

  /** IVF top-k: probe the query's `nprobe` closest cells (nprobe=1 = own
    * cell only). Larger nprobe trades search cost for recall, the standard
    * IVF knob; the corpus stays partitioned by cell either way, so each
    * probe touches only co-located data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cellProbeTopK(assignQueries(queries, centroids, nprobe, idCol, vecCol),
      ivfAssign(corpus, centroids, idCol, vecCol), k, idCol, vecCol)

  // ---------------------------------------------- semantic deduplication

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540 — public
    * literature): k-means cells as the candidate blocks for
    * embedding-level duplicate pruning. Every vector is compared only
    * against its OWN cell's members — the paper's design: pairwise
    * similarity is computed within clusters, never across the corpus — a
    * pair above `threshold` marks its lower-priority member dropped, and
    * every assigned vector comes back labeled `keep`. Keep priority
    * follows the paper: the member LEAST similar to its centroid survives
    * (it carries the most marginal information for training), ties broken
    * toward the smaller id so the labeling is deterministic.
    *
    * The drop rule is existential — x drops iff SOME same-cell y above
    * `threshold` out-prioritizes it — which is fully parallel (no
    * per-cell sequential scan) and still guarantees the SemDeDup
    * postcondition: two KEPT members of one cell are never within
    * `threshold` of each other (were they, one would out-prioritize and
    * drop the other). q175 re-verifies that postcondition from the
    * OUTPUT labels, not from the rule.
    *
    * Scale shape: assignment is the [[ivfAssign]] narrow kernel pass
    * (centroids are driver metadata); the candidate stage shuffles on
    * `cell` and compares ~corpus²/k pairs in expectation — k is the scale
    * knob (the paper runs 50 k clusters at LAION scale), so cells stay
    * task-sized at any corpus size — and a cell that overruns
    * `maxCellRows` anyway (one skewed centroid attracting O(n) vectors)
    * splits into the bounded hash-block triangle the embedding near-dup
    * path uses, so no single task goes quadratic even on a clustered
    * corpus. Nothing here is all-pairs. Rows with
    * a null embedding have no cell and are excluded, the same contract as
    * [[ivfAssign]].
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidIdCol: String = "centroid_id",
      centroidVecCol: String = "cvec",
      maxCellRows: Long = 4096): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol,
      centroidIdCol, centroidVecCol)
    val cents = broadcast(centroids.select(
      col(centroidIdCol).as("cell"), col(centroidVecCol).as("__cv"),
      norm(col(centroidVecCol)).as("__cn")))
    val withSim = assigned
      .withColumn("__vn", norm(col(vecCol)))
      .join(cents, "cell")
      .withColumn("centroid_sim", cosineWithNorms(
        dot(col(vecCol), col("__cv")), col("__vn"), col("__cn")))
      .select(col(idCol), col(vecCol), col("__vn"), col("cell"),
        col("centroid_sim"))
    // the within-cell self-join rides the same hash-block triangle as
    // the q40 embedding near-dup path: cells at or under `maxCellRows`
    // behave exactly as a plain cell equi-join (one block), an
    // oversized cell — one skewed k-means cell holding O(n) vectors —
    // decomposes into bounded (lo, hi) block tasks instead of going
    // quadratic on a single straggler. Pair SET is provably the plain
    // join's (Dedup.boundedCellPairs' contract, SkewSpec-pinned), so
    // the keep labels cannot change under the cap.
    val pairs = graft.operators.Dedup.boundedCellPairs(
      withSim.select(col("cell"), col(idCol), col(vecCol),
        col("__vn").as("nrm"), col("centroid_sim")),
      threshold, maxCellRows, idCol, vecCol,
      carryCols = Seq("centroid_sim"))
    // the pair's lower-priority member drops: priority is (centroid_sim
    // asc, id asc), and id_a < id_b by construction, so an equal-sim
    // pair keeps the smaller id
    val losers = pairs.select(
        when(col("centroid_sim_a") <= col("centroid_sim_b"), col("id_b"))
          .otherwise(col("id_a")).as(idCol))
      .distinct()
    withSim
      .join(losers.withColumn("__lost", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("centroid_sim"),
        col("__lost").isNull.as("keep"))
  }

  // ------------------------------------------------- product quantization

  /** L2-normalize the embedding column (cosine is THE metric here, so PQ
    * quantizes DIRECTIONS: after normalization cosine(q, x) = q̂·x̂ and the
    * ADC rank needs no reconstructed-norm correction — the largest PQ
    * ranking error source for cosine search). The norm is projected ONCE
    * per row, not per element; zero vectors have no direction and are
    * excluded, same contract as null embeddings everywhere else here.
    */
  private def unitize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol), transform(col(vecCol),
        x => (x / col("__n")).cast("float")).as(vecCol))

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", PAMI 2011): the embedding
    * splits into `m` contiguous subspaces and each subspace trains its own
    * [[kmeans]] codebook of `k` codewords on the SLICED corpus. A vector
    * is then `m` small codeword ids instead of `dim` floats —
    * dim·4 / m bytes-per-vector compression (64-dim float → 8 codes is
    * 32×), which is what makes corpus-scale ANN fit in memory at 100 TB.
    * Codebooks are m·k·(dim/m) floats — metadata-sized index state.
    * Returns (subspace, codeword_id, cvec) rows.
    */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16,
      iterations: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    trainSubspaceCodebooks(unitize(corpus, idCol, vecCol), m, k, iterations,
      idCol, vecCol)

  /** Shared per-subspace codebook trainer over an already-prepared (unit
    * or residual) vector frame. Every subspace's kmeans re-actions the
    * frame (init collect + per-iteration means), so it persists ONCE and
    * the m × (iterations+1) passes read cached rows. The dim probe reads
    * the PREPARED frame: an untrainable corpus (all-zero / all-null) must
    * fail here with a trainability message, not deep inside kmeans with
    * an unrelated "at least one centroid" error.
    */
  private def trainSubspaceCodebooks(prepared: DataFrame, m: Int, k: Int,
      iterations: Int, idCol: String, vecCol: String): DataFrame = {
    val cached = prepared.persist()
    try {
      val probe = cached.select(size(col(vecCol))).limit(1).collect()
      if (probe.isEmpty)
        throw new IllegalArgumentException(
          "pqCodebooks: corpus has no nonzero non-null embeddings to train on")
      val dim = probe(0).getInt(0)
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val sub = dim / m
      (0 until m).map { s =>
        // L2 Lloyd's: codeword MAGNITUDE matters for reconstructing dot
        // products, so subspace codebooks train on distance, not direction
        kmeans(cached.select(col(idCol),
            slice(col(vecCol), s * sub + 1, sub).as(vecCol)),
            k, iterations, idCol, vecCol, l2 = true)
          .select(lit(s).as("subspace"), col("centroid_id").as("codeword_id"),
            col("cvec"))
      }.reduce(_ unionByName _)
    } finally cached.unpersist() // kmeans collects eagerly — lineage is done;
    // the finally also covers the probe/require throws, so a misconfigured
    // call never strands the cached prepared frame
  }

  /** Encode each vector as its `m` per-subspace codeword ids — one NARROW
    * projection: the codebooks collect to driver arrays (metadata) and
    * every subspace's assignment is the same zero-Exchange
    * nearest-centroid kernel the IVF path uses, over the sliced vector.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val sub = cb(0)(0).length
    val codeCols = (0 until m).map { s =>
      graft.functions.VectorExpressions.nearestCentroidsL2(
        slice(col(vecCol), s * sub + 1, sub),
        cb(s).indices.map(_.toLong).toArray, cb(s), 1).getItem(0)
    }
    unitize(corpus, idCol, vecCol)
      .select(col(idCol), array(codeCols: _*).as("code"))
  }

  /** ADC (asymmetric distance computation) top-k over a PQ-encoded
    * corpus: per query the dot products against every codeword build an
    * m×k lookup table (probe-set × m × k rows — broadcast), a candidate's
    * approximate similarity is the SUM of its m table hits over the code
    * — m lookups instead of dim multiplies, against 32×-smaller rows —
    * and ranking reuses the brute-force shape (partial-agg shuffle +
    * per-query window). Approximate by construction; gate with in-query
    * recall against [[bruteForceTopK]] like the IVF paths.
    */
  def pqTopK(encoded: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val cb = collectCodebooks(codebooks)
    val lut = pqLut(queries, cb, idCol, vecCol)
    val scored = encoded
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("code")).as(Seq("subspace", "codeword")))
      .join(broadcast(lut), Seq("subspace", "codeword"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("pdot").as("sim"))
      .where(col("query_id") =!= col("neighbor_id"))
    topKRanked(scored, k)
  }

  /** Per-query ADC lookup table: `(query_id, subspace, codeword, pdot)`
    * where pdot = q̂_subspace · codeword — |queries|·m·k rows, built on the
    * driver and broadcast. The collect is SIZE-GUARDED: `queries` is the
    * probe set, not a corpus, and a caller passing data-sized queries must
    * fail fast with the contract spelled out, not OOM the driver (same
    * refusal convention as [[Sizing]]'s broadcast guards). The row cap
    * scales inversely with m·k so the broadcast LUT itself stays within
    * [[Sizing.DefaultBroadcastRows]].
    */
  private def pqLut(queries: DataFrame, cb: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): DataFrame =
    pqLutAndUnitQueries(queries, cb, idCol, vecCol)._1

  /** [[pqLut]] plus the collected unit query vectors it was built from —
    * the residual ADC path reuses them for the per-(query, cell)
    * q̂ · c_cell offsets without a second collect.
    */
  private def pqLutAndUnitQueries(queries: DataFrame,
      cb: Array[Array[Array[Double]]], idCol: String, vecCol: String)
      : (DataFrame, Array[(Long, Array[Double])]) = {
    val spark = queries.sparkSession
    val m = cb.length
    val kCodes = cb(0).length
    val sub = cb(0)(0).length
    val maxQueries = math.max(1L, Sizing.DefaultBroadcastRows / (m.toLong * kCodes))
    // one collect of at most maxQueries + 1 rows is both the guard and
    // the LUT's input: no separate probe job
    val collected = queries.select(col(idCol).cast("long"), col(vecCol))
      .limit((maxQueries + 1).toInt).collect()
    require(collected.length <= maxQueries,
      s"pqTopK: `queries` is the PROBE set, not a corpus — its ADC lookup " +
        s"table is |queries| x m x k rows and must broadcast. More than " +
        s"$maxQueries query rows found (cap = ${Sizing.DefaultBroadcastRows} " +
        s"LUT rows / (m=$m x k=$kCodes)); batch the probe set instead.")
    // per-query LUT over UNIT query directions: with unit-normalized
    // encodings, approximate cosine = Σ_s q̂_s · c_{s,code_s} directly
    val qRows = collected.filterNot(_.isNullAt(1)).flatMap { r =>
        val raw = toDoubles(r.getSeq[Any](1))
        val qn = math.sqrt(raw.map(x => x * x).sum)
        // a zero query has no direction — excluded, matching unitize
        if (qn > 0) Some((r.getLong(0), raw.map(_ / qn))) else None
      }
    val lut = spark.createDataFrame(qRows.flatMap { case (qid, qv) =>
      for (s <- 0 until m; j <- cb(s).indices) yield {
        var d = 0.0
        var i = 0
        while (i < sub) { d += qv(s * sub + i) * cb(s)(j)(i); i += 1 }
        (qid, s, j.toLong, d)
      }
    }.toSeq).toDF("query_id", "subspace", "codeword", "pdot")
    (lut, qRows)
  }

  /** PQ shortlist + EXACT rerank — how production ANN actually deploys
    * PQ: the ADC pass ranks the WHOLE corpus on its m-byte codes (32×
    * smaller than raw vectors) and keeps a `shortlist` of candidates per
    * query; only those candidates' full vectors are fetched (broadcast
    * semi-fetch — the corpus itself is never shuffled) and reranked with
    * the exact cosine kernel. Quantization error then only matters if it
    * pushes a true top-k entirely OUT of the shortlist, so recall@k is
    * governed by the far-easier shortlist recall (measured ≥ 0.99 at
    * shortlist = 20·k on this corpus; gated in-query by q114).
    */
  def pqTopKRerank(encoded: DataFrame, codebooks: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rerankExact(
      pqTopK(encoded, codebooks, queries, shortlist, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id")),
      corpus, queries, k, idCol, vecCol)

  /** Exact-cosine rerank of a `(query_id, neighbor_id)` shortlist: only
    * the candidates' full vectors are fetched (broadcast semi-fetch — the
    * corpus itself is never shuffled) and scored with the exact kernel.
    * Shared by [[pqTopKRerank]] and [[ivfAdcTopKRerank]] so the two
    * deploys rerank identically.
    */
  private def rerankExact(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame = {
    // norms AFTER the candidate join: only the shortlist's rows pay the
    // dim-length dot product, not the whole corpus
    val fetch = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cn", norm(col("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("qn")))
    val scored = fetch.join(q, Seq("query_id"))
      .withColumn("sim", cosineWithNorms(
        dot(col("qv"), col("cv")), col("qn"), col("cn")))
    topKRanked(scored, k)
  }

  // -------------------------------------------------- IVF×PQ (IVFADC)

  /** Cell-clustered PQ index — IVFADC (Jégou, Douze & Schmid, PAMI 2011
    * §V; the layout FAISS deploys as IndexIVFPQ): ONE narrow pass over
    * the unitized corpus computes each vector's IVF cell (cosine argmax
    * is scale-invariant, so assigning the unit vector equals assigning
    * the raw one) and its m PQ codeword ids, written partitioned BY
    * CELL with only `(id, code)` payloads. A probe then reads only its
    * probed cells' FILES (partition pruning) and those files hold
    * m-byte codes, not dim-float vectors — q102's bytes-touched win
    * composed with PQ's 32× compression, which is what makes the ADC
    * pass nprobe/cells-of-a-32×-smaller-corpus instead of [[pqTopK]]'s
    * whole-corpus scan.
    */
  /** Unit corpus with its IVF cell and the cell RESIDUAL in `vecCol`:
    * r = x̂ − c_cell. One narrow assignment pass + one broadcast join to
    * fetch the centroid vector (metadata-sized build side); the residual
    * replaces the vector column so downstream subspace slicing works
    * unchanged. This is the quantity true IVFADC quantizes (Jégou, Douze
    * & Schmid PAMI 2011 §V): residuals concentrate near zero, so the
    * same m×k codebook budget spends its codewords on a much smaller
    * ball than raw unit directions — lower quantization error per byte.
    */
  private def residualFrame(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val (cids, cvecs) = collectCentroids(centroids, "centroid_id", "cvec")
    val cents = centroids.select(col("centroid_id").as("cell"),
      col("cvec").as("__cvec"))
    unitize(corpus, idCol, vecCol)
      .withColumn("cell", graft.functions.VectorExpressions
        .nearestCentroids(col(vecCol), cids, cvecs, 1).getItem(0))
      .join(broadcast(cents), Seq("cell"))
      .withColumn(vecCol, zip_with(col(vecCol), col("__cvec"),
        (a, b) => (a - b).cast("float")))
      .drop("__cvec")
  }

  /** PQ codebooks trained on CELL RESIDUALS instead of raw unit vectors —
    * the residual half of true IVFADC. Same output shape as
    * [[pqCodebooks]]; pair with `writeClusteredPQ(..., residual = true)`
    * and `ivfAdcTopK(..., residual = true)`.
    */
  def pqCodebooksResidual(corpus: DataFrame, centroids: DataFrame,
      m: Int = 8, k: Int = 16, iterations: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    trainSubspaceCodebooks(residualFrame(corpus, centroids, idCol, vecCol),
      m, k, iterations, idCol, vecCol)

  def writeClusteredPQ(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): Unit =
    encodeClusteredPQ(corpus, centroids, codebooks, idCol, vecCol, residual)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** The `(id, cell, code)` encoding [[writeClusteredPQ]] persists — one
    * narrow pass (plus the broadcast centroid join in residual mode).
    * Cell and code are pure deterministic functions of the vector and the
    * index state (centroids + codebooks), which is what makes incremental
    * maintenance exact: re-encoding a vector ALWAYS reproduces the row a
    * full rebuild would write.
    */
  private def encodeClusteredPQ(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String,
      residual: Boolean): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val sub = cb(0)(0).length
    val codeCols = (0 until m).map { s =>
      graft.functions.VectorExpressions.nearestCentroidsL2(
        slice(col(vecCol), s * sub + 1, sub),
        cb(s).indices.map(_.toLong).toArray, cb(s), 1).getItem(0)
    }
    val assigned =
      if (residual) residualFrame(corpus, centroids, idCol, vecCol)
      else {
        val (cids, cvecs) = collectCentroids(centroids, "centroid_id", "cvec")
        unitize(corpus, idCol, vecCol)
          .withColumn("cell", graft.functions.VectorExpressions
            .nearestCentroids(col(vecCol), cids, cvecs, 1).getItem(0))
      }
    assigned.select(col(idCol), col("cell"), array(codeCols: _*).as("code"))
  }

  /** Incrementally maintain a [[writeClusteredPQ]] index from a SIGNED
    * change feed ([[graft.store.VersionedTable.changeFeed]] shape: full
    * images with `__sign` = +1 new / −1 old) — index freshness without a
    * corpus rebuild. Work is delta-sized: the −1 images' cells and the
    * re-encoded +1 rows (both deterministic re-derivations, so they match
    * what a rebuild would compute) name the TOUCHED cells; only those
    * partitions are read, anti-joined against the feed's ids (both
    * signs, so re-applying a feed upserts rather than duplicates),
    * unioned with the fresh codes, and rewritten through the store's one
    * staged partition rewrite (`UpsertWriter.rewritePartitions`, which
    * also drops a cell the feed fully empties) — untouched cells' files
    * are never opened. Result is row-identical to
    * `writeClusteredPQ` over the post-feed corpus, which the q117 gate
    * and SimilaritySpec assert. The multi-cell mutation is NOT atomic —
    * a caller that must survive a crash mid-fold should track the
    * version the index reflects and run [[repairClusteredPQCells]] when
    * it lags (the [[graft.streaming.StreamingUpsert
    * .runVersionedWithAnnIndex]] discipline).
    */
  def maintainClusteredPQ(spark: SparkSession, path: String,
      centroids: DataFrame, codebooks: DataFrame, feed: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): Unit = {
    val adds = encodeClusteredPQ(feed.where(col("__sign") === 1),
      centroids, codebooks, idCol, vecCol, residual)
    // the −1 images' cells recompute deterministically from the old
    // vectors — zero/null old images were never written, contribute none
    val oldCells = encodeClusteredPQ(feed.where(col("__sign") === -1),
      centroids, codebooks, idCol, vecCol, residual).select("cell")
    val touched = adds.select("cell").unionByName(oldCells)
      .distinct().collect().map(_.getLong(0)) // O(delta cells): metadata
    if (touched.isEmpty) return
    val pruned = spark.read.parquet(path)
      .where(col("cell").isin(touched: _*))
      .withColumn("cell", col("cell").cast("long"))
    // ids whose CURRENT index row must leave: updates/deletes retract
    // their old image via the −1 rows, and the +1 ids are retracted too
    // so re-applying a feed over an already-folded cell upserts instead
    // of duplicating (row-level idempotence; a pure insert's id is
    // normally absent and anti-joins as a no-op)
    val out = UpsertWriter.deletePlan(pruned, feed, Seq(idCol))
      .select(col(idCol), col("cell"), col("code"))
      .unionByName(adds)
    UpsertWriter.rewritePartitions(spark, path, out, "cell", touched)
  }

  /** Rebuild EXACTLY the cells a change feed touches from the
    * authoritative post-feed corpus snapshot — the crash-REPAIR path for
    * [[maintainClusteredPQ]]. If a fold dies mid-mutation (dynamic
    * overwrite and emptied-dir drops are not atomic across cells), the
    * touched cells may hold any mixture of old/new/partial state; since
    * `(cell, code)` is a pure function of the vector and the index state,
    * re-encoding the snapshot and overwriting just those cells restores
    * them to what a full rebuild would write, whatever the damage.
    * O(corpus) compute (one assign+encode scan) but only the touched
    * cells are written — acceptable for a recovery path that never runs
    * in steady state. Idempotent: derived solely from the snapshot, so a
    * crash during repair just reruns it.
    */
  def repairClusteredPQCells(spark: SparkSession, path: String,
      corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      feed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", residual: Boolean = false): Unit = {
    val touched = encodeClusteredPQ(feed, centroids, codebooks, idCol,
      vecCol, residual).select("cell")
      .distinct().collect().map(_.getLong(0)) // both signs' cells
    if (touched.isEmpty) return
    UpsertWriter.rewritePartitions(spark, path,
      encodeClusteredPQ(corpus, centroids, codebooks, idCol, vecCol,
        residual).where(col("cell").isin(touched: _*)), "cell", touched)
  }

  /** Rebuild a clustered-PQ index IN PLACE from the authoritative corpus
    * snapshot — the recovery of last resort (e.g. the gap's change feeds
    * were vacuumed). Every current cell directory plus every cell the
    * snapshot encodes counts as touched, so stale cells drop and fresh
    * ones land through the same staged partition rewrite the
    * incremental fold uses — which never touches root-level files, so a
    * caller's recovery marker survives a crash mid-rebuild (unlike
    * [[writeClusteredPQ]]'s wholesale static overwrite). Idempotent:
    * derived solely from the snapshot.
    */
  def rebuildClusteredPQ(spark: SparkSession, path: String,
      corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): Unit = {
    UpsertWriter.rewritePartitions(spark, path,
      encodeClusteredPQ(corpus, centroids, codebooks, idCol, vecCol,
        residual), "cell",
      UpsertWriter.partitionDirs(java.nio.file.Paths.get(path), "cell").keys)
  }

  /** ADC top-k over a [[writeClusteredPQ]] table. The query assignment
    * yields the probed cell set (query METADATA) as an `isin` partition
    * filter — the scan reads ONLY those directories — and candidates are
    * routed PER QUERY by joining the broadcast `(query_id, cell)` probe
    * pairs before the LUT, so each query scores only its own probed
    * cells' codes, never the pruned union. At nprobe = cells every pair
    * survives the routing and the result is rank-identical to
    * [[pqTopK]] by construction (same [[pqLut]] values, same
    * subspace-ascending partial-sum order — q115's equality gate); at
    * production nprobe the ADC pass touches nprobe/cells of a
    * 32×-compressed corpus.
    */
  def ivfAdcTopK(spark: SparkSession, path: String, codebooks: DataFrame,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val (lut, qUnit) = pqLutAndUnitQueries(queries, cb, idCol, vecCol)
    val lutQueryIds = qUnit.map(_._1).toSet
    val qCellPairs = ivfAssignN(queries, centroids, nprobe, idCol, vecCol)
      .select(col(idCol).cast("long"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      // zero-vector queries have no LUT rows (no direction): drop their
      // routing pairs too, matching pqTopK's inner-join behavior
      .filter { case (q, _) => lutQueryIds.contains(q) }
    // O(metadata) driver state: ≤ nprobe × |queries| (query, cell) pairs
    val probed = qCellPairs.map(_._2).distinct
    // residual scoring: approx cosine = q̂·c_cell + Σ_s q̂_s·r_{s,code_s}
    // — the per-(query, cell) first term rides the routing pairs, built
    // on the driver from the already-collected unit queries + centroids
    val qCells =
      if (!residual)
        spark.createDataFrame(qCellPairs.toSeq.map { case (q, c) =>
          (q, c, 0.0)
        }).toDF("query_id", "cell", "__qdotc")
      else {
        val qv = qUnit.toMap
        val (cids, cvecs) = collectCentroids(centroids, "centroid_id", "cvec")
        val cvByCell = cids.zip(cvecs).toMap
        spark.createDataFrame(qCellPairs.toSeq.map { case (q, c) =>
          val (a, b) = (qv(q), cvByCell(c))
          var d = 0.0
          var i = 0
          while (i < a.length) { d += a(i) * b(i); i += 1 }
          (q, c, d)
        }).toDF("query_id", "cell", "__qdotc")
      }
    val scored = spark.read.parquet(path)
      .where(col("cell").isin(probed: _*))
      .withColumn("cell", col("cell").cast("long"))
      .join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("__qdotc"),
        posexplode(col("code")).as(Seq("subspace", "codeword")))
      .join(broadcast(lut), Seq("query_id", "subspace", "codeword"))
      .groupBy("query_id", "neighbor_id")
      // __qdotc is constant within the group (a corpus row lives in ONE
      // cell); max() reads the constant without joining again. The
      // non-residual path adds literal zero, keeping ONE aggregation
      // shape — and the zero addend does not perturb the float sum
      // (x + 0.0 == x for every non -0.0 double, and sims of -0.0 are
      // not produced by the LUT sum's rank math)
      .agg((max(col("__qdotc")) + sum(col("pdot"))).as("sim"))
    topKRanked(scored, k)
  }

  /** [[ivfAdcTopK]] + exact rerank — the full production IVFADC deploy:
    * cell-pruned ADC shortlist, then only the shortlist's raw vectors
    * fetched and reranked with the exact cosine kernel (shared
    * [[rerankExact]], identical to [[pqTopKRerank]]'s second phase).
    * Recall@k is governed by shortlist recall × cell recall; gate
    * in-query against [[bruteForceTopK]] like every approximate path.
    */
  def ivfAdcTopKRerank(spark: SparkSession, path: String,
      codebooks: DataFrame, centroids: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 1, shortlist: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): DataFrame =
    rerankExact(
      ivfAdcTopK(spark, path, codebooks, centroids, queries, shortlist,
        nprobe, idCol, vecCol, residual)
        .select(col("query_id"), col("neighbor_id")),
      corpus, queries, k, idCol, vecCol)

  /** Collect (subspace, codeword_id, cvec) codebooks to driver arrays:
    * cb(subspace)(codeword) = codeword vector, both indices dense
    * ascending. Metadata-sized, like [[collectCentroids]].
    */
  private def collectCodebooks(codebooks: DataFrame)
      : Array[Array[Array[Double]]] =
    codebooks.select(col("subspace").cast("int"),
        col("codeword_id").cast("long"), col("cvec"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(1)).map(r => toDoubles(r.getSeq[Any](2)))
      }.toArray
}
