package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.warehouse.Models

/** Physical-plan audits: the optimizations the 100 TB design depends on
  * must actually appear in the executed plan — filter/projection pushdown
  * to the parquet scan, broadcast joins for dims, a SINGLE window exchange
  * for the 4-column ffill, and whole-stage codegen around the custom
  * kernels.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("date filter and projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 10.0)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"),
      s"filter not pushed:\n$p")
    // scan must read only the 2 projected columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), s"column not pruned: $readSchema")
  }

  test("dim joins broadcast (no shuffle of the fact side)") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val n = broadcast(spark.read.parquet(s"$sf/nation.parquet"))
    val joined = o.join(n, o("o_custkey") % 25 === n("n_nationkey"))
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("ffill's four CASE columns share ONE Window (one shuffle, one sort)") {
    // parquet-backed input: a local relation would be constant-folded away
    val in = spark.read.parquet(s"$sf/lineitem.parquet").select(
      col("l_shipdate").cast("date").as("date_stamp"),
      col("l_returnflag").as("symbol"),
      col("l_quantity").as("open"), col("l_quantity").as("high"),
      col("l_quantity").as("low"), col("l_quantity").as("close"),
      col("l_orderkey").as("volume"))
    val p = plan(Models.ffillCandles(in, "symbol"))
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"expected a single WindowExec:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly one exchange:\n$p")
    assert(p.linesIterator.count(_.contains("Sort [")) == 1,
      s"expected exactly one sort:\n$p")
  }

  test("custom vector kernel stays inside WholeStageCodegen") {
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorExpressions.dot(col("embedding"), col("embedding")).as("d"))
      .where(col("d") > 0)
    val p = plan(df)
    // WholeStageCodegenExec prints as a `*(n)` prefix on fused operators:
    // both the Project computing vecdot and the Filter must carry it
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("vecdot")),
      s"vecdot not inside a codegen stage:\n$p")
    assert(df.count() > 0)
  }

  test("bucketed tables join WITHOUT a shuffle (co-located join)") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    o.groupBy("o_custkey").count()
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("cust_counts_bucketed")
    // disable auto-broadcast to simulate both sides being at-scale tables
    // (at sf0.001 everything fits the broadcast threshold)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("cust_counts_bucketed"), "o_custkey")
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == o.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("size-guarded LSH verify: over-limit corpus hash-partitions, same result") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val guarded = withForcedShuffle {
      val guarded = graft.operators.Dedup.embeddingNearDupPairsLsh(
        emb, 0.4, nBits = 16, bands = 4)
      val p = plan(guarded)
      assert(!p.contains("BroadcastExchange"),
        s"large-corpus verify must not broadcast the embedding table:\n$p")
      guarded.collect().toSet
    }
    val fast = graft.operators.Dedup.embeddingNearDupPairsLsh(
      emb, 0.4, nBits = 16, bands = 4)
    assert(guarded == fast.collect().toSet)
  }

  test("size-guarded jaccard: over-limit corpus hash-partitions, same result") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val guarded = withForcedShuffle {
      val guarded = graft.operators.Dedup.ngramJaccardPairs(docs, 0.2)
      val p = plan(guarded)
      assert(!p.contains("BroadcastExchange"),
        s"large-corpus sizes join must not broadcast:\n$p")
      guarded.collect().toSet
    }
    val fast = graft.operators.Dedup.ngramJaccardPairs(docs, 0.2)
    assert(guarded == fast.collect().toSet)
  }

  test("embeddingNearDupPairsAuto large path: cell equi-join, no nested loop") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bucketed = graft.operators.Dedup.embeddingNearDupPairsAuto(
      emb, 0.4, allPairsRowLimit = 10, cells = 4, nprobe = 2)
    val p = plan(bucketed)
    // the centroid-scoring join (corpus × k broadcast centroids) is a
    // legitimate BroadcastNestedLoopJoin over a k-row build side; what must
    // NOT appear is an all-pairs join of the corpus with itself — the pair
    // generation has to be an equi-join on the cell key
    assert(!p.contains("CartesianProduct"),
      s"bucketed near-dup must not be an all-pairs join:\n$p")
    assert(p.contains("Join [cell"),
      s"pair generation must equi-join on the cell key:\n$p")
    val pairs = bucketed.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.operators.Dedup.embeddingNearDupPairs(emb, 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(exact), "bucketed pairs must verify exactly")
    assert(pairs.nonEmpty)
  }

  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hub band-key partition in the banded LSH pair joins") {
    import spark.implicits._
    // hub fixture: 600 of 800 docs share identical text, so ONE (band, key)
    // bucket holds 600 banded rows per band and the pair join's sort-merge
    // task for that bucket dwarfs the median partition — the skew shape a
    // boilerplate-heavy corpus produces at 100 TB
    val docsLocal = ((0L until 600L).map(i =>
        (i, "common boiler plate text shared by every hub document here")) ++
      (600L until 800L).map(i =>
        (i, s"unique text number $i with alpha beta gamma delta epsilon")))
      .toDF("doc_id", "text")
    // parquet-backed input: a local relation would be constant-folded away
    // and sized at zero bytes, starving the skew detector of statistics
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_skew_audit_").toString + "/docs"
    docsLocal.write.parquet(tmp)
    val docs = spark.read.parquet(tmp)
    val skewConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the SMJ path
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // enough reduce partitions that the hub (band,key) buckets land in a
      // few of them while the median partition stays near-empty — the shape
      // skew detection (size > max(threshold, factor·median)) keys on
      "spark.sql.shuffle.partitions" -> "16",
      // the fixture's shuffle is KB-scale; scale the skew thresholds down
      // from their MB-scale production defaults (256 MB / 64 MB)
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b")
    def pairSets(extra: (String, String)*)
        : (Set[(Long, Long)], Set[(Long, Long)], String, String) =
      withConfs(skewConfs ++ extra: _*) {
        val mh = graft.operators.Dedup.minhashLshPairs(docs)
        val sh = graft.operators.Dedup.simhashNearDupPairs(docs, maxHamming = 2)
        // collect the SAME DataFrame instance that gets plan-inspected: a
        // .select() spawns a fresh QueryExecution and the original's
        // adaptive plan would stay isFinalPlan=false (never executed)
        val mhSet = mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val shSet = sh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // executedPlan AFTER the action = AQE's final adaptive plan
        (mhSet, shSet, plan(mh), plan(sh))
      }
    val (mhSkew, shSkew, mhPlan, shPlan) = pairSets()
    assert(mhPlan.contains("skew=true"),
      s"AQE skew-join did not fire on the minhash band join:\n$mhPlan")
    assert(shPlan.contains("skew=true"),
      s"AQE skew-join did not fire on the simhash band join:\n$shPlan")
    // mitigation must not change a single pair
    val (mhPlain, shPlain, _, _) =
      pairSets("spark.sql.adaptive.skewJoin.enabled" -> "false")
    assert(mhSkew == mhPlain && shSkew == shPlain)
    // sanity: the hub clique is actually found
    assert(mhSkew.contains((0L, 1L)) && shSkew.contains((0L, 1L)))
  }

  test("IVF cell assignment is narrow: no Exchange between scan and cell") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = graft.operators.Similarity.kmeans(emb, k = 4, iterations = 1)
    val assigned = graft.operators.Similarity.ivfAssign(emb, centroids)
    val p = plan(assigned)
    assert(!p.contains("Exchange"),
      s"cell assignment must be a narrow map over the scan:\n$p")
    assert(!p.contains("Join"), s"no join either — centroids are driver state:\n$p")
    assert(assigned.select("cell").distinct().count() > 1)
  }

  test("cell-clustered layout prunes the ANN scan to probed partitions") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = graft.operators.Similarity.kmeans(emb, 8, 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_layout_").toString + "/emb"
    graft.operators.Similarity.writeClustered(emb, centroids, path)
    val totalFiles = spark.read.parquet(path)
      .select(input_file_name()).distinct().count()
    val probes = emb.where(col("vec_id") < 2)
    val ann = graft.operators.Similarity
      .ivfTopKClustered(spark, path, probes, centroids, k = 3, nprobe = 2)
    val p = plan(ann)
    // the probed cell set must reach the scan as a PARTITION filter (file
    // pruning), not a post-scan Filter
    assert(p.contains("PartitionFilters: [cell"),
      s"probed cells must prune partitions:\n$p")
    val probedCells = graft.operators.Similarity
      .ivfAssignN(probes, centroids, 2)
      .select("cell").distinct().collect().map(_.getLong(0))
    assert(probedCells.length < 8, "fixture must not probe every cell")
    val scannedFiles = spark.read.parquet(path)
      .where(col("cell").isin(probedCells: _*))
      .select(input_file_name()).distinct().count()
    assert(scannedFiles < totalFiles,
      s"pruned scan reads $scannedFiles of $totalFiles files")
    // the layout changes which bytes are read, not a single result row
    val plainRows = graft.operators.Similarity
      .ivfTopK(emb, probes, centroids, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val clusteredRows = ann.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(clusteredRows == plainRows)
  }

  test("packSequences plans no Window: prefix sum replaces the shard sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val packed = graft.operators.Corpus.packSequences(
      docs, "lang", "doc_id", length(col("text")).cast("long"), 2048L)
    val p = plan(packed)
    // a shard is a language — a per-shard window would sort most of a
    // monolingual corpus in ONE task; the distributed prefix sum plans as
    // a scan of the offset-seeded RDD, with no Window operator anywhere
    assert(!p.contains("Window"), s"shard-sized window crept back:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the prefix-sum RDD to feed the plan:\n$p")
    assert(packed.select("pack_id").where(col("pack_id").isNull).count() == 0)
  }

  test("shuffleShard plans no Window: prefix-sum ordinals, no shard sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id")
    val sharded = graft.operators.Corpus.shuffleShard(
      docs, "doc_id", nShards = 4, seed = "audit")
    val p = plan(sharded)
    // a row_number().over(partitionBy(shard)) would rank each shard in
    // one task; the within-shard ordinal comes from the same prefix-sum
    // RDD shape packSequences uses — no Window operator anywhere
    assert(!p.contains("Window"), s"shard-sized window crept back:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the prefix-sum RDD to feed the plan:\n$p")
    assert(sharded.where(col("pos").isNull).count() == 0)
  }

  test("IVFADC prunes the code scan to probed cells and never reads vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = graft.operators.Similarity.kmeans(emb, 8, 2)
    val cb = graft.operators.Similarity.pqCodebooks(emb, m = 4, k = 8,
      iterations = 1)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfadc_").toString + "/idx"
    graft.operators.Similarity.writeClusteredPQ(emb, centroids, cb, path)
    val probes = emb.where(col("vec_id") < 2)
    val ann = graft.operators.Similarity.ivfAdcTopK(spark, path, cb,
      centroids, probes, k = 3, nprobe = 2)
    val p = plan(ann)
    // probed cells must prune FILES (partition filter), and the pruned
    // scan must read only (id, code) — the 32×-compression win is void if
    // the ADC pass still reads an embedding column
    assert(p.contains("PartitionFilters: [cell"),
      s"probed cells must prune partitions:\n$p")
    val codeScan = p.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("code"))
      .getOrElse(fail(s"no code scan in plan:\n$p"))
    assert(!codeScan.contains("embedding"),
      s"ADC scan must not read raw vectors: $codeScan")
    // candidate routing + LUT both broadcast — the code side never shuffles
    // before the partial top-k aggregate
    assert(p.contains("partial_topk_by_score"), s"two-phase rank missing:\n$p")
    assert(ann.count() > 0)
  }

  test("delete is a broadcast anti-join: the target is never shuffled") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val doomed = orders.where(col("o_custkey") % 7 === 0).select("o_custkey")
    val p = plan(graft.store.UpsertWriter.deletePlan(
      orders, doomed, Seq("o_custkey")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast LEFT ANTI join:\n$p")
    // the key-set side dedups behind the BroadcastExchange (small, fine);
    // the TARGET branch — printed with the ':' tree prefix — must go scan →
    // join with no Exchange
    val targetBranch = p.linesIterator
      .filter(l => l.trim.startsWith(":")).mkString("\n")
    assert(!targetBranch.contains("Exchange"),
      s"the target side of a delete must not shuffle:\n$p")
  }

  test("heavy-hitter sketch aggregates partially map-side") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val sk = toks.agg(
      graft.operators.Sketches.heavyHitterSketch(8)(col("token")))
    val p = plan(sk)
    // typed-Aggregator UDAF plans as ObjectHashAggregate: a partial node
    // below the exchange (k counters per partition travel, not the tokens)
    // and a merge node above it
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) == 2,
      s"expected partial+final ObjectHashAggregate pair:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"only the k-counter sketches should converge on one partition:\n$p")
  }

  test("z-order layout costs exactly one range exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val laid = li
      .withColumn("__z",
        graft.store.ZOrder.zValueN(Seq(col("l_partkey"), col("l_suppkey"))))
      .repartitionByRange(8, col("__z"))
      .sortWithinPartitions("__z")
    val p = plan(laid)
    assert(p.linesIterator.count(_.contains("Exchange rangepartitioning")) == 1,
      s"expected a single range exchange:\n$p")
    // the interleave is built-in arithmetic — no UDF node may appear
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"z-value must stay codegen'd:\n$p")
  }

  test("ANN top-k ranks via bounded partial aggregate, not a per-query window") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") < 3)
    val df = graft.operators.Similarity.bruteForceTopK(emb, q, k = 3)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    // two-phase rank: the map side must PARTIALLY aggregate each query's
    // candidates to a bounded k-entry heap before the shuffle — a
    // per-query row_number window would instead sort the query's whole
    // (corpus-sized) candidate set in one task
    assert(p.contains("partial_topk_by_score"),
      s"expected a map-side partial top-k heap:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"typed top-k heap should run in ObjectHashAggregate:\n$p")
    assert(!p.contains("Window "), s"window rank must be gone:\n$p")
    assert(df.count() == 9)
  }

  test("span dedup is linear: two hash exchanges, no join anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.operators.Dedup.duplicatedSpans(docs, 8))
    // one exchange on the shingle digest (window count), one on the doc id
    // (extent merge); the islands groupBy must REUSE the doc partitioning
    // rather than add a third
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected exactly two hash exchanges:\n$p")
    // duplicated shingles come from a window count, never a self-join — no
    // candidate pair may materialize
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"span dedup must not join:\n$p")
  }

  test("q84 checkpoints the token counts so the corpus is scanned once") {
    val df = SparkEntry.queries("q84_heavy_hitters")(spark, sf)
    val p = plan(df)
    // the exact counts frame is local-checkpointed (the one corpus scan
    // happens there) and feeds the weighted sketch, the totals, and the
    // heavy set — the returned plan must read the checkpointed RDD, never
    // rescan documents.parquet
    assert(p.contains("Scan ExistingRDD"),
      s"expected the token-count frame to be checkpointed:\n$p")
    assert(!p.contains("documents.parquet"),
      s"corpus must not be rescanned after the checkpoint:\n$p")
    assert(df.collect()(0).getBoolean(2) && df.collect()(0).getBoolean(3))
  }

  test("changeFeed pays exactly ONE pk join; images explode off it narrowly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cf_audit_").toString + "/t"
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.store.VersionedTable.write(
      base.where(col("o_orderkey") % 2 === 0), root)
    graft.store.VersionedTable.write(
      base.where(col("o_orderkey") % 3 === 0), root)
    val feed = graft.store.VersionedTable
      .changeFeed(spark, root, 0L, 1L, Seq("o_orderkey"))
    val p = plan(feed)
    // a union-of-filtered-projections formulation lets Catalyst split the
    // full-outer into a LeftOuter + RightOuter pair (each snapshot
    // scanned and shuffled twice at scale); the explode form must keep it
    // to a single join and a single Generate
    assert(p.linesIterator.count(_.contains("Join")) == 1,
      s"expected exactly one join:\n$p")
    assert(p.linesIterator.count(_.contains("Generate explode")) == 1,
      s"expected one explode of the signed images:\n$p")
    // correctness unchanged: update old/new, delete, insert all present
    val rows = feed.groupBy("__sign").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(-1L, 1L) && rows(-1L) > 0 && rows(1L) > 0)
  }

  test("inverted index gates posting ACCUMULATION behind the df-cap semi-join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idx = graft.operators.Retrieval
      .invertedIndex(docs, "doc_id", "text", n = 3, postingsCap = 16)
    val p = plan(idx)
    // a result-side when() would still buffer a corpus-sized posting list
    // for stop terms: the under-cap filter must appear as a SEMI join
    // upstream of the collect_list aggregate, so over-cap terms never
    // reach its buffers at all
    assert(p.contains("collect_list"), s"posting aggregate missing:\n$p")
    assert(p.contains("LeftSemi"),
      s"df-cap gate must filter terms BEFORE the posting aggregate:\n$p")
  }

  test("samplePerGroup ranks via bounded partial aggregate, not a window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.operators.Corpus
      .samplePerGroup(docs, "lang", "doc_id", 5))
    // a group at corpus scale is data-sized — the per-group rank must be
    // the two-phase bounded heap, never a one-task-per-group window sort
    assert(p.contains("partial_topk_by_score"), s"two-phase rank missing:\n$p")
    assert(!p.contains("Window "), s"window rank must be gone:\n$p")
  }

  test("q54 per-segment top-k ranks via bounded partial aggregate") {
    val p = plan(SparkEntry.queries("q54_topk_per_group")(spark, sf))
    assert(p.contains("partial_topk_by_score"), s"two-phase rank missing:\n$p")
    assert(!p.contains("Window "), s"window rank must be gone:\n$p")
  }

  test("dedup index add-batch: banded candidates only, array-set verify") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val none = docs.limit(0)
    val (accepted, _) = graft.operators.Dedup.dedupIndexAddBatch(
      graft.operators.Dedup.dedupIndexKeys(none), docs)
    val p = plan(accepted)
    // candidates must come from band-key equi-joins — an all-pairs
    // product anywhere makes the batch quadratic
    assert(!p.contains("CartesianProduct"), s"all-pairs crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs crept in:\n$p")
    // the jaccard verify runs on the persisted witness ARRAYS with ONE
    // fused jaccard_meets kernel per candidate pair (r18) — a Generate
    // in the plan means the explode → join → three-aggregations shape
    // (and its ~6 extra exchanges per batch) crept back
    assert(p.contains("jaccard_meets"),
      s"verify must run the fused witness-array kernel:\n$p")
    assert(!p.contains("Generate"),
      s"no shingle explode may survive the array-set verify:\n$p")
    assert(accepted.count() > 0)
  }

  test("dedup index: accepted TEXT is never read after the admission batch") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_didx_pin_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    // batch 1 commits an accepted state; the recorded run is one batch
    // on a fresh checkpoint that judges the odd docs against it
    val (first, schema) = SparkEntry.slicedBacklog(spark, s"$root/a",
      Seq(docs.where(col("doc_id") % 2 === 0)))
    graft.streaming.StreamingDedupIndex.runAvailableNow(spark, first,
      schema, s"$root/state", s"$root/ckpt1")
    val (second, _) = SparkEntry.slicedBacklog(spark, s"$root/b",
      Seq(docs.where(col("doc_id") % 2 === 1)))
    val rec = new graft.tools.Profile.Recorder(spark)
    val run = try rec.record(graft.streaming.StreamingDedupIndex
      .runAvailableNow(spark, second, schema, s"$root/state",
        s"$root/ckpt2"))._2 finally rec.close()
    assert(run.streams.flatMap(_.jobsPerBatch).size == 1, run.jobs)
    assert(graft.streaming.StreamingDedupIndex
      .readState(spark, s"$root/state")._3 == 2L)
    // the scan nodes of the recorded (formatted) plans that read the
    // accepted state
    val acceptedScans = run.executions.flatMap(_.plan.split("\n\n"))
      .map(_.trim).filter { b =>
        b.matches("(?s)\\(\\d+\\) Scan parquet.*") &&
          b.linesIterator.exists(l =>
            l.startsWith("Location:") && l.contains("/accepted"))
      }
    // the replay guard reads the accepted state — but only its id
    // column; the near-dup verify must run on the keys state's
    // persisted `hashes` witness sets, never on accepted text
    assert(acceptedScans.nonEmpty, "expected an accepted-state scan " +
      "(the id replay guard)")
    acceptedScans.foreach { b =>
      assert(b.linesIterator.contains("ReadSchema: struct<doc_id:bigint>"),
        s"accepted state must be pruned to the id column, got:\n$b") }
  }

  test("selectToTokenBudget plans no Window: no single-task global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val p = plan(graft.operators.Corpus.selectToTokenBudget(docs,
      col("n_chars").cast("double"), "doc_id", col("n_chars"), 5000L))
    assert(!p.contains("Window"), s"global-sort window crept back:\n$p")
  }

  test("harness-wired session rewrites size(bpe_encode) to the count kernel") {
    // newSession + install = exactly what Verify/Bench main do; the
    // shared test session stays rule-free so kernel-semantics suites
    // keep observing the un-rewritten plans
    val s = spark.newSession()
    GraftExtensions.install(s)
    val pieces = Seq("ab" -> 1, "a" -> 2, "b" -> 3)
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val naive = docs.select(
      size(graft.functions.TextFunctions.bpeEncode(col("text"), pieces))
        .as("n"))
    val opt = naive.queryExecution.optimizedPlan
    assert(opt.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.BpeCountExpr])),
      s"BpeCountRewrite did not fire on the harness-wired session:\n$opt")
    assert(!opt.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.BpeEncodeExpr])),
      s"encode expression survived the rewrite:\n$opt")
    // and the rewrite must NOT leak into the shared, rule-free session
    val plain = docs.sparkSession
    assert(plain eq s, "docs bind to the new session") // sanity on setup
    val bare = spark.read.parquet(s"$sf/documents.parquet")
      .select(size(graft.functions.TextFunctions.bpeEncode(col("text"),
        pieces)).as("n"))
    assert(bare.queryExecution.optimizedPlan.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.BpeEncodeExpr])),
      "rule leaked into the shared session")
  }

  test("BpeCountRewrite descends into subquery plans") {
    // the spelling inside a SubqueryExpression: plain
    // transformAllExpressions never enters a subquery's plan, so this
    // pins the ...WithSubqueries variant. A non-correlated SCALAR
    // subquery is the surviving case — EXISTS/IN are de-subqueried
    // into semi-joins by RewritePredicateSubquery before user-provided
    // rules run, but ScalarSubquery rides the optimized plan all the
    // way to physical planning.
    val s = spark.newSession()
    GraftExtensions.install(s)
    val pieces = Seq("ab" -> 1, "a" -> 2, "b" -> 3)
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tot = docs.agg(
      sum(size(graft.functions.TextFunctions.bpeEncode(col("text"), pieces))
        .cast("long")).as("t")).scalar()
    val q = docs.select(col("doc_id")).filter(tot > 0L)
    val opt = q.queryExecution.optimizedPlan
    // traverse the subquery plans too — that is where the kernel lives
    val subExprs = opt.collectWithSubqueries { case n => n.expressions }
      .flatten
    assert(subExprs.exists(_.exists(
        _.isInstanceOf[graft.functions.BpeCountExpr])),
      s"rewrite did not reach the scalar subquery plan:\n$opt")
    assert(!subExprs.exists(_.exists(
        _.isInstanceOf[graft.functions.BpeEncodeExpr])),
      s"encode expression survived inside the subquery:\n$opt")
    // and the rewritten query still answers: every doc row comes back
    assert(q.count() == docs.where(col("text").isNotNull).count()
      || q.count() == docs.count())
  }
}
