package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, size, udf, when, xxhash64}

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  Quick Brown fox jumps over the lazy dog"), // ws/case variant
    (3L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (4L, "completely different content here entirely"),
    (5L, "the quick brown fox jumps over a sleepy dog")   // near-dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized content, keeps min id") {
    val out = Dedup.exact(docs).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    // 1 and 3 identical; 2 differs only by case+whitespace -> same after norm
    assert(out.contains((1L, 3L)))
    assert(out.map(_._2).sum == 5)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // identical docs always collide
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // disjoint text
  }

  test("ngram Jaccard: identical docs = 1.0, near-dups above 0.3, disjoint absent") {
    val out = Dedup.ngramJaccardPairs(docs, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val m = out.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m((1L, 3L)) == 1.0)
    assert(m.contains((1L, 5L)) && m((1L, 5L)) < 1.0)
    assert(!m.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs share a signature; disjoint docs differ") {
    val sigs = Dedup.simhash(docs).orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(3L))
    assert(sigs(1L) != sigs(4L))
  }

  test("LSH embedding near-dup: perfect precision, high recall on near-identical vectors") {
    // 20 base vectors + a near-copy of each (cos > 0.99) + noise vectors
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val bases = (0 until 20).map(i => (i.toLong, vec()))
    val copies = bases.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.01f * rng.nextFloat()))
    }
    val emb = (bases ++ copies).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupPairs(emb, threshold = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, threshold = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))              // precision 1 (exact verify)
    assert(lsh.size >= exact.size * 8 / 10,  // near-identical pairs collide
      s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("nearDupClusters: chained pairs collapse to the smallest reachable id") {
    val ids = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2-3, pair 5-6, isolated 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val roots = Dedup.nearDupClusters(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // a 200-hop chain is the worst case for diameter-bound propagation
    // (plain min-label needs 200 rounds); alternating large-star/small-star
    // must collapse it within the O(log n) default budget
    val n = 200L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val idsN = (1L to n).map(Tuple1(_)).toDF("doc_id")
    val cr = Dedup.nearDupClusters(idsN, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cr.length == n)
    assert(cr.forall(_._2 == 1L), "every chain node must label to the min id")
    // an exhausted round budget must fail loudly, never return partial labels
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(idsN, chain, maxIters = 1)
    }
    // pairs mentioning ids OUTSIDE the universe (stale pair table,
    // superset corpus) must not leak foreign roots: id 0 is the pair-graph
    // minimum but absent from ids, so the 1-2-3 cluster still roots at 1
    val stale = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val scoped = Dedup.nearDupClusters(ids, stale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scoped(1L) == 1L && scoped(2L) == 1L && scoped(3L) == 1L,
      s"foreign id must not become a cluster root: $scoped")
  }

  test("decontaminate drops exactly the train docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox" w/ eval
      (2L, "completely different words here"),
      (3L, "lazy dogs sleep all day")      // shares "lazy dogs sleep" w/ eval
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "a quick brown fox appeared"),
      (101L, "lazy dogs sleep often")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval, shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
    // disjoint eval removes nothing
    val none = Dedup.decontaminate(train,
      Seq((200L, "zz yy xx ww vv uu")).toDF("doc_id", "text"), shingleN = 3)
    assert(none.count() == 3)
  }

  test("decontaminateTokenNgrams counts eval-overlapping token windows") {
    // n=3 over id arrays: doc 1 contains eval's (1,2,3) twice and (2,3,9)
    // zero times -> n_hits 2; doc 2 shares nothing; doc 3 is shorter than
    // n (no windows); doc 4 has null ids (dropped, not an error)
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 1, 2, 3))), // windows: 123,231,312,123
      (2L, Some(Seq(7, 7, 7, 7))),
      (3L, Some(Seq(1, 2))),
      (4L, None)
    ).toDF("doc_id", "ids")
    val ev = Seq(
      (100L, Some(Seq(0, 1, 2, 3))), // eval windows: 012, 123
      (101L, Some(Seq(5, 6)))        // too short: no windows
    ).toDF("doc_id", "ids")
    val got = Dedup.decontaminateTokenNgrams(train, ev, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L))
    // token windows are id-sequence equality, not substring equality:
    // ids (1, 23) must NOT match (12, 3)
    val t2 = Seq((1L, Some(Seq(1, 23)))).toDF("doc_id", "ids")
    val e2 = Seq((9L, Some(Seq(12, 3)))).toDF("doc_id", "ids")
    assert(Dedup.decontaminateTokenNgrams(t2, e2, n = 2).count() == 0)
  }

  test("hashed-window token decontamination equals the string-window form") {
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 1, 2, 3))),
      (2L, Some(Seq(7, 7, 7, 7))),
      (3L, Some(Seq(1, 2))),
      (4L, None),
      (5L, Some(Seq(0, 1, 2, 3, 4)))
    ).toDF("doc_id", "ids")
    val ev = Seq(
      (100L, Some(Seq(0, 1, 2, 3))),
      (101L, Some(Seq(5, 6)))
    ).toDF("doc_id", "ids")
    val exact = Dedup.decontaminateTokenNgrams(train, ev, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashed = Dedup.decontaminateTokenNgrams(train, ev, n = 3,
        hashWindows = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed == exact && exact == Map(1L -> 2L, 5L -> 2L))
    // the fingerprint is position-sensitive and boundary-sensitive:
    // ids (1, 23) must not hash-match (12, 3), and a permuted window
    // must not match its sorted twin
    val t2 = Seq((1L, Some(Seq(1, 23))), (2L, Some(Seq(3, 2)))
    ).toDF("doc_id", "ids")
    val e2 = Seq((9L, Some(Seq(12, 3))), (10L, Some(Seq(2, 3)))
    ).toDF("doc_id", "ids")
    assert(Dedup.decontaminateTokenNgrams(t2, e2, n = 2,
      hashWindows = true).count() == 0)
    // negative ids (valid ints) round-trip the widening mask correctly:
    // -1 must collide with itself across sides, not with 0xffffffff-free
    // encodings of other values
    val t3 = Seq((1L, Some(Seq(-1, 5))), (2L, Some(Seq(4294967295L.toInt, 5)))
    ).toDF("doc_id", "ids")
    val e3 = Seq((9L, Some(Seq(-1, 5)))).toDF("doc_id", "ids")
    val got3 = Dedup.decontaminateTokenNgrams(t3, e3, n = 2,
        hashWindows = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L)) // -1 IS 0xffffffff as int
  }

  test("contamination attribution reports per-eval-doc quoting") {
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 4))), // windows (1,2,3), (2,3,4)
      (2L, Some(Seq(1, 2, 3))),    // window (1,2,3)
      (3L, Some(Seq(9, 9, 9, 9)))  // quotes nothing
    ).toDF("doc_id", "ids")
    val ev = Seq(
      (100L, Some(Seq(1, 2, 3))),          // quoted by docs 1 and 2
      (101L, Some(Seq(2, 3, 4))),          // quoted by doc 1 only
      // (1,2,3) appears TWICE in this doc — attribution keeps both
      // occurrences (no distinct on the eval side), so pairs double
      (102L, Some(Seq(1, 2, 3, 1, 2, 3))),
      (103L, Some(Seq(7, 8, 9)))           // clean benchmark: absent
    ).toDF("doc_id", "ids")
    for (hw <- Seq(false, true);
         // the forced leg takes the shuffled-join fallback the oversized
         // doc-attributed eval relation takes at scale — the branch must
         // report identically to the broadcast path
         forced <- Seq(false, true)) {
      def attribution() = Dedup.contaminationByEvalDoc(train, ev, n = 3,
        hashWindows = hw)
      val rows = if (!forced) attribution().collect() else withForcedShuffle {
        val out = attribution()
        val p = out.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastExchange"),
          s"the forced leg must not broadcast the eval side:\n$p")
        out.collect()
      }
      val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == Map(100L -> ((2L, 2L)), 101L -> ((1L, 1L)),
        102L -> ((2L, 4L))), s"hashWindows=$hw forcedShuffle=$forced")
    }
  }

  test("coverage decontamination unions overlapping matched spans") {
    val train = Seq(
      // windows (1,2,3)@1 and (2,3,4)@2 both match: 2 hits but the
      // union covers positions {1,2,3,4} — 4, not 6 (the double-count
      // trap)
      (1L, Some(Seq(1, 2, 3, 4, 5))),
      (2L, Some(Seq(9, 9, 9))),    // clean: absent from the output
      (3L, Some(Seq(2, 3, 4)))     // the doc IS the benchmark: fully covered
    ).toDF("doc_id", "ids")
    val ev = Seq((100L, Some(Seq(1, 2, 3, 4)))).toDF("doc_id", "ids")
    for (hw <- Seq(false, true)) {
      val got = Dedup.decontaminateTokenCoverage(train, ev, n = 3,
          hashWindows = hw)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == Map(1L -> ((2L, 4L, 5L)), 3L -> ((1L, 3L, 3L))))
    }
  }

  test("delta decontamination reconstructs the full recompute for a " +
      "grown eval suite") {
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 4))), // hits old {1 2 3} AND delta {2 3 4}
      (2L, Some(Seq(7, 8, 9))),    // clean either way
      (3L, Some(Seq(1, 2, 3)))     // hits old only
    ).toDF("doc_id", "ids")
    val evOld = Seq((100L, Some(Seq(1, 2, 3)))).toDF("doc_id", "ids")
    // the new benchmark SHARES window (1,2,3) with the old suite — the
    // anti-join must keep only the genuinely novel (2,3,4), or doc 1
    // and doc 3 double-count
    val evNew = Seq((200L, Some(Seq(1, 2, 3, 4)))).toDF("doc_id", "ids")
    val evAll = evOld.unionByName(evNew)
    val full = Dedup.decontaminateTokenNgrams(train, evAll, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (hw <- Seq(false, true)) {
      val oldHits = Dedup.decontaminateTokenNgrams(train, evOld, n = 3,
        hashWindows = hw)
      val merged = Dedup.decontaminateTokenNgramsDelta(train, oldHits,
          evOld, evNew, n = 3, hashWindows = hw)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == full && full == Map(1L -> 2L, 3L -> 1L))
    }
    // an all-overlap addition (no novel windows) must leave the hit
    // table exactly as it was
    val oldHits = Dedup.decontaminateTokenNgrams(train, evOld, n = 3)
    val same = Dedup.decontaminateTokenNgramsDelta(train, oldHits,
        evOld, evOld, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same == Map(1L -> 1L, 3L -> 1L))
  }

  test("coverage-thresholded gate drops the benchmark page, keeps the " +
      "one-quote doc") {
    val train = Seq(
      // doc 1 IS the benchmark: 3 tokens, fully covered → 100% > 80%
      (1L, Some(Seq(1, 2, 3))),
      // doc 2 quotes one benchmark window inside a longer doc:
      // covered 3 of 10 tokens = 30% → kept (but it DID flag on hits)
      (2L, Some(Seq(9, 9, 9, 1, 2, 3, 9, 9, 9, 9))),
      (3L, Some(Seq(7, 8, 7, 8))), // clean
      (4L, None)                   // null ids: unmatched, kept
    ).toDF("doc_id", "ids")
    val ev = Seq((100L, Some(Seq(1, 2, 3)))).toDF("doc_id", "ids")
    for (hw <- Seq(false, true)) {
      val kept = Dedup.decontaminateByCoverage(train, ev, n = 3,
          maxCoverageBp = 8000L, hashWindows = hw)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 3L, 4L))
      // threshold at 0 bp: ANY coverage drops (the hit-count policy)
      val strict = Dedup.decontaminateByCoverage(train, ev, n = 3,
          maxCoverageBp = 0L, hashWindows = hw)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(strict == Set(3L, 4L))
    }
    intercept[IllegalArgumentException] {
      Dedup.decontaminateByCoverage(train, ev, n = 3,
        maxCoverageBp = 10001L)
    }
  }

  test("delta decontamination refuses a mixed- or unmarked-" +
      "representation hit table loudly") {
    val train = Seq((1L, Some(Seq(1, 2, 3, 4)))).toDF("doc_id", "ids")
    val evOld = Seq((100L, Some(Seq(1, 2, 3)))).toDF("doc_id", "ids")
    val evNew = Seq((200L, Some(Seq(2, 3, 4)))).toDF("doc_id", "ids")
    // string-counted table merged at hashWindows=true: the silent
    // under-flag channel — must fail up front, before any corpus work
    val stringHits = Dedup.decontaminateTokenNgrams(train, evOld, n = 3)
    val mixed = intercept[IllegalArgumentException] {
      Dedup.decontaminateTokenNgramsDelta(train, stringHits,
        evOld, evNew, n = 3, hashWindows = true)
    }
    assert(mixed.getMessage.contains("representation 'string'"))
    // a hand-built table with no marker at all is equally refused
    val unmarked = intercept[IllegalArgumentException] {
      Dedup.decontaminateTokenNgramsDelta(train,
        Seq((1L, 1L)).toDF("doc_id", "n_hits"), evOld, evNew, n = 3)
    }
    assert(unmarked.getMessage.contains("no 'graft.tokenWindowRepr'"))
    // the marker survives a parquet round-trip — the q165 shape, where
    // the persisted hit table is re-read in a later maintenance run
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_repr_").toString
    val hashedHits = Dedup.decontaminateTokenNgrams(train, evOld, n = 3,
      hashWindows = true)
    hashedHits.write.parquet(s"$tmp/hits")
    val merged = Dedup.decontaminateTokenNgramsDelta(train,
        spark.read.parquet(s"$tmp/hits"), evOld, evNew, n = 3,
        hashWindows = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 2L))
  }

  test("evalWindowHashSet + dropContaminatedStream drop exactly the " +
      "docs the exact operator flags") {
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 1, 2, 3))), // shares window (1,2,3)
      (2L, Some(Seq(7, 7, 7, 7))),
      (3L, Some(Seq(1, 2))),             // shorter than n: clean
      (4L, None),                        // null ids pass through
      (5L, Some(Seq(0, 1, 2, 3, 4)))     // shares (0,1,2) and (1,2,3)
    ).toDF("doc_id", "ids")
    val ev = Seq((100L, Some(Seq(0, 1, 2, 3)))).toDF("doc_id", "ids")
    val hashes = Dedup.evalWindowHashSet(ev, n = 3)
    assert(hashes.length == 2 && hashes.sorted.sameElements(hashes))
    val kept = Dedup.dropContaminatedStream(train, hashes, n = 3)
      .select("doc_id").as[Long].collect().toSet
    val flagged = Dedup.decontaminateTokenNgrams(train, ev, n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L) && flagged == Set(1L, 5L) &&
      (kept & flagged).isEmpty)
    // empty eval set: everything (incl. the null-ids row) passes
    assert(Dedup.dropContaminatedStream(train, Array.empty[Long], n = 3)
      .count() == 5)
  }

  test("bloom-prefiltered token decontamination equals the exact operator") {
    val train = Seq(
      (1L, Some(Seq(1, 2, 3, 1, 2, 3))),
      (2L, Some(Seq(7, 7, 7, 7))),
      (3L, Some(Seq(1, 2))),
      (4L, None),
      (5L, Some(Seq(0, 1, 2, 3, 4)))
    ).toDF("doc_id", "ids")
    val ev = Seq(
      (100L, Some(Seq(0, 1, 2, 3))),
      (101L, Some(Seq(5, 6)))
    ).toDF("doc_id", "ids")
    val exact = Dedup.decontaminateTokenNgrams(train, ev, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fpp 0.5 forces false positives through the bloom — the exact
    // verify join must kill every one of them
    val bloomed = Dedup.decontaminateTokenNgramsBloom(train, ev, n = 3,
        fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloomed == exact && exact == Map(1L -> 2L, 5L -> 2L))
    // the composed path (bloom over int64 fingerprints) must also
    // equal exact — false positives from the deliberately terrible fpp
    // AND any hash collision both die in the verify join
    val hashedBloom = Dedup.decontaminateTokenNgramsBloom(train, ev, n = 3,
        fpp = 0.5, hashWindows = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashedBloom == exact)
    // empty eval: no contaminated docs, schema intact (both reprs)
    val emptyEv = Seq.empty[(Long, Option[Seq[Int]])].toDF("doc_id", "ids")
    val none = Dedup.decontaminateTokenNgramsBloom(train, emptyEv, n = 3)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("doc_id", "n_hits"))
    assert(Dedup.decontaminateTokenNgramsBloom(train, emptyEv, n = 3,
      hashWindows = true).count() == 0)
  }

  test("decontaminateBloom evaluates the eval side's lineage once") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely different words here"),
      (3L, "lazy dogs sleep all day")
    ).toDF("doc_id", "text")
    // every evaluation of the eval set's lineage adds its row count
    val evaluated = spark.sparkContext.longAccumulator("eval_rows")
    val tick = udf { (t: String) => evaluated.add(1L); t }.asNondeterministic()
    def eval(f: Column => Column) = spark.range(0, 2).select(
      col("id").as("doc_id"),
      f(when(col("id") === 0, lit("a quick brown fox appeared"))
        .otherwise(lit("lazy dogs sleep often"))).as("text"))
    val bloomed = Dedup.decontaminateBloom(train, eval(c => tick(c)),
        shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(evaluated.value == 2L,
      s"the eval set's 2 rows were evaluated ${evaluated.value} times")
    assert(bloomed == Dedup.decontaminate(train, eval(identity), shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted)
    assert(bloomed == Seq(2L))
  }

  test("bloom-prefiltered decontamination equals the exact operator") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely different words here"),
      (3L, "lazy dogs sleep all day")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "a quick brown fox appeared"),
      (101L, "lazy dogs sleep often")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(train, eval, shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    val bloomed = Dedup.decontaminateBloom(train, eval, shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(bloomed == exact && exact == Seq(2L))
    // empty eval set: nothing to leak against — exact no-op
    assert(Dedup.decontaminateBloom(train,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), shingleN = 3)
      .count() == 3)
  }

  test("decontaminateNearDup drops verified near-dups, spares light overlap") {
    val para = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val train = Seq(
      (1L, para + " w11"),                      // near-dup of eval 100
      (2L, "only w1 w2 w3 borrowed briefly from it"), // shares a shingle, low jaccard
      (3L, "zz yy xx ww vv uu tt ss")           // unrelated
    ).toDF("doc_id", "text")
    val eval = Seq((100L, para)).toDF("doc_id", "text")
    val kept = Dedup.decontaminateNearDup(train, eval, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted
    // doc 1 is an LSH candidate AND verifies jaccard >= 0.5 -> dropped;
    // doc 2's single shared shingle fails the verify even if banded;
    // the exact rule would have dropped BOTH 1 and 2
    assert(kept == Seq(2L, 3L))
    val exact = Dedup.decontaminate(train, eval, shingleN = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(exact == Seq(3L))
    // empty eval: nothing leaks, train unchanged
    assert(Dedup.decontaminateNearDup(train,
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 3)
  }

  test("maximalMatchedSpans reports a long shared quote as ONE true-length span") {
    val quote = (1 to 20).map(i => s"q$i").mkString(" ") // 20-token verbatim quote
    val docs = Seq(
      (1L, s"alpha beta gamma $quote delta epsilon"),
      (2L, s"unrelated prefix words here $quote and a different tail"),
      (3L, "no shared content in this document at all whatsoever")
    ).toDF("doc_id", "text")
    val spans = Dedup.maximalMatchedSpans(docs, shingleK = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // one pair row, not 13 separate k-window rows: seeds chain along the
    // diagonal into a single maximal match of the quote's true length
    assert(spans.toSeq == Seq((1L, 2L, 3L, 4L, 20L)))
  }

  test("maximalMatchedSpans splits distinct matches on different diagonals") {
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$a filler1 filler2 filler3 $b"),
      (2L, s"$b other1 other2 other3 other4 other5 $a")
    ).toDF("doc_id", "text")
    val spans = Dedup.maximalMatchedSpans(docs, shingleK = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // the two 10-token blocks match at different relative offsets — two
    // rows, each with its own start pair, never merged across diagonals
    assert(spans == Set((1L, 2L, 0L, 15L, 10L), (1L, 2L, 13L, 0L, 10L)))
  }

  test("scrubPii masks emails and phone patterns, counts preserved text") {
    val df = Seq(
      "write to a.b+c@test-mail.org or call 555-0199 today",
      "no pii at all 12345-678901").toDF("text")
    val out = df.select(
      graft.functions.TextFunctions.scrubPii($"text").as("s")).as[String]
      .collect()
    assert(out(0) == "write to <EMAIL> or call <PHONE> today")
    assert(out(1) == "no pii at all 12345-678901") // \b guards partial hits
  }

  test("embedding near-dup pairs: above-threshold cosine only, id_a < id_b") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),  // ~0.995 cosine with 1
      (3L, Array(0.0f, 1.0f, 0.0f))    // orthogonal to 1
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupPairs(emb, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("duplicatedSpans: cross-doc shared windows merge into maximal extents") {
    val spanDocs = Seq(
      // c-block (4 tokens) and z-block (4 tokens) shared by 10/11, with a
      // gap of unique tokens between them in 10
      (10L, "c1 c2 c3 c4 u1 u2 u3 u4 u5 z1 z2 z3 z4"),
      (11L, "c1 c2 c3 c4 v z1 z2 z3 z4"),
      // same-doc repetition: window "m n o p" occurs at pos 0 and 4;
      // adjacent windows merge into ONE whole-doc span
      (12L, "m n o p m n o p"),
      (13L, "totally unrelated words that appear nowhere else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(spanDocs, shingleK = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 0L, 3L, 4L), (10L, 9L, 12L, 4L),
      (11L, 0L, 3L, 4L), (11L, 5L, 8L, 4L),
      (12L, 0L, 7L, 8L)))
  }

  test("duplicatedSpans ignores docs shorter than the shingle length") {
    val d = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(d, shingleK = 4).count() == 0)
  }

  test("hubShingleStats reports the mass the span-pairing frequency cap drops") {
    // window "a b c d" occurs 4× (docs 20,21,22 + twice nowhere else),
    // window "b c d e" occurs 2×, singletons fill the rest
    val d = Seq(
      (20L, "a b c d e x1 x2 x3"), // windows: abcd, bcde, cdex1, ...
      (21L, "a b c d e y1 y2 y3"), // abcd, bcde again
      (22L, "a b c d z1 z2 z3"),   // abcd again
      (23L, "a b c d w1 w2 w3")    // abcd again -> freq 4
    ).toDF("doc_id", "text")
    // per doc: len 8 -> 5 windows (docs 20,21), len 7 -> 4 windows (22,23)
    // total = 5 + 5 + 4 + 4 = 18
    // "a b c d" freq 4; "b c d e" freq 2; all others singletons
    val got = Dedup.hubShingleStats(d, shingleK = 4, maxShingleFreq = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((18L, 6L, 1L, 4L)),
      s"(total, dup, hub_shingles, hub_occ) was $got")
    // cap high enough -> nothing is a hub, dup mass unchanged
    val none = Dedup.hubShingleStats(d, shingleK = 4, maxShingleFreq = 100)
      .as[(Long, Long, Long, Long)].collect().head
    assert(none == ((18L, 6L, 0L, 0L)))
  }

  test("exciseDuplicatedSpans removes covered tokens, leaves clean docs verbatim") {
    val spanDocs = Seq(
      (10L, "c1 c2 c3 c4 u1 u2 u3 u4 u5 z1 z2 z3 z4"),
      (11L, "c1 c2 c3 c4 v z1 z2 z3 z4"),
      (13L, "totally  unrelated words   that appear nowhere else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicatedSpans(spanDocs, shingleK = 4)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (10L, "u1 u2 u3 u4 u5"),
      (11L, "v"),
      // untouched docs keep their original whitespace
      (13L, "totally  unrelated words   that appear nowhere else at all")))
  }

  test("dedupIndexAddBatch: index wins on any id, batch drops larger ids") {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "entirely different words that no neighbor document shares"
    def idx(docs: org.apache.spark.sql.DataFrame) = Dedup.dedupIndexKeys(docs)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")

    // batch 1 from an empty index: 20 and 30 duplicate — the SMALLER id
    // survives; 40 is clean
    val b1 = Seq((20L, dup), (30L, dup), (40L, other)).toDF("doc_id", "text")
    val (a1, idx1) = Dedup.dedupIndexAddBatch(idx(none), b1)
    assert(ids(a1) == Set(20L, 40L))
    // index state covers exactly the accepted docs
    assert(idx1.select("doc_id").distinct().as[Long].collect().toSet
      == Set(20L, 40L))

    // batch 2: doc 5 duplicates accepted doc 20 — the INDEX wins even
    // though 5 < 20; doc 50 is clean and folds in
    val b2 = Seq((5L, dup), (50L, "fresh unseen content never indexed"))
      .toDF("doc_id", "text")
    val (a2, idx2) = Dedup.dedupIndexAddBatch(idx1, b2)
    assert(ids(a2) == Set(50L))
    assert(idx2.select("doc_id").distinct().as[Long].collect().toSet
      == Set(20L, 40L, 50L))

    // replaying the same batch against the grown index rejects everything
    val (a3, _) = Dedup.dedupIndexAddBatch(idx2, b2)
    assert(ids(a3) == Set.empty[Long])
  }

  test("dedupIndexAddBatch keeps the pair rule on every witness shape") {
    def words(p: String, from: Int, to: Int) =
      (from to to).map(i => s"$p$i").mkString(" ")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val index = Dedup.dedupIndexKeys(
      Seq((5L, words("x", 1, 30))).toDF("doc_id", "text"))
    val batch = Seq(
      // 1 and 2 are one text: they collide in all 4 bands, 1 survives
      (1L, words("p", 1, 30)), (2L, words("p", 1, 30)),
      // 30 verifies against index doc 5 AND batch doc 25; 25 against 5
      (25L, words("x", 1, 29) + " y1"), (30L, words("x", 1, 29) + " y2"),
      // a chain: 40~41 and 41~42 verify, 40~42 is below the threshold;
      // the pair rule drops both 41 and 42
      (40L, words("b", 1, 30)), (41L, words("b", 7, 36)),
      (42L, words("b", 19, 48)),
      (50L, null.asInstanceOf[String]), (60L, words("z", 1, 12)))
      .toDF("doc_id", "text")
    val (acc, next) = Dedup.dedupIndexAddBatch(index, batch)
    assert(acc.as[(Long, String)].collect().toSet == Set(
      (1L, words("p", 1, 30)), (40L, words("b", 1, 30)),
      (50L, null.asInstanceOf[String]), (60L, words("z", 1, 12))))
    // the keys delta as literals: (id, band, key, xxhash64 and size of
    // the band-0 witness set)
    val delta = next.where(col("doc_id") =!= 5L)
      .select(col("doc_id"), col("band"), col("key"),
        when(col("hashes").isNotNull, xxhash64(col("hashes"))),
        size(col("hashes")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)).filter(_ != -1))).toSet
    assert(delta == Set(
      (1L, 0, "104374189_55239935", Some(-637290922256416945L), Some(28)),
      (1L, 1, "6105681_55240102", None, None),
      (1L, 2, "54825511_34740234", None, None),
      (1L, 3, "50812382_46423711", None, None),
      (40L, 0, "69288650_80182917", Some(210813904814880411L), Some(28)),
      (40L, 1, "70233997_96802861", None, None),
      (40L, 2, "21367118_19648644", None, None),
      (40L, 3, "163788281_4302589", None, None),
      (50L, 0, "", None, None), (50L, 1, "", None, None),
      (50L, 2, "", None, None), (50L, 3, "", None, None),
      (60L, 0, "4598879_367170229", Some(-1259092418789878242L), Some(10)),
      (60L, 1, "448412665_48562792", None, None),
      (60L, 2, "370801994_15670843", None, None),
      (60L, 3, "32543332_395114682", None, None)))
    // doc 30 has each witness on its own: the index alone rejects it,
    // and so does batch doc 25 alone
    assert(!ids(Dedup.dedupIndexAddBatch(index,
      batch.where(col("doc_id") =!= 25L))._1).contains(30L))
    val none = Dedup.dedupIndexKeys(Seq.empty[(Long, String)]
      .toDF("doc_id", "text"))
    assert(ids(Dedup.dedupIndexAddBatch(none, batch)._1)
      == Set(1L, 25L, 40L, 50L, 60L))
  }

  test("dedupIndexAddBatch returns the accepted batch rows whole") {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val batch = Seq((7L, dup, 0.5, "a"), (8L, dup, 1.5, "b"),
      (9L, "entirely different words no neighbor shares", 2.5, "c"))
      .toDF("doc_id", "text", "amp", "tag")
    val none = Dedup.dedupIndexKeys(Seq.empty[(Long, String)]
      .toDF("doc_id", "text"))
    val (acc, _) = Dedup.dedupIndexAddBatch(none, batch)
    // every batch column, in the batch's order, with the batch's values
    assert(acc.columns.toSeq == batch.columns.toSeq)
    assert(acc.as[(Long, String, Double, String)].collect().toSet == Set(
      (7L, dup, 0.5, "a"),
      (9L, "entirely different words no neighbor shares", 2.5, "c")))
  }

  test("dedupIndexRemove unlearns; re-arrivals judge against what remains") {
    val x = "the quick brown fox jumps over the lazy dog again and again"
    val y = "completely different sentence about databases and query plans"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val acc0 = Seq((10L, x), (20L, y)).toDF("doc_id", "text")
    val idx0 = Dedup.dedupIndexKeys(acc0)

    // erase doc 10; index forgets its keys, accepted set shrinks
    val (acc1, idx1) = Dedup.dedupIndexRemove(idx0, acc0,
      Seq(Tuple1(10L)).toDF("doc_id"))
    assert(ids(acc1) == Set(20L))
    assert(idx1.select("doc_id").distinct().as[Long].collect().toSet
      == Set(20L))

    // re-arrivals judge against the POST-removal state: the erased text
    // re-admits (its only witness is gone), a near-dup of the SURVIVING
    // doc still rejects, and within the batch the smaller id wins
    val b3 = Seq(
      (10L, x), // erased content returns -> re-admitted
      (30L, y), // duplicates surviving doc 20 -> rejected by the index
      (40L, x)) // duplicates re-arriving 10 -> rejected within batch
      .toDF("doc_id", "text")
    val (a3, idx3) = Dedup.dedupIndexAddBatch(idx1, b3)
    assert(ids(a3) == Set(10L))
    assert(idx3.select("doc_id").distinct().as[Long].collect().toSet
      == Set(10L, 20L))
  }

  test("dedupLinesKeepFirst keeps each line's global (doc, pos) minimum only") {
    val docs = Seq(
      (1L, "a\nb\nc"),
      (2L, "b\nd"),   // b's first occurrence is (1,1) → loses it
      (3L, "a\nb"),   // every line lost → EMPTY text, row kept
      (4L, null.asInstanceOf[String]), // null in, null out
      (5L, "x\nx")    // within-doc copy collapses too (global keep-first)
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesKeepFirst(docs)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(1L) == "a\nb\nc")
    assert(out(2L) == "d")
    assert(out(3L) == "")
    assert(out(4L) == null)
    assert(out(5L) == "x")
  }

  test("lineIndexAddBatch remembers lines across batches and composes to batch semantics") {
    val idx0 = Seq.empty[String].toDF("line")
    val b1 = Seq((2L, "a\nb")).toDF("doc_id", "text")
    val b2 = Seq((1L, "a\nc"), (3L, "b\nc\nd")).toDF("doc_id", "text")
    val (c1, idx1) = Dedup.lineIndexAddBatch(idx0, b1)
    assert(c1.as[(Long, String)].collect().toMap == Map(2L -> "a\nb"))
    assert(idx1.as[String].collect().toSet == Set("a", "b"))
    // batch 2: a and b are indexed (batch 1 owns them — doc 1's smaller
    // id does NOT win across batches); c resolves within batch 2 by
    // (id, pos); d is fresh
    val (c2, idx2) = Dedup.lineIndexAddBatch(idx1, b2)
    assert(c2.as[(Long, String)].collect().toMap
      == Map(1L -> "c", 3L -> "d"))
    assert(idx2.as[String].collect().toSet == Set("a", "b", "c", "d"))
    // under id-ordered arrival the composition equals the batch operator
    val all = Seq((1L, "x\ny"), (2L, "y\nz"), (3L, "x\nz\nw"))
      .toDF("doc_id", "text")
    val (i1, j1) = Dedup.lineIndexAddBatch(
      Seq.empty[String].toDF("line"), all.where($"doc_id" <= 1))
    val (i2, j2) = Dedup.lineIndexAddBatch(j1, all.where($"doc_id" === 2))
    val (i3, _) = Dedup.lineIndexAddBatch(j2, all.where($"doc_id" === 3))
    val composed = i1.unionByName(i2).unionByName(i3)
      .as[(Long, String)].collect().toMap
    val batch = Dedup.dedupLinesKeepFirst(all)
      .as[(Long, String)].collect().toMap
    assert(composed == batch)
  }

  test("lineIndexAddBatch hashed mode: 8-byte index, marker-guarded") {
    // hashed mode composes to the same cleaned output as string mode
    // (no 60-bit md5-prefix collisions on a hand corpus)
    val b1 = Seq((2L, "a\nb")).toDF("doc_id", "text")
    val b2 = Seq((1L, "a\nc"), (3L, "b\nc\nd")).toDF("doc_id", "text")
    val idx0 = Seq.empty[Long].toDF("line")
    val (c1, idx1) = Dedup.lineIndexAddBatch(idx0, b1, hashLines = true)
    assert(c1.as[(Long, String)].collect().toMap == Map(2L -> "a\nb"))
    // the index stores LONG fingerprints, stamped with the repr marker
    assert(idx1.schema("line").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(idx1.schema("line").metadata.getString(Dedup.lineReprKey)
      == "hashed")
    val (c2, idx2) = Dedup.lineIndexAddBatch(idx1, b2, hashLines = true)
    assert(c2.as[(Long, String)].collect().toMap
      == Map(1L -> "c", 3L -> "d"))
    assert(idx2.as[Long].collect().toSet.size == 4)
    // the fingerprint is the portable md5-prefix digest (the DuckDB
    // twin re-derives membership from the same 15 hex chars)
    val expected = Seq("a", "b", "c", "d").toDF("l")
      .select(Dedup.lineHash($"l")).as[Long].collect().toSet
    assert(idx2.as[Long].collect().toSet == expected)
    // representation mismatches fail loudly, both directions: a hashed
    // index probed at string mode...
    assert(intercept[IllegalArgumentException] {
      Dedup.lineIndexAddBatch(idx2, b1)
    }.getMessage.contains("representation"))
    // ...and a string index probed at hashed mode (legacy unmarked
    // string indexes are caught by the TYPE check)
    val strIdx = Seq("a").toDF("line")
    assert(intercept[IllegalArgumentException] {
      Dedup.lineIndexAddBatch(strIdx, b1, hashLines = true)
    }.getMessage.contains("string"))
    // the marker survives a parquet round-trip (footer metadata), so a
    // persisted crawl-scale index keeps its guard
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lhidx_").toString
    idx2.write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    assert(reread.schema("line").metadata.getString(Dedup.lineReprKey)
      == "hashed")
    assert(intercept[IllegalArgumentException] {
      Dedup.lineIndexAddBatch(reread, b1)
    }.getMessage.contains("representation"))
  }

  test("minhashLshVerifiedPairs = candidates gated by exact Jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark catalyst planning")
    ).toDF("doc_id", "text")
    val cand = Dedup.minhashLshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashLshVerifiedPairs(docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // every verified pair is a candidate carrying its TRUE jaccard,
    // which must equal the exact all-pairs operator's value
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(verified.keySet.subsetOf(cand))
    verified.foreach { case (k, j) => assert(exact(k) == j) }
    // docs 1-2 share 7 of their 8+8 distinct 3-shingles each:
    // jaccard 7/9 -- present; doc 3 pairs with nothing
    assert(verified.contains((1L, 2L)))
    assert(!verified.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // a threshold above the true fraction empties the result
    assert(Dedup.minhashLshVerifiedPairs(docs, threshold = 0.9)
      .count() == 0)
  }

  test("one minhashLshVerifiedPairs and one decontaminateTokenNgrams call " +
      "run their pinned Spark jobs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark catalyst planning")
    ).toDF("doc_id", "text")
    val train = Seq((1L, Seq(1, 2, 3, 1, 2, 3)), (2L, Seq(7, 7, 7, 7)))
      .toDF("doc_id", "ids")
    val ev = Seq((100L, Seq(0, 1, 2, 3))).toDF("doc_id", "ids")
    val rec = new graft.tools.Profile.Recorder(spark)
    def jobs(body: => Any): Int = rec.record(body)._2.jobs.length
    try {
      // each side's size is observed in the job that materializes it:
      // no probe job ahead of a broadcast
      val nVerify = jobs(Dedup.minhashLshVerifiedPairs(docs, threshold = 0.5)
        .collect())
      assert(nVerify == 9, s"minhashLshVerifiedPairs ran $nVerify jobs")
      val nDecon = jobs(Dedup.decontaminateTokenNgrams(train, ev, n = 3)
        .collect())
      assert(nDecon == 5, s"decontaminateTokenNgrams ran $nDecon jobs")
    } finally rec.close()
  }

  test("stripFrequentLines removes >=minDocs lines from ALL docs, counts distinct docs") {
    val docs = Seq(
      (1L, "a\nb\nc"),
      (2L, "b\nd"),
      (3L, "a\nb"),
      (5L, "x\nx") // 2 copies but ONE doc → below minDocs=2, both stay
    ).toDF("doc_id", "text")
    val out = Dedup.stripFrequentLines(docs, minDocs = 2)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // a is in docs 1,3; b in 1,2,3 → both stripped everywhere
    assert(out(1L) == "c")
    assert(out(2L) == "d")
    assert(out(3L) == "")
    assert(out(5L) == "x\nx")
    // minDocs=1 would empty the corpus — refused loudly
    assert(intercept[IllegalArgumentException] {
      Dedup.stripFrequentLines(docs, minDocs = 1)
    }.getMessage.contains("minDocs"))
  }

  test("the four line operators share null, emptied-doc and order handling, " +
      "the occurrence range error and their pinned Spark jobs") {
    val docs = Seq(
      (1L, "h\nx1\nf"),
      (2L, "h\nx2\nf"),
      (3L, null.asInstanceOf[String]), // null in, null out
      (4L, "h\nf"),   // every line goes → EMPTY text, row kept
      (5L, "z\ny\nx") // unique lines keep their order, not sorted
    ).toDF("doc_id", "text")
    val noLines = Seq.empty[String].toDF("line")
    val noCounts = Seq.empty[(String, Long)].toDF("line", "n_docs")
    // h and f first occur in doc 1 and sit in three docs
    val keepFirst = Map(1L -> "h\nx1\nf", 2L -> "x2", 3L -> null, 4L -> "",
      5L -> "z\ny\nx")
    val stripped = Map(1L -> "x1", 2L -> "x2", 3L -> null, 4L -> "",
      5L -> "z\ny\nx")
    val ops = Seq[(String, DataFrame => DataFrame, Map[Long, String])](
      ("dedupLinesKeepFirst", Dedup.dedupLinesKeepFirst(_), keepFirst),
      ("lineIndexAddBatch", Dedup.lineIndexAddBatch(noLines, _)._1,
        keepFirst),
      ("lineCountAddBatch", Dedup.lineCountAddBatch(noCounts, _, 2L)._1,
        stripped),
      ("stripFrequentLines", Dedup.stripFrequentLines(_, 2L), stripped))
    val rec = new graft.tools.Profile.Recorder(spark)
    val jobs = try ops.map { case (op, run, want) =>
      val (got, r) = rec.record(
        run(docs).select($"doc_id", $"text").as[(Long, String)].collect().toMap)
      assert(got == want, op)
      op -> r.jobs.length
    }.toMap finally rec.close()
    assert(jobs == Map("dedupLinesKeepFirst" -> 5, "lineIndexAddBatch" -> 6,
      "lineCountAddBatch" -> 7, "stripFrequentLines" -> 6))
    // the packed (id, pos) rank refuses an id it cannot hold, by name
    val far = Seq((1L << 39, "a")).toDF("doc_id", "text")
    for ((op, run, _) <- ops.take(2)) {
      val e = intercept[Exception](run(far).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains(s"$op: occurrence outside the packable")),
        s"$op: ${e.getMessage}")
    }
  }
}
