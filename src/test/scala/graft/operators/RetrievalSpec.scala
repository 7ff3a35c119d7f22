package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("invertedIndex: exact df/tf_total, sorted postings, elision over cap") {
    val docs = Seq(
      (1L, "a b a b a b"), // bigrams: "a b" x3, "b a" x2
      (2L, "a b c"),       // "a b", "b c"
      (3L, "c d")          // "c d"
    ).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text",
        n = 2, postingsCap = 1)
      .orderBy("term")
      .as[(String, Long, Long, Option[String])].collect().toSeq
    assert(idx == Seq(
      ("a b", 2L, 4L, None),       // df 2 > cap 1 -> postings elided
      ("b a", 1L, 2L, Some("1")),
      ("b c", 1L, 1L, Some("2")),
      ("c d", 1L, 1L, Some("3"))))
    // raise the cap: the elided posting materializes, sorted
    val full = Retrieval.invertedIndex(docs, "doc_id", "text",
        n = 2, postingsCap = 16)
      .where(col("term") === "a b").select("postings").as[String].head()
    assert(full == "1,2")
  }

  test("bm25TopK: hand-computed scores, absent term contributes zero") {
    val docs = Seq(
      (1L, "x x y"), // tf(x)=2, dl=3
      (2L, "x z z"), // tf(x)=1, dl=3
      (3L, "z z z") // tf(x)=0, dl=3
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text",
        terms = Seq("x"), topK = 3)
      .as[(Long, Long)].collect().toSeq
    // N=3, df=2, avgdl=3, dl/avgdl=1 -> denom tf + k1
    def s(tf: Double): Long = {
      val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
      math.round(idf * (tf * 2.2) / (tf + 1.2) * 1e6)
    }
    assert(got == Seq((1L, s(2)), (2L, s(1)), (3L, 0L)))
  }

  test("bm25TopK: multi-term scores sum in fixed order; topK truncates") {
    val docs = Seq(
      (1L, "p q"), (2L, "p p"), (3L, "q q"), (4L, "r r")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text",
        terms = Seq("p", "q"), topK = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got.length == 2)
    // doc 1 holds both terms once; docs 2/3 hold one term twice. With
    // equal df the two-term doc must outrank the repeat (BM25 tf
    // saturation), and doc 2 beats doc 3 only on the id tiebreak.
    assert(got.head._1 == 1L)
    assert(got(1)._1 == 2L)
  }

  test("rareNgramGate: relative threshold flags the odd doc out") {
    // 40 normal docs share one bigram; one noise doc contributes two
    // singleton bigrams -> mean freq is high, singletons are rare
    val docs = ((1 to 40).map(i => (i.toLong, "a b")) :+
      (99L, "z q j")).toDF("doc_id", "text")
    val out = Retrieval.rareNgramGate(docs, "doc_id", "text",
        n = 2, rareFactor = 8, keepDen = 20)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.length == 41)
    val normal = out.filter(_._1 <= 40)
    assert(normal.forall { case (_, ng, rare, keep) =>
      ng == 1L && rare == 0L && keep })
    val noise = out.last
    assert(noise == ((99L, 2L, 2L, false)))
  }

  test("incremental index: folded feeds equal a rebuild under update+delete") {
    import graft.store.VersionedTable
    val r = java.nio.file.Files.createTempDirectory("graft_rix_").toString + "/t"
    VersionedTable.write(Seq(
      (1L, "a b c d"), (2L, "a b x"), (3L, "c d e")).toDF("doc_id", "text"), r)
    // v1: doc 2 rewritten (retracts "a b"/"b x", adds new bigrams)
    VersionedTable.upsert(spark, r,
      Seq((2L, "c d y")).toDF("doc_id", "text"), Seq("doc_id"))
    // v2: doc 3 deleted (its whole term multiset retracts)
    VersionedTable.delete(spark, r,
      Seq(Tuple1(3L)).toDF("doc_id"), Seq("doc_id"))
    val s0 = Retrieval.indexState(
      VersionedTable.read(spark, r, Some(0L)), "doc_id", "text", n = 2)
    val s2 = Seq((0L, 1L), (1L, 2L)).foldLeft(s0) { case (st, (a, b)) =>
      Retrieval.applyFeedIndex(st,
        VersionedTable.changeFeed(spark, r, a, b, Seq("doc_id")),
        "doc_id", "text", n = 2)
    }
    val inc = Retrieval.termStats(s2).orderBy("term")
      .as[(String, Long, Long)].collect().toSeq
    val full = Retrieval.termStats(Retrieval.indexState(
        VersionedTable.read(spark, r), "doc_id", "text", n = 2))
      .orderBy("term").as[(String, Long, Long)].collect().toSeq
    assert(inc == full)
    assert(inc == Seq(("a b", 1L, 1L), ("b c", 1L, 1L),
      ("c d", 2L, 2L), ("d y", 1L, 1L)))
  }

  test("rareNgramGate: uniform corpus has no rare n-grams") {
    val docs = (1 to 10).map(i => (i.toLong, "a b c")).toDF("doc_id", "text")
    val out = Retrieval.rareNgramGate(docs, "doc_id", "text", n = 2)
    assert(out.where(!col("keep")).count() == 0)
    assert(out.agg(sum("n_rare")).as[Long].head() == 0L)
  }

  test("rareNgramGate: every input doc gets a row, null text keeps") {
    // doc 2's single token judges via its degenerate 1-token shingle
    // (shingles never returns empty for non-null text); doc 3's NULL text
    // has no grams at all and must surface as (0, 0, keep=true) instead
    // of vanishing from the gate's output
    val docs = Seq((1L, Some("a b a b")), (2L, Some("a")), (3L, None))
      .toDF("doc_id", "text")
    val out = Retrieval.rareNgramGate(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    assert(out.filter(_._1 == 2L).forall(_._2 == 1L))
    assert(out.filter(_._1 == 3L).forall { case (_, ng, rare, keep) =>
      ng == 0L && rare == 0L && keep })
  }

  test("familiarityGate: hand-computed counts, short and null docs kept") {
    val ref = Seq(
      (10L, "a b c"),   // model bigrams: "a b", "b c"
      (11L, "a b d"))   // "a b", "b d"  -> cnt: "a b"->2, "b c"->1, "b d"->1
      .toDF("doc_id", "text")
    val model = Retrieval.ngramModel(ref, "text")
    assert(model.as[(String, Long)].collect().toMap ==
      Map("a b" -> 2L, "b c" -> 1L, "b d" -> 1L))
    val docs = Seq(
      (1L, "a b c"),          // grams "a b","b c": both known, mass 3
      (2L, "x y z"),          // "x y","y z": none known
      (3L, "a b x y"),        // "a b" known (mass 2), "b x","x y" not
      (4L, "solo"),           // one degenerate short shingle, unknown
      (5L, null.asInstanceOf[String])) // no grams at all
      .toDF("doc_id", "text")
    val got = Retrieval.familiarityGate(docs, model, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 3L, true),
      (2L, 2L, 0L, 0L, false),
      (3L, 3L, 1L, 2L, false),
      (4L, 1L, 0L, 0L, false),
      (5L, 0L, 0L, 0L, true)))
    // a permissive gate flips the verdicts, never the counts
    val loose = Retrieval.familiarityGate(docs, model, "doc_id", "text",
        keepNum = 0)
      .select("keep").as[Boolean].collect()
    assert(loose.forall(identity))
  }

  test("importanceGate: hand-computed masses, cross-multiplied ratio") {
    val target = Seq((10L, "a b c"), (11L, "a b d")) // "a b"->2,"b c"->1,"b d"->1; t_total=4
      .toDF("doc_id", "text")
    val raw = Seq((20L, "x y z"), (21L, "a b x y")) // "x y"->2,"y z"->1,"a b"->1,"b x"->1; r_total=5
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"),   // t_mass 3, r_mass 1: 3·5 ≥ 1·4 -> keep
      (2L, "x y z"),   // t_mass 0, r_mass 3: 0 ≥ 12 -> drop
      (3L, "a b x y"), // t_mass 2, r_mass 4: 10 ≥ 16 -> drop
      (4L, null.asInstanceOf[String])) // no grams -> 0 ≥ 0 -> keep
      .toDF("doc_id", "text")
    val got = Retrieval.importanceGate(docs, target, raw, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 3L, 1L, 4L, 5L, true),
      (2L, 2L, 0L, 3L, 4L, 5L, false),
      (3L, 3L, 2L, 4L, 4L, 5L, false),
      (4L, 0L, 0L, 0L, 4L, 5L, true)))
    // a 1/4 threshold admits doc 3 (2/4 ≥ (1/4)·(4/5) ⇔ 40 ≥ 16) but
    // still rejects the zero-target-mass doc 2; counts never move
    val loose = Retrieval.importanceGate(docs, target, raw, "doc_id",
        "text", keepNum = 1, keepDen = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(loose.map(_._7) == Seq(true, false, true, true))
    assert(loose.map(r => (r._1, r._2, r._3, r._4)) ==
      got.map(r => (r._1, r._2, r._3, r._4)))
    // an empty target model zeroes BOTH cross products -> keeps all
    val openGate = Retrieval.importanceGate(docs,
        target.where(lit(false)), raw, "doc_id", "text")
      .select("keep").as[Boolean].collect()
    assert(openGate.forall(identity))
  }

  test("familiarityGate and importanceGate evaluate the model's lineage once") {
    // every evaluation of a reference slice's lineage adds its row count
    val evaluated = spark.sparkContext.longAccumulator("ref_rows")
    val tick = udf { (t: String) => evaluated.add(1L); t }.asNondeterministic()
    def ref(texts: String*) = spark.range(0, texts.length).select(
      col("id").as("doc_id"),
      tick(element_at(typedLit(texts), col("id").cast("int") + 1)).as("text"))
    val docs = Seq((1L, "a b c"), (2L, "x y z"), (3L, "a b x y"))
      .toDF("doc_id", "text")
    val fam = Retrieval.familiarityGate(docs,
        Retrieval.ngramModel(ref("a b c", "a b d"), "text"), "doc_id", "text")
      .orderBy("doc_id").select("n_known").as[Long].collect().toSeq
    assert(evaluated.value == 2L,
      s"the model's 2 reference rows were evaluated ${evaluated.value} times")
    assert(fam == Seq(2L, 0L, 1L))
    evaluated.reset()
    val imp = Retrieval.importanceGate(docs, ref("a b c", "a b d"),
        ref("x y z", "a b x y"), "doc_id", "text")
      .orderBy("doc_id").select("keep").as[Boolean].collect().toSeq
    assert(evaluated.value == 4L,
      s"the models' 4 reference rows were evaluated ${evaluated.value} times")
    assert(imp == Seq(true, false, false))
  }
}
