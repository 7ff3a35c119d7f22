package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  /** Write df as ONE plain parquet FILE (not a directory) so the file
    * stream source picks it up directly from the source dir.
    */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val tmp = Files.createTempDirectory("graft_w_").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(dest).getParent)
    Files.move(part.toPath, java.nio.file.Paths.get(dest))
  }

  /** The table version the ANN index under `root/idx` reflects. */
  private def indexedVersion(root: String): Option[Long] =
    graft.store.Marker.read(s"$root/idx", "_indexed_version")

  test("AvailableNow stream merges a parquet backlog by PK exactly once") {
    val root = Files.createTempDirectory("graft_su_").toString
    val src = s"$root/src"
    // two source files with an overlapping PK — merge must keep one row
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$src/f1.parquet")
    writeFile(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), s"$src/f2.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runAvailableNow(spark, src, schema,
      s"$root/table", s"$root/ckpt", Seq("id"))
    val got = spark.read.parquet(s"$root/table")
    assert(got.select("id").distinct().count() == 3)
    assert(got.count() == 3) // PK-unique regardless of batch boundaries
  }

  test("restarting the stream over the same checkpoint reprocesses nothing") {
    val root = Files.createTempDirectory("graft_su2_").toString
    val src = s"$root/src"
    writeFile(Seq((1L, "a")).toDF("id", "v"), s"$src/f1.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runAvailableNow(spark, src, schema,
      s"$root/table", s"$root/ckpt", Seq("id"))
    // second run, same checkpoint: no new files -> table unchanged
    StreamingUpsert.runAvailableNow(spark, src, schema,
      s"$root/table", s"$root/ckpt", Seq("id"))
    assert(spark.read.parquet(s"$root/table").count() == 1)
  }

  test("versioned streaming sink commits one version per batch with CDC history") {
    val root = Files.createTempDirectory("graft_sv_").toString
    val src = s"$root/src"
    // overlapping PK across files: the later batch must UPDATE id=2
    writeFile(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"), s"$src/f1.parquet")
    writeFile(Seq((2L, 25.0), (3L, 30.0)).toDF("id", "x"), s"$src/f2.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runVersionedAvailableNow(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("id"))
    import graft.store.VersionedTable
    val vs = VersionedTable.versions(s"$root/tbl").sorted
    assert(vs.size >= 2, s"expected one version per micro-batch, got $vs")
    // final snapshot is the PK merge of the backlog
    val fin = VersionedTable.read(spark, s"$root/tbl")
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(fin == Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    // the per-batch change feeds replay the whole history: folding them
    // over v0 reproduces the final state (update retractions included)
    val feeds = vs.zip(vs.tail).map { case (a, b) =>
      VersionedTable.changeFeed(spark, s"$root/tbl", a, b, Seq("id")) }
    val signedSum = feeds.map(_.selectExpr("sum(__sign * x)").as[Double].head())
    val v0Sum = VersionedTable.read(spark, s"$root/tbl", Some(vs.head))
      .selectExpr("sum(x)").as[Double].head()
    assert(v0Sum + signedSum.sum ==
      fin.map(_._2).sum, "signed feeds must account for every change")
  }

  test("streaming dedup drops duplicate keys ACROSS micro-batches") {
    val root = Files.createTempDirectory("graft_sd_").toString
    val src = s"$root/src"
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$src/f1.parquet")
    writeFile(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), s"$src/f2.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingDedup.runAvailableNow(spark, src, schema,
      s"$root/table", s"$root/ckpt", Seq("id")) // 1 file per batch
    val got = spark.read.parquet(s"$root/table").orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L)) // id=2 seen in batch 1, dropped in batch 2
  }

  test("streamed ANN index maintenance equals a rebuild over the final table") {
    import graft.operators.Similarity
    val root = Files.createTempDirectory("graft_sann_").toString
    val corpus = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(d => 0.1f * ((i + d) % 7) + 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(corpus, k = 3, iterations = 2)
    val cb = Similarity.pqCodebooks(corpus, m = 4, k = 4, iterations = 1)
    val v0 = corpus.where($"vec_id" % 2 === 0)
    graft.store.VersionedTable.write(v0, s"$root/tbl")
    Similarity.writeClusteredPQ(v0, cents, cb, s"$root/idx")
    // backlog: odd-id inserts, then an update batch rewriting ids % 6 == 0
    val src = s"$root/src"
    writeFile(corpus.where($"vec_id" % 2 === 1), s"$src/f1.parquet")
    writeFile(corpus.where($"vec_id" % 6 === 0)
        .select($"vec_id", org.apache.spark.sql.functions.transform(
          $"embedding",
          x => (x + org.apache.spark.sql.functions.lit(0.3d)).cast("float"))
          .as("embedding")),
      s"$src/f2.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val rebuilt = s"$root/rebuilt"
    Similarity.writeClusteredPQ(
      graft.store.VersionedTable.read(spark, s"$root/tbl"), cents, cb,
      rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"cell".cast("long"), $"code")
      .as[(Long, Long, Seq[Long])].collect().toSet
    assert(rows(s"$root/idx") == rows(rebuilt))
    assert(rows(s"$root/idx").size == 24)
  }

  test("a table that advanced past the index marker triggers cell repair") {
    import graft.operators.Similarity
    val root = Files.createTempDirectory("graft_sannr_").toString
    val corpus = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(d => 0.1f * ((i + d) % 7) + 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(corpus, k = 3, iterations = 2)
    val cb = Similarity.pqCodebooks(corpus, m = 4, k = 4, iterations = 1)
    val v0 = corpus.where($"vec_id" % 2 === 0)
    graft.store.VersionedTable.write(v0, s"$root/tbl")
    Similarity.writeClusteredPQ(v0, cents, cb, s"$root/idx")
    val src = s"$root/src"
    writeFile(corpus.where($"vec_id" % 2 === 1), s"$src/f1.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val marker = indexedVersion(root).get
    // simulate a fold that died mid-mutation: the table commits an update
    // the index never folds (marker stays behind) and one of the cells
    // that fold WOULD have touched loses its directory
    val upd = corpus.where($"vec_id" % 6 === 0)
      .select($"vec_id", org.apache.spark.sql.functions.transform(
        $"embedding",
        x => (x + org.apache.spark.sql.functions.lit(0.3d)).cast("float"))
        .as("embedding"))
    graft.store.VersionedTable.upsert(spark, s"$root/tbl", upd, Seq("vec_id"))
    assert(indexedVersion(root).get == marker)
    val damagedCell = spark.read.parquet(s"$root/idx")
      .join(upd.select("vec_id"), Seq("vec_id"))
      .select($"cell".cast("long")).distinct().as[Long].head()
    graft.store.UpsertWriter.deleteRecursively(
      java.nio.file.Paths.get(s"$root/idx").resolve(s"cell=$damagedCell"))
    // next micro-batch: the runner must repair the damaged cells from the
    // snapshot BEFORE folding its own delta
    writeFile(Seq((100L, Array.tabulate(8)(d => 0.02f * (d + 1))))
      .toDF("vec_id", "embedding"), s"$src/f2.parquet")
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val rebuilt = s"$root/rebuilt"
    Similarity.writeClusteredPQ(
      graft.store.VersionedTable.read(spark, s"$root/tbl"), cents, cb,
      rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"cell".cast("long"), $"code")
      .as[(Long, Long, Seq[Long])].collect().toSet
    assert(rows(s"$root/idx") == rows(rebuilt))
    assert(rows(s"$root/idx").size == 25)
    assert(indexedVersion(root).get > marker)
  }

  test("repair covers intermediate cells across a multi-version marker gap") {
    import graft.operators.Similarity
    val root = Files.createTempDirectory("graft_sanng_").toString
    val corpus = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(d => 0.1f * ((i + d) % 7) + 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(corpus, k = 3, iterations = 2)
    val cb = Similarity.pqCodebooks(corpus, m = 4, k = 4, iterations = 1)
    graft.store.VersionedTable.write(corpus, s"$root/tbl")
    Similarity.writeClusteredPQ(corpus, cents, cb, s"$root/idx")
    val src = s"$root/src"
    writeFile(Seq((50L, Array.tabulate(8)(d => 0.03f * (d + 2))))
      .toDF("vec_id", "embedding"), s"$src/f1.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val marker = indexedVersion(root).get
    def cellOf(id: Long): Long = spark.read.parquet(s"$root/idx")
      .where($"vec_id" === id).select($"cell".cast("long")).as[Long].head()
    // an id from a DIFFERENT cell than id 0's — its vector is the bait
    val c0 = cellOf(0L)
    val otherId = spark.read.parquet(s"$root/idx")
      .where($"cell".cast("long") =!= c0 && $"vec_id" < 24)
      .select("vec_id").as[Long].head()
    val vecOf = corpus.as[(Long, Array[Float])].collect().toMap
    // version A: move id 0 into the other cell, and — simulating a fold
    // that COMPLETED but crashed before advancing the marker — fold it
    graft.store.VersionedTable.upsert(spark, s"$root/tbl",
      Seq((0L, vecOf(otherId))).toDF("vec_id", "embedding"), Seq("vec_id"))
    val vA = graft.store.VersionedTable.latestVersion(s"$root/tbl").get
    Similarity.maintainClusteredPQ(spark, s"$root/idx", cents, cb,
      graft.store.VersionedTable.changeFeed(spark, s"$root/tbl", marker,
        vA, Seq("vec_id")))
    assert(cellOf(0L) != c0, "the bait vector must actually change cells")
    // version B: move id 0 straight back — the NETTED endpoint diff of
    // the gap is now EMPTY, only the per-step union names the
    // intermediate cell holding the stale row
    graft.store.VersionedTable.upsert(spark, s"$root/tbl",
      Seq((0L, vecOf(0L))).toDF("vec_id", "embedding"), Seq("vec_id"))
    assert(indexedVersion(root).get == marker)
    writeFile(Seq((51L, Array.tabulate(8)(d => 0.04f * (d + 1))))
      .toDF("vec_id", "embedding"), s"$src/f2.parquet")
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val rebuilt = s"$root/rebuilt"
    Similarity.writeClusteredPQ(
      graft.store.VersionedTable.read(spark, s"$root/tbl"), cents, cb,
      rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"cell".cast("long"), $"code")
      .as[(Long, Long, Seq[Long])].collect().toSet
    assert(rows(s"$root/idx") == rows(rebuilt)) // no stale id-0 duplicate
    assert(rows(s"$root/idx").count(_._1 == 0L) == 1)
  }

  test("a vacuumed marker version falls back to a full index rebuild") {
    import graft.operators.Similarity
    val root = Files.createTempDirectory("graft_sannv_").toString
    val corpus = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(d => 0.1f * ((i + d) % 7) + 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(corpus, k = 3, iterations = 2)
    val cb = Similarity.pqCodebooks(corpus, m = 4, k = 4, iterations = 1)
    graft.store.VersionedTable.write(corpus, s"$root/tbl")
    Similarity.writeClusteredPQ(corpus, cents, cb, s"$root/idx")
    val src = s"$root/src"
    writeFile(Seq((50L, Array.tabulate(8)(d => 0.03f * (d + 2))))
      .toDF("vec_id", "embedding"), s"$src/f1.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val marker = indexedVersion(root).get
    // an unfolded upsert, then vacuum everything but the head: the
    // marker's version is gone, so the gap's per-step feeds are
    // underivable and only a full rebuild is exact
    graft.store.VersionedTable.upsert(spark, s"$root/tbl",
      Seq((60L, Array.tabulate(8)(d => 0.05f * (d + 3))))
        .toDF("vec_id", "embedding"), Seq("vec_id"))
    graft.store.VersionedTable.vacuum(s"$root/tbl", keepLast = 1)
    assert(!graft.store.VersionedTable.versions(s"$root/tbl")
      .contains(marker))
    // arbitrary damage — the rebuild must erase it wholesale
    val anyCell = spark.read.parquet(s"$root/idx")
      .select($"cell".cast("long")).distinct().as[Long].head()
    graft.store.UpsertWriter.deleteRecursively(
      java.nio.file.Paths.get(s"$root/idx").resolve(s"cell=$anyCell"))
    writeFile(Seq((51L, Array.tabulate(8)(d => 0.04f * (d + 1))))
      .toDF("vec_id", "embedding"), s"$src/f2.parquet")
    StreamingUpsert.runVersionedWithAnnIndex(spark, src, schema,
      s"$root/tbl", s"$root/ckpt", Seq("vec_id"), s"$root/idx", cents, cb)
    val rebuilt = s"$root/rebuilt"
    Similarity.writeClusteredPQ(
      graft.store.VersionedTable.read(spark, s"$root/tbl"), cents, cb,
      rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"cell".cast("long"), $"code")
      .as[(Long, Long, Seq[Long])].collect().toSet
    assert(rows(s"$root/idx") == rows(rebuilt))
    assert(rows(s"$root/idx").size == 27) // 24 + ids 50, 60, 51
  }

  test("windowed backlog aggregation equals the equivalent batch query") {
    import java.sql.Timestamp
    val root = Files.createTempDirectory("graft_sw_").toString
    val src = s"$root/src"
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:01:00"), "click", 1.5),
      (2L, Timestamp.valueOf("2024-01-01 10:05:00"), "click", 2.5),
      (3L, Timestamp.valueOf("2024-01-01 10:15:00"), "view", 4.0))
      .toDF("event_id", "ts", "event_type", "value")
    writeFile(ev, s"$src/f1.parquet")
    val schema = spark.read.parquet(src).schema
    StreamingUpsert.runWindowedAvailableNow(spark, src, schema,
      s"$root/table", s"$root/ckpt", "ts", "event_type")
    val got = spark.read.parquet(s"$root/table")
      .orderBy("win_start", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    // 10:00 window: 2 clicks summing 4.0; 10:10 window: 1 view of 4.0
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val t1 = Timestamp.valueOf("2024-01-01 10:10:00").getTime / 1000
    assert(got == Seq((t0, "click", 2L, 4.0), (t1, "view", 1L, 4.0)))
  }
}
