package graft.store

import java.nio.file.Files

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def root() = Files.createTempDirectory("graft_vt_").toString + "/t"

  test("writes commit as monotonically increasing versions; reads see latest") {
    val r = root()
    assert(VersionedTable.write(Seq((1L, "a")).toDF("id", "v"), r) == 0L)
    assert(VersionedTable.write(Seq((1L, "a2")).toDF("id", "v"), r) == 1L)
    assert(VersionedTable.read(spark, r).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a2")))
  }

  test("time travel: asOf reads an older immutable snapshot") {
    val r = root()
    VersionedTable.write(Seq((1L, "old")).toDF("id", "v"), r)
    VersionedTable.write(Seq((1L, "new")).toDF("id", "v"), r)
    assert(VersionedTable.read(spark, r, asOf = Some(0L))
      .as[(Long, String)].collect().toSeq == Seq((1L, "old")))
  }

  test("versioned upsert merges against the snapshot and keeps history") {
    val r = root()
    VersionedTable.upsert(spark, r, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    VersionedTable.upsert(spark, r, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.read(spark, r).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(VersionedTable.read(spark, r, asOf = Some(0L)).count() == 2)
  }

  test("snapshotDiff classifies insert/update/delete/unchanged between versions") {
    val r = root()
    VersionedTable.write(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, null, 4.0))
        .toDF("id", "v", "x"), r)
    // v1: 2 updated, 3 deleted, 5 inserted, 1 unchanged, 4 null→"" edge
    VersionedTable.write(
      Seq((1L, "a", 1.0), (2L, "B", 2.0), (5L, "e", 5.0), (4L, "", 4.0))
        .toDF("id", "v", "x"), r)
    val got = VersionedTable.snapshotDiff(spark, r, 0L, 1L, Seq("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "update"), (3L, "delete"),
      (4L, "update"), (5L, "insert")))
  }

  test("changeFeed emits signed old/new images; unchanged keys emit nothing") {
    val r = root()
    VersionedTable.write(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "v", "x"), r)
    // v1: 2 updated, 3 deleted, 5 inserted, 1 unchanged
    VersionedTable.write(
      Seq((1L, "a", 1.0), (2L, "B", 9.0), (5L, "e", 5.0)).toDF("id", "v", "x"), r)
    val feed = VersionedTable.changeFeed(spark, r, 0L, 1L, Seq("id"))
      .orderBy("id", "__sign").as[(Long, String, Double, Long)].collect().toSeq
    assert(feed == Seq(
      (2L, "b", 2.0, -1L), (2L, "B", 9.0, 1L), // update: old image out, new in
      (3L, "c", 3.0, -1L), // delete
      (5L, "e", 5.0, 1L))) // insert
  }

  test("feed-maintained aggregate state equals a full recompute") {
    val r = root()
    // group key g, value x; v0 -> v1 exercises insert, update (value and
    // GROUP migration), and delete; v1 -> v2 empties group 20 entirely
    VersionedTable.write(
      Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 1.0)).toDF("id", "g", "x"), r)
    VersionedTable.write(
      Seq((1L, 10L, 6.0), (2L, 20L, 7.0), (4L, 30L, 9.0)).toDF("id", "g", "x"), r)
    VersionedTable.write(
      Seq((1L, 10L, 6.0), (4L, 30L, 2.0)).toDF("id", "g", "x"), r)
    var state = IncrementalView.state(
      VersionedTable.read(spark, r, Some(0L)), "g", "x")
    for (v <- 0L to 1L)
      state = IncrementalView.applyFeed(state,
        VersionedTable.changeFeed(spark, r, v, v + 1, Seq("id")), "g", "x")
    val got = state.orderBy("g")
      .selectExpr("g", "n", "CAST(total AS DOUBLE)")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 1L, 6.0), (30L, 1L, 2.0))) // group 20 vanished
    val full = IncrementalView.state(VersionedTable.read(spark, r), "g", "x")
      .orderBy("g").selectExpr("g", "n", "CAST(total AS DOUBLE)")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == full)
  }

  test("feed-maintained min/max: extremum deletes rescan, others stay O(delta)") {
    val r = root()
    // group 10: min=1 max=9; group 20: min=2 mid=6 max=8
    VersionedTable.write(
      Seq((1L, 10L, 1.0), (2L, 10L, 5.0), (3L, 10L, 9.0),
        (4L, 20L, 2.0), (5L, 20L, 8.0), (8L, 20L, 6.0)).toDF("id", "g", "x"), r)
    // v1: DELETE group 10's min witness (dirty: rescan must find lo=5),
    // delete group 20's MIDDLE row (clean: extrema survive),
    // insert a new group-30 row and a new group-20 max (clean tighten)
    VersionedTable.write(
      Seq((2L, 10L, 5.0), (3L, 10L, 9.0),
        (4L, 20L, 2.0), (5L, 20L, 8.0), (6L, 20L, 11.0), (7L, 30L, 4.0))
        .toDF("id", "g", "x"), r)
    val s0 = IncrementalView.stateMinMax(
      VersionedTable.read(spark, r, Some(0L)), "g", "x")
    val s1 = IncrementalView.applyFeedMinMax(s0,
      VersionedTable.changeFeed(spark, r, 0L, 1L, Seq("id")),
      VersionedTable.read(spark, r, Some(1L)), "g", "x")
    val got = s1.orderBy("g")
      .selectExpr("g", "n", "CAST(total AS DOUBLE)",
        "CAST(lo AS DOUBLE)", "CAST(hi AS DOUBLE)")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (10L, 2L, 14.0, 5.0, 9.0),  // deleted min → rescanned lo
      (20L, 3L, 21.0, 2.0, 11.0), // survivor min kept, inserted max adopted
      (30L, 1L, 4.0, 4.0, 4.0)))  // new group entirely from inserts
    val full = IncrementalView.stateMinMax(VersionedTable.read(spark, r), "g", "x")
      .orderBy("g").selectExpr("g", "n", "CAST(total AS DOUBLE)",
        "CAST(lo AS DOUBLE)", "CAST(hi AS DOUBLE)")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == full)
  }

  test("feed-maintained moments invert exactly under updates and deletes") {
    val r = root()
    VersionedTable.write(
      Seq((1L, 10L, 1.5), (2L, 10L, 5.0), (3L, 10L, 9.0),
        (4L, 20L, 2.25), (5L, 20L, 8.0)).toDF("id", "g", "x"), r)
    // v1: delete group 10's largest (a retraction of its biggest x²
    // contribution — where float state would drift), update a group-20
    // value, insert a new group
    VersionedTable.write(
      Seq((1L, 10L, 1.5), (2L, 10L, 5.0),
        (4L, 20L, 3.75), (5L, 20L, 8.0), (6L, 30L, 4.0)).toDF("id", "g", "x"), r)
    val s0 = IncrementalView.stateMoments(
      VersionedTable.read(spark, r, Some(0L)), "g", "x")
    val s1 = IncrementalView.applyFeedMoments(s0,
      VersionedTable.changeFeed(spark, r, 0L, 1L, Seq("id")), "g", "x")
    val got = s1.orderBy("g")
      .selectExpr("g", "n", "CAST(total AS DOUBLE)", "CAST(total2 AS DOUBLE)")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // hand-computed: g10 = {1.5, 5} -> (6.5, 2.25+25); g20 = {3.75, 8} ->
    // (11.75, 14.0625+64); g30 = {4} -> (4, 16)
    assert(got == Seq(
      (10L, 2L, 6.5, 27.25),
      (20L, 2L, 11.75, 78.0625),
      (30L, 1L, 4.0, 16.0)))
    val full = IncrementalView.stateMoments(VersionedTable.read(spark, r), "g", "x")
      .orderBy("g")
      .selectExpr("g", "n", "CAST(total AS DOUBLE)", "CAST(total2 AS DOUBLE)")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == full)
  }

  test("feed-maintained distinct counts track value multiplicities exactly") {
    val r = root()
    // group 10 holds value 5.0 TWICE (multiplicity matters: deleting one
    // copy must not drop the value) plus 7.0; group 20 holds 2.0
    VersionedTable.write(
      Seq((1L, 10L, 5.0), (2L, 10L, 5.0), (3L, 10L, 7.0), (4L, 20L, 2.0))
        .toDF("id", "g", "x"), r)
    // v1: delete ONE copy of 5.0 (distinct unchanged), update 7.0 -> 5.0
    // (value vanishes, survivor merges into 5.0), add a new value to g20
    VersionedTable.write(
      Seq((2L, 10L, 5.0), (3L, 10L, 5.0), (4L, 20L, 2.0), (5L, 20L, 9.0))
        .toDF("id", "g", "x"), r)
    var st = IncrementalView.stateDistinct(
      VersionedTable.read(spark, r, Some(0L)), "g", "x")
    st = IncrementalView.applyFeedDistinct(st,
      VersionedTable.changeFeed(spark, r, 0L, 1L, Seq("id")), "g", "x")
    val got = IncrementalView.distinctCounts(st, "g")
      .orderBy("g").as[(Long, Long)].collect().toSeq
    // g10: {5.0} -> 1 distinct (7.0 became 5.0, one 5.0 copy deleted);
    // g20: {2.0, 9.0} -> 2
    assert(got == Seq((10L, 1L), (20L, 2L)))
    val full = VersionedTable.read(spark, r)
      .groupBy("g").agg(org.apache.spark.sql.functions.countDistinct($"x").as("n"))
      .orderBy("g").as[(Long, Long)].collect().toSeq
    assert(got == full)
  }

  test("a pk-last table keeps its column order, so changeFeed works") {
    val r = root()
    VersionedTable.write(Seq(("a", 1L), ("b", 2L)).toDF("name", "id"), r)
    VersionedTable.upsert(spark, r, Seq(("B", 2L)).toDF("name", "id"), Seq("id"))
    VersionedTable.delete(spark, r, Seq(1L).toDF("id"), Seq("id"))
    assert(VersionedTable.read(spark, r).columns.toSeq == Seq("name", "id"))
    val feed = VersionedTable.changeFeed(spark, r, 0L, 2L, Seq("id"))
      .select("id", "name", "__sign").as[(Long, String, Long)].collect().toSet
    assert(feed == Set((1L, "a", -1L), (2L, "b", -1L), (2L, "B", 1L)))
  }

  test("versioned delete commits an anti-joined snapshot, history intact") {
    val r = root()
    VersionedTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), r)
    VersionedTable.delete(spark, r, Seq(2L).toDF("id"), Seq("id"))
    assert(VersionedTable.read(spark, r).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (3L, "c")))
    assert(VersionedTable.read(spark, r, asOf = Some(0L)).count() == 3)
  }

  test("rollback repoints; vacuum keeps the pointed version") {
    val r = root()
    VersionedTable.write(Seq((1L, "v0")).toDF("id", "v"), r)
    VersionedTable.write(Seq((1L, "v1")).toDF("id", "v"), r)
    VersionedTable.write(Seq((1L, "v2")).toDF("id", "v"), r)
    VersionedTable.rollback(r, 1L)
    assert(VersionedTable.read(spark, r).as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1")))
    VersionedTable.vacuum(r, keepLast = 1)
    assert(VersionedTable.versions(r).contains(1L)) // pointer target survives
    assert(VersionedTable.read(spark, r).count() == 1)
  }

  test("concurrent pointer commits never share a temp file") {
    // a fixed temp name let one commit truncate or rename away the
    // other's temp file mid-commit, failing it with NoSuchFileException
    val r = root()
    Seq(0L, 1L).foreach(v =>
      Files.createDirectories(java.nio.file.Paths.get(r, s"v=$v")))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(0L, 1L).map { v =>
      new Thread(() =>
        try (1 to 2000).foreach(_ => VersionedTable.rollback(r, v))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"a commit failed: ${errors.peek()}")
    assert(Set(0L, 1L).contains(VersionedTable.latestVersion(r).get))
  }

  test("listing and vacuuming versions close their directory streams") {
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs Linux /proc")
    def open(): Int = {
      val ls = Files.list(fds)
      try ls.count().toInt finally ls.close()
    }
    val r = root()
    (0 to 3).foreach(i => VersionedTable.write(Seq((i.toLong, "v")).toDF("id", "v"), r))
    val before = open()
    (1 to 200).foreach(_ => assert(VersionedTable.versions(r) == Seq(0L, 1L, 2L, 3L)))
    VersionedTable.vacuum(r)
    assert(VersionedTable.versions(r) == Seq(3L))
    // a small slack for descriptors other threads open meanwhile
    val grown = open() - before
    assert(grown <= 20, s"$grown file descriptors leaked")
  }
}
