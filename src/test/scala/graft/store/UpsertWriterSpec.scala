package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, concat, lit, raise_error, udf, when}

import graft.SparkSpec

/** Merge/replace semantics per the reference's load tests
  * (tests/load_test.py:92-157,207-265): new PKs insert, existing PKs are
  * replaced, re-merging the same batch is a no-op (idempotent).
  */
class UpsertWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_upsert_").toString + "/t"

  test("first upsert creates the table") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    assert(spark.read.parquet(p).count() == 2)
  }

  test("merge replaces matching PKs and inserts new ones") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    UpsertWriter.upsert(spark, p, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("merge keeps the table's column order when the pk is not first") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq(("a", 1L), ("b", 2L)).toDF("v", "id"), Seq("id"))
    UpsertWriter.upsert(spark, p, Seq(("B", 2L), ("c", 3L)).toDF("v", "id"), Seq("id"))
    assert(spark.read.parquet(p).columns.toSeq == Seq("v", "id"))
    assert(UpsertWriter.mergePlan(spark.read.parquet(p),
      Seq(("C", 3L)).toDF("v", "id"), Seq("id")).columns.toSeq == Seq("v", "id"))
  }

  test("merge is idempotent: re-merging the same batch changes nothing") {
    val p = tmp()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    UpsertWriter.upsert(spark, p, batch, Seq("id"))
    UpsertWriter.upsert(spark, p, batch, Seq("id"))
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("composite primary key merges on the full key") {
    val p = tmp()
    UpsertWriter.upsert(spark, p,
      Seq((1L, "x", 10.0), (1L, "y", 20.0)).toDF("id", "k", "v"), Seq("id", "k"))
    UpsertWriter.upsert(spark, p,
      Seq((1L, "y", 99.0)).toDF("id", "k", "v"), Seq("id", "k"))
    val got = spark.read.parquet(p).orderBy("id", "k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "x", 10.0), (1L, "y", 99.0)))
  }

  test("replace overwrites the whole table") {
    val p = tmp()
    UpsertWriter.replace(Seq((1L, "a")).toDF("id", "v"), p)
    UpsertWriter.replace(Seq((9L, "z")).toDF("id", "v"), p)
    val got = spark.read.parquet(p).as[(Long, String)].collect().toSeq
    assert(got == Seq((9L, "z")))
  }

  test("a replace whose write fails keeps the old table and leaves no __tmp") {
    val p = tmp()
    UpsertWriter.replace(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), p)
    // the error fires inside the write job, not while planning it
    val failing = spark.range(1, 3).select(col("id"),
      when(col("id") === 2L, raise_error(lit("replace write fails")))
        .otherwise(lit("x")).as("v"))
    intercept[Exception](UpsertWriter.replace(failing, p))
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)]
      .collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    assert(!Files.exists(Paths.get(p + "__tmp")))
  }

  test("update batch with internal PK dups is deduped before merge") {
    val p = tmp()
    UpsertWriter.upsert(spark, p,
      Seq((1L, "a"), (1L, "a2")).toDF("id", "v"), Seq("id"))
    assert(spark.read.parquet(p).count() == 1)
  }

  test("merge semantics are identical when the broadcast guard rejects") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    // force the non-broadcast (shuffle join) fallback path: the size
    // guard's hint is ignored and no side is broadcast by size either
    val confs = Seq("spark.sql.optimizer.disableHints" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val delta = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
      val merge = UpsertWriter.mergePlan(spark.read.parquet(p), delta, Seq("id"))
      merge.collect()
      val plan = merge.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti") && !plan.contains("BroadcastHashJoin"),
        s"expected a shuffled anti-join:\n$plan")
      UpsertWriter.upsert(spark, p, delta, Seq("id"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("partitioned upsert rewrites ONLY the touched partitions") {
    val p = tmp()
    UpsertWriter.upsertPartitioned(spark, p,
      Seq(("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"),
        ("2024-01-02", 3L, "c")).toDF("day", "id", "v"),
      Seq("day", "id"), "day")
    // record the untouched partition's file listing before the merge
    def files(day: String) =
      new java.io.File(s"$p/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val day1Before = files("2024-01-01")
    UpsertWriter.upsertPartitioned(spark, p,
      Seq(("2024-01-02", 3L, "C2"), ("2024-01-03", 4L, "d"))
        .toDF("day", "id", "v"),
      Seq("day", "id"), "day")
    // day=2024-01-01 files untouched byte-for-byte
    assert(files("2024-01-01") == day1Before)
    val got = spark.read.parquet(p).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "C2"), (4L, "d")))
  }

  test("partitioned upsert is idempotent per partition") {
    val p = tmp()
    val batch = Seq(("2024-01-01", 1L, "a")).toDF("day", "id", "v")
    UpsertWriter.upsertPartitioned(spark, p, batch, Seq("day", "id"), "day")
    UpsertWriter.upsertPartitioned(spark, p, batch, Seq("day", "id"), "day")
    assert(spark.read.parquet(p).count() == 1)
  }

  test("schema drift: a delta with a NEW column fails loudly") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    intercept[Exception] {
      UpsertWriter.upsert(spark, path,
        Seq((3L, "c", 9.9)).toDF("id", "v", "extra"), Seq("id"))
    }
    val got = spark.read.parquet(path).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("a crash between the swap's two renames loses no history") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    // the state a crash after `<path>` -> `<path>__old`, before
    // `<path>__tmp` -> `<path>`, leaves behind
    Files.move(Paths.get(p), Paths.get(p + "__old"))
    UpsertWriter.upsert(spark, p, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(!Files.exists(Paths.get(p + "__old")))
  }

  test("delete removes every row for the given keys, others survive") {
    val p = tmp()
    UpsertWriter.upsert(spark, p,
      Seq((1L, "u1", "a"), (2L, "u1", "b"), (3L, "u2", "c"), (4L, "u3", "d"))
        .toDF("id", "user", "v"), Seq("id"))
    // delete by NON-unique key: all of u1's rows go
    UpsertWriter.delete(spark, p, Seq("u1").toDF("user"), Seq("user"))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq((3L, "u2", "c"), (4L, "u3", "d")))
    // deleting an absent key is a no-op
    UpsertWriter.delete(spark, p, Seq("nope").toDF("user"), Seq("user"))
    assert(spark.read.parquet(p).count() == 2)
  }

  test("deletePartitioned prunes to touched partitions and drops emptied ones") {
    val p = tmp()
    val rows = Seq(
      ("d1", 1L, "a"), ("d1", 2L, "b"),
      ("d2", 3L, "c"), ("d3", 4L, "d"), ("d3", 5L, "e"))
      .toDF("day", "id", "v")
    rows.write.partitionBy("day").parquet(p)
    val d1File = java.nio.file.Paths.get(p, "day=d1")
    val d1Mtime = Files.getLastModifiedTime(d1File)
    // empty d2 entirely, delete one of d3's two rows; d1 untouched
    UpsertWriter.deletePartitioned(spark, p,
      Seq(("d2", 3L), ("d2", 99L), ("d3", 5L)).toDF("day", "id"),
      Seq("day", "id"), "day")
    assert(!Files.exists(java.nio.file.Paths.get(p, "day=d2")),
      "fully-emptied partition directory must be dropped")
    assert(Files.getLastModifiedTime(d1File) == d1Mtime,
      "untouched partition must not be rewritten")
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq((1L, "a", "d1"), (2L, "b", "d1"), (4L, "d", "d3")))
  }

  test("deletePartitioned handles hive-escaped partition values and rejects nulls") {
    val p = tmp()
    // ':' is hive-escaped to %3A in the partition directory name
    Seq(("d:1", 1L, "a"), ("d:1", 2L, "b"), ("d2", 3L, "c"))
      .toDF("day", "id", "v").write.partitionBy("day").parquet(p)
    UpsertWriter.deletePartitioned(spark, p,
      Seq(("d:1", 1L), ("d:1", 2L)).toDF("day", "id"), Seq("day", "id"), "day")
    val dirs = new java.io.File(p).list().toSeq
    assert(dirs.exists(_.startsWith("day=")), s"sanity: $dirs")
    assert(!dirs.exists(_.contains("d%3A1")),
      s"escaped emptied-partition dir must be dropped, saw $dirs")
    assert(spark.read.parquet(p).count() == 1)
    // null partition value in the key set fails loudly, not silently
    intercept[IllegalArgumentException] {
      UpsertWriter.deletePartitioned(spark, p,
        Seq((Option.empty[String], 3L)).toDF("day", "id"), Seq("day", "id"), "day")
    }
  }

  test("merge runs the delta's lineage once") {
    val p = tmp()
    UpsertWriter.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val table = spark.read.parquet(p)
    val before = spark.createDataFrame(table.collectAsList(), table.schema)
    // every evaluation of the delta's lineage adds its row count
    val evaluated = spark.sparkContext.longAccumulator("delta_rows")
    val tick = udf { (id: Long) => evaluated.add(1L); id }.asNondeterministic()
    val delta = spark.range(2, 6)
      .select(tick(col("id")).as("id"), concat(lit("v"), col("id")).as("v"))
    UpsertWriter.upsert(spark, p, delta, Seq("id"))
    assert(evaluated.value == 4L,
      s"the delta's 4 rows were evaluated ${evaluated.value} times")
    val got = spark.read.parquet(p).orderBy("id").as[(Long, String)].collect().toSeq
    val want = UpsertWriter.mergePlan(before, delta, Seq("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == want)
    assert(got == Seq((1L, "a"), (2L, "v2"), (3L, "v3"), (4L, "v4"), (5L, "v5")))
  }

  test("partitioned upsert and delete evaluate the delta's lineage once") {
    val p = tmp()
    UpsertWriter.upsertPartitioned(spark, p,
      Seq(("d1", 1L, "a"), ("d2", 2L, "b")).toDF("day", "id", "v"),
      Seq("day", "id"), "day")
    // every evaluation of a delta's lineage adds its row count
    val evaluated = spark.sparkContext.longAccumulator("delta_rows")
    val tick = udf { (id: Long) => evaluated.add(1L); id }.asNondeterministic()
    def ticked(from: Long, to: Long) = spark.range(from, to).select(
      concat(lit("d"), (col("id") % 2 + 1).cast("string")).as("day"),
      tick(col("id")).as("id"), concat(lit("v"), col("id")).as("v"))
    UpsertWriter.upsertPartitioned(spark, p, ticked(2, 6), Seq("day", "id"), "day")
    assert(evaluated.value == 4L,
      s"the update set's 4 rows were evaluated ${evaluated.value} times")
    evaluated.reset()
    UpsertWriter.deletePartitioned(spark, p, ticked(2, 4).drop("v"),
      Seq("day", "id"), "day")
    assert(evaluated.value == 2L,
      s"the key set's 2 rows were evaluated ${evaluated.value} times")
    val got = spark.read.parquet(p).orderBy("id", "day")
      .select("day", "id", "v").as[(String, Long, String)].collect().toSeq
    assert(got == Seq(("d1", 1L, "a"), ("d2", 2L, "b"), ("d1", 4L, "v4"),
      ("d2", 5L, "v5")))
  }

  test("no staging directory survives a partitioned write") {
    spark.version // the session's own scratch exists before the snapshot
    val root = Files.createTempDirectory("graft_upsert_")
    val p = s"$root/t"
    def names(dir: java.nio.file.Path): Set[String] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    val sysTmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch() = names(sysTmp).filter(_.startsWith("graft_"))
    val before = scratch()
    // anything new in the temp dir, or beside the table
    def leftovers() = (scratch() -- before - root.getFileName.toString) ++
      (names(root) - "t")
    UpsertWriter.upsertPartitioned(spark, p,
      Seq(("d1", 1L, "a"), ("d2", 2L, "b")).toDF("day", "id", "v"),
      Seq("day", "id"), "day")
    UpsertWriter.upsertPartitioned(spark, p,
      Seq(("d1", 3L, "c"), ("d3", 4L, "d")).toDF("day", "id", "v"),
      Seq("day", "id"), "day")
    UpsertWriter.deletePartitioned(spark, p,
      Seq(("d2", 2L), ("d3", 4L)).toDF("day", "id"), Seq("day", "id"), "day")
    assert(leftovers().isEmpty, s"left behind: ${leftovers()}")
    assert(names(java.nio.file.Paths.get(p)).filter(_.startsWith("day=")) ==
      Set("day=d1"))
    // a write that throws: d1's data page is garbage behind an intact
    // footer, so the schema reads and the staged rewrite's scan fails
    val d1 = java.nio.file.Paths.get(p, "day=d1")
    names(d1).filter(_.endsWith(".parquet")).foreach { f =>
      val ch = java.nio.channels.FileChannel.open(d1.resolve(f),
        java.nio.file.StandardOpenOption.WRITE)
      try ch.write(java.nio.ByteBuffer.wrap(Array.fill[Byte](24)(-1)), 4L)
      finally ch.close()
    }
    intercept[Exception] {
      UpsertWriter.upsertPartitioned(spark, p,
        Seq(("d1", 5L, "e")).toDF("day", "id", "v"), Seq("day", "id"), "day")
    }
    assert(leftovers().isEmpty, s"left behind by a failed write: ${leftovers()}")
  }

  test("mergePlan (relational form) matches the writer semantics") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    val got = UpsertWriter.mergePlan(target, updates, Seq("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }
}
