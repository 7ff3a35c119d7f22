package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SizingSpec extends SparkSpec {
  import spark.implicits._

  test("fitsBroadcast enforces both the row cap and the byte cap") {
    val small = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    assert(Sizing.fitsBroadcast(small, rowLimit = 100, byteLimit = 1 << 20))
    assert(!Sizing.fitsBroadcast(small, rowLimit = 5, byteLimit = 1 << 20))
    val fat = (1 to 10).map(i => (i.toLong, "x" * 10000)).toDF("id", "v")
    assert(!Sizing.fitsBroadcast(fat, rowLimit = 100, byteLimit = 1000))
  }

  test("fitsBroadcast survives duplicate and dotted column names") {
    // by-name resolution would AnalysisException on either of these; the
    // positional probe must instead return a decision
    val dup = Seq((1, 2), (3, 4)).toDF("a", "a")
    assert(Sizing.fitsBroadcast(dup, rowLimit = 10, byteLimit = 1 << 20))
    val dotted = Seq((1L, "x"), (2L, "y")).toDF("k.ey", "v")
    assert(Sizing.fitsBroadcast(dotted, rowLimit = 10, byteLimit = 1 << 20))
    assert(!Sizing.fitsBroadcast(dotted, rowLimit = 1, byteLimit = 1 << 20))
  }

  test("fitsBroadcast measures variable-width and nested columns") {
    val nested = Seq(
      (1L, Seq("abc", "defg"), Map("k" -> 1)),
      (2L, Seq("h"), Map("k" -> 2))).toDF("id", "toks", "m")
    assert(Sizing.fitsBroadcast(nested, rowLimit = 10, byteLimit = 1 << 20))
    assert(!Sizing.fitsBroadcast(nested, rowLimit = 10, byteLimit = 10))
  }

  test("materialize returns the rows and their count, empty input included") {
    val df = spark.range(0, 10).select(($"id" % 3).as("k")).distinct()
    val (rows, n) = Sizing.materialize(df)
    assert(n == 3L)
    assert(rows.orderBy("k").as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    // an empty plan still reports its count instead of leaving it unset
    val (none, zero) = Sizing.materialize(df.where(lit(false)))
    assert(zero == 0L && none.isEmpty)
    val (noRows, z) = Sizing.materialize(Seq.empty[(Long, String)].toDF("id", "v"))
    assert(z == 0L && noRows.columns.toSeq == Seq("id", "v"))
  }

  test("materializeSized measures array rows; a wide-row frame over the " +
      "byte cap is left unhinted") {
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    // key-frame-shaped rows: every row carries a 2000-hash witness set
    val wide = spark.range(0, 8).select($"id".as("k.id"),
      array_repeat($"id", 2000).as("hashes"), lit("t").as("text"))
    val (rows, n, bytes) = Sizing.materializeSized(wide)
    assert(n == 8L && rows.columns.toSeq == wide.columns.toSeq)
    assert(bytes >= 8L * 2000 * 8)
    assert(hinted(Sizing.broadcastIfFits(rows, n, bytes)))
    // far under the row cap, but as many such rows as overflow the byte
    // cap: no hint, whatever the row count says
    val over = Sizing.DefaultBroadcastBytes / (bytes / n) + 1
    assert(over < Sizing.DefaultBroadcastRows)
    assert(!hinted(Sizing.broadcastIfFits(rows, over, over * (bytes / n))))
    assert(!hinted(Sizing.broadcastIfFits(rows,
      Sizing.DefaultBroadcastRows + 1, bytes)))
    val (none, zero, noBytes) = Sizing.materializeSized(wide.where(lit(false)))
    assert(zero == 0L && noBytes == 0L && none.isEmpty)
  }

  test("fanOut raises an under-partitioned narrow frame to the session " +
      "parallelism and leaves everything else untouched") {
    val target = spark.sparkContext.defaultParallelism
    // the real under-partitioned case: a SINGLE-FILE parquet scan
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout")
    (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "t")
      .coalesce(1).write.parquet(s"$dir/t")
    val one = spark.read.parquet(s"$dir/t")
    val fanned = Sizing.fanOut(one)
    assert(fanned.rdd.getNumPartitions == target)
    assert(fanned.select("id").as[Long].collect().sorted.toSeq ==
      (1L to 100L))
    // explicitly repartitioned frame: the plan is not narrow-from-leaf
    // (a RepartitionOperation is the caller's own choice) -> untouched
    val wide = one.repartition(target)
    assert(Sizing.fanOut(wide) eq wide)
    // non-narrow plan (aggregate): input arrives via a shuffle at the
    // session's shuffle parallelism already -> untouched (and the
    // narrow gate means the probe never plans-and-runs the aggregate)
    val agg = one.groupBy("t").count()
    assert(Sizing.fanOut(agg) eq agg)
    graft.store.UpsertWriter.deleteRecursively(dir)
  }

  test("fanOut leaves simhashNearDupPairs' rows identical") {
    // the one fanned operator: pair set must not depend on partitioning.
    // The single-file parquet read-back is the side that actually goes
    // THROUGH fanOut's injected repartition (narrow-from-leaf, 1
    // partition); coalesce/repartition inputs fail the narrow gate, so
    // comparing only those two would leave the fanned path untested
    // (r17 ADVICE)
    val docs = (1L to 40L).map(i =>
        (i, if (i % 2 == 0) "alpha beta gamma delta" + i
        else "alpha beta gamma delta")) // odd ids are exact dups
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout_pairs")
    docs.coalesce(1).write.parquet(s"$dir/docs")
    val one = spark.read.parquet(s"$dir/docs")
    // precondition of the comparison: the scan side IS fanned
    assert(Sizing.fanOut(one).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhashNearDupPairs(df, maxHamming = 2)
        .as[(Long, Long, Long)].collect().toSet
    val fanned = pairs(one)
    assert(fanned == pairs(docs.repartition(8)))
    assert(fanned.nonEmpty)
    graft.store.UpsertWriter.deleteRecursively(dir)
  }
}
