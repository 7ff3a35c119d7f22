package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (x even positions, y odd)") {
    // x=0b101 (5), y=0b011 (3): bits -> 1 + 2 + 0 + 8 + 16 + 0 = 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zValueN(Seq(col("x"), col("y")), bits = 4).as("z"))
      .collect()(0).getLong(0)
    assert(got == 27L)
    // a zero y spreads x's bits to even positions
    val gx = Seq((7L, 0L)).toDF("x", "y")
      .select(ZOrder.zValueN(Seq(col("x"), col("y")), bits = 4).as("z"))
      .collect()(0).getLong(0)
    assert(gx == (1L + 4L + 16L)) // 0b010101
    // monotone on the diagonal: z(i,i) strictly increases
    val diag = (0L until 16L).map(i => Seq((i, i)).toDF("x", "y")
      .select(ZOrder.zValueN(Seq(col("x"), col("y")), bits = 8)).collect()(0).getLong(0))
    assert(diag == diag.sorted && diag.distinct.size == 16)
  }

  test("zValueN round-robins bits across N columns") {
    // n=3, values (1,1,1): bit 0 of each lands at positions 0,1,2 -> 7
    val df3 = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
    val z3 = df3.select(ZOrder.zValueN(
      Seq(col("a"), col("b"), col("c")), bits = 4)).collect()(0).getLong(0)
    assert(z3 == 7L)
    // (2,0,1): a bit1 -> pos 3 (8); c bit0 -> pos 2 (4)
    val z312 = Seq((2L, 0L, 1L)).toDF("a", "b", "c")
      .select(ZOrder.zValueN(Seq(col("a"), col("b"), col("c")), bits = 4))
      .collect()(0).getLong(0)
    assert(z312 == 12L)
    // bit budget guard: 16 bits x 4 cols = 64 > 63 must be rejected
    intercept[IllegalArgumentException] {
      ZOrder.zValueN(Seq(col("a"), col("b"), col("c"), col("a")), bits = 16)
    }
  }

  test("z-order layout prunes files on BOTH columns; linear sort only on one") {
    // 64x64 grid of (a, b) points, 16 files either way
    val grid = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val df = grid.toDF("a", "b")
    val zPath = Files.createTempDirectory("graft_z_").toString + "/t"
    val linPath = Files.createTempDirectory("graft_z_").toString + "/t"
    ZOrder.layoutN(df, Seq("a", "b"), zPath, numFiles = 16, bits = 8)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linPath)

    // candidate files for predicate `lo <= c < hi`: files whose [min,max]
    // span of c intersects the range — what parquet footer pruning sees
    def candidates(path: String, c: String, lo: Long, hi: Long): Int = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
      files.count { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).collect()(0)
        r.getLong(0) < hi && r.getLong(1) >= lo
      }
    }
    // on `b`, the a-sorted layout cannot prune anything (every file spans
    // all b); the z-order layout must skip most files
    val zB = candidates(zPath, "b", 0, 8)
    val linB = candidates(linPath, "b", 0, 8)
    assert(linB == 16, "linear-on-a layout has no b selectivity")
    assert(zB <= 8, s"z-order should prune most files on b, saw $zB/16")
    // and on `a` the z-order layout still prunes (rectangles, not stripes)
    val zA = candidates(zPath, "a", 0, 8)
    assert(zA <= 8, s"z-order should prune most files on a, saw $zA/16")
  }

  test("3-column z-order layout prunes on EVERY column; linear sort on neither trailing one") {
    // 16x16x16 grid, 16 files: each z-contiguous file is a box of
    // 8x8x4 cells (low 8 of 12 interleaved bits: a,b get 3, c gets 2), so
    // footer min/max pruning works on all three axes
    val grid = for (a <- 0 until 16; b <- 0 until 16; c <- 0 until 16)
      yield (a.toLong, b.toLong, c.toLong)
    val df = grid.toDF("a", "b", "c")
    val zPath = Files.createTempDirectory("graft_z3_").toString + "/t"
    val linPath = Files.createTempDirectory("graft_z3_").toString + "/t"
    ZOrder.layoutN(df, Seq("a", "b", "c"), zPath, numFiles = 16, bits = 4)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linPath)
    def candidates(path: String, c: String, lo: Long, hi: Long): Int = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
      files.count { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).collect()(0)
        r.getLong(0) < hi && r.getLong(1) >= lo
      }
    }
    // the a-sorted layout has zero selectivity on b and c
    assert(candidates(linPath, "b", 0, 4) == 16)
    assert(candidates(linPath, "c", 0, 4) == 16)
    // the z-order layout prunes on every single-column predicate,
    // including the two the linear sort cannot touch
    val (zA, zB, zC) = (candidates(zPath, "a", 0, 4),
      candidates(zPath, "b", 0, 4), candidates(zPath, "c", 0, 4))
    assert(zA <= 8, s"expected a-pruning, saw $zA/16")
    assert(zB <= 8, s"expected b-pruning, saw $zB/16")
    assert(zC <= 8, s"expected c-pruning, saw $zC/16")
  }
}
