package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("VecDot equals the zip_with/aggregate sequential-double form") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f)),
      (Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)).collect().map(_.getDouble(0)).toSeq
    val fast = df.select(VectorExpressions.dot(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    assert(fast == hof) // bit-exact, not approximate
  }

  test("cosine: orthogonal -> 0, parallel -> 1, zero vector -> null") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(2.0f, 0.0f), Array(5.0f, 0.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 0.0)
    assert(got(1).getDouble(0) == 1.0)
    assert(got(2).isNullAt(0))
  }

  test("cosineWithNorms is bit-identical to inline cosine") {
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 1.75f, -0.625f)),
      (Array(9.9f, 8.8f, 7.7f), Array(0.01f, 0.02f, 0.03f))).toDF("a", "b")
    val inline = df.select(VectorFunctions.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    val pre = df
      .withColumn("na", VectorFunctions.norm(col("a")))
      .withColumn("nb", VectorFunctions.norm(col("b")))
      .select(VectorFunctions.cosineWithNorms(
        VectorFunctions.dot(col("a"), col("b")), col("na"), col("nb")))
      .collect().map(_.getDouble(0)).toSeq
    assert(pre == inline)
  }

  test("l2sq computes the squared-diff sum") {
    val df = Seq((Array(1.0f, 2.0f), Array(4.0f, 6.0f))).toDF("a", "b")
    val got = df.select(VectorExpressions.l2sq(col("a"), col("b")))
      .collect()(0).getDouble(0)
    assert(got == 25.0)
  }

  test("null vector propagates null") {
    val df = Seq((Array(1.0f), Option.empty[Array[Float]])).toDF("a", "b")
    val got = df.select(VectorExpressions.dot(col("a"), col("b"))).collect()
    assert(got(0).isNullAt(0))
  }

  test("hyperplaneSig: deterministic, partition-independent, sign-sensible") {
    val vs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
    val df = vs.toDF("id", "v")
    def sigs(parts: Int): Seq[(Long, Long)] = df.repartition(parts)
      .select(col("id"), VectorExpressions.hyperplaneSig(col("v"), 16).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(sigs(1) == sigs(8))
    // a vector and its negation flip every non-zero-dot sign bit
    val pair = Seq((1L, Array(1.0f, 2.0f, -3.0f)),
      (2L, Array(-1.0f, -2.0f, 3.0f))).toDF("id", "v")
      .select(VectorExpressions.hyperplaneSig(col("v"), 16))
      .collect().map(_.getLong(0))
    assert(pair(0) != pair(1))
    // identical vectors share every band of the signature
    val same = Seq((1L, Array(0.5f, 0.25f)), (2L, Array(0.5f, 0.25f)))
      .toDF("id", "v")
      .select(VectorExpressions.hyperplaneSig(col("v"), 16))
      .collect().map(_.getLong(0))
    assert(same(0) == same(1))
  }
}
