package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: with GraftExtensions installed the native kernels are
  * callable from plain SQL with results identical to the Column API.
  * (Uses install-on-running-session; `withExtensions` covers the
  * spark.sql.extensions config path with the same function list.)
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSpec.session
    GraftExtensions.install(s)
    s
  }

  test("vec_dot / graft_tokens / graft_shingles / minhash_sig work from SQL") {
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), "the quick brown fox"))
      .toDF("a", "b", "text").createOrReplaceTempView("t")
    val row = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_l2sq(a, b) AS l2,
        |  graft_tokens(text) AS toks,
        |  graft_shingles(text, 2) AS sh,
        |  minhash_sig(text, 4, 2) AS sig
        |FROM t""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 8.0)
    assert(row.getSeq[String](2) == Seq("the", "quick", "brown", "fox"))
    assert(row.getSeq[String](3) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(row.getSeq[Long](4).length == 4)
    // SQL result equals the Column-API kernel
    val viaApi = Seq("the quick brown fox").toDF("text")
      .select(graft.functions.TextExpressions.minhashSig($"text", 4, 2))
      .collect()(0).getSeq[Long](0)
    assert(row.getSeq[Long](4) == viaApi)
  }

  test("simhash / vec_hyperplane_sig work from SQL and match the Column API") {
    import spark.implicits._
    Seq((Array(1.0f, -2.0f, 0.5f), "the quick brown fox"))
      .toDF("v", "text").createOrReplaceTempView("t2")
    val row = spark.sql(
      "SELECT simhash(text, 16) AS sh, vec_hyperplane_sig(v, 16) AS hs FROM t2")
      .collect()(0)
    val viaApi = Seq((Array(1.0f, -2.0f, 0.5f), "the quick brown fox"))
      .toDF("v", "text")
      .select(
        graft.functions.TextExpressions.simhash($"text", 16),
        graft.functions.VectorExpressions.hyperplaneSig($"v", 16))
      .collect()(0)
    assert(row.getLong(0) == viaApi.getLong(0))
    assert(row.getLong(1) == viaApi.getLong(1))
  }

  test("repetition_stats works from SQL and matches the Column API") {
    import spark.implicits._
    Seq("aaa\nbb\naaa", "x y x y").toDF("text").createOrReplaceTempView("t2r")
    val viaSql = spark.sql(
      "SELECT repetition_stats(text) AS st FROM t2r")
      .collect().map(_.getSeq[Long](0)).toSeq
    val viaApi = Seq("aaa\nbb\naaa", "x y x y").toDF("text")
      .select(graft.functions.TextExpressions.repetitionStats($"text"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(viaSql == viaApi)
    assert(viaSql.head == Seq(3L, 2L, 8L, 6L, 1L, 6L))
  }

  test("nfc_normalize works from SQL and matches the Column API") {
    import spark.implicits._
    val rows = Seq("Cafe\u0301", "plain") // decomposed accent
    rows.toDF("text").createOrReplaceTempView("t2n")
    val viaSql = spark.sql("SELECT nfc_normalize(text) AS n FROM t2n")
      .collect().map(_.getString(0)).toSeq
    val viaApi = rows.toDF("text")
      .select(graft.functions.TextExpressions.nfcNormalize($"text"))
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == viaApi)
    assert(viaSql == Seq("Caf\u00e9", "plain")) // composed out
  }

  test("zvalue works from SQL and matches the ZOrder Column API") {
    import spark.implicits._
    Seq((5L, 3L, 1L)).toDF("x", "y", "w").createOrReplaceTempView("t3")
    val viaSql = spark.sql(
      "SELECT zvalue(x, y, 4) AS z2, zvalue(x, y, w, 4) AS z3 FROM t3")
      .collect()(0)
    val viaApi = Seq((5L, 3L, 1L)).toDF("x", "y", "w").select(
      graft.store.ZOrder.zValueN(Seq($"x", $"y"), 4).as("z2"),
      graft.store.ZOrder.zValueN(Seq($"x", $"y", $"w"), 4).as("z3"))
      .collect()(0)
    assert(viaSql.getLong(0) == viaApi.getLong(0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))
  }

  test("BpeCountRewrite: size(bpeEncode) optimizes to the count kernel, values equal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size => sqlSize}
    val pieces = Seq("ab" -> 1, "abc" -> 2, "a" -> 3, "b" -> 11, "c" -> 12)
    // repartition keeps the relation non-local: over a bare Seq the
    // ConvertToLocalRelation batch folds the whole projection before
    // the injected rule is observable
    val docs = Seq((1L, "abc ab ba zx"), (2L, "abab"), (3L, "abca"),
      (4L, ""), (5L, null: String)).toDF("doc_id", "text").repartition(2)
    val naive = docs.select(col("doc_id"),
      sqlSize(graft.functions.TextFunctions.bpeEncode(col("text"), pieces))
        .as("n"))
    // install() put the rule on experimental.extraOptimizations: the
    // optimized plan must carry BpeCountExpr, not Size(BpeEncodeExpr)
    val optimized = naive.queryExecution.optimizedPlan
    val exprs = optimized.expressions.flatMap(_.collect {
      case e: graft.functions.BpeCountExpr => e
      case e: graft.functions.BpeEncodeExpr => e
    })
    assert(exprs.exists(_.isInstanceOf[graft.functions.BpeCountExpr]),
      s"rewrite did not fire: $optimized")
    assert(!exprs.exists(_.isInstanceOf[graft.functions.BpeEncodeExpr]),
      s"encode survived the rewrite: $optimized")
    // values: rewritten == direct count kernel == hand-computed
    val got = naive.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else Integer.valueOf(r.getInt(1)))).toMap
    val direct = docs.select(col("doc_id"),
        graft.functions.TextFunctions.bpeCount(col("text"), pieces).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else Integer.valueOf(r.getInt(1)))).toMap
    assert(got == direct)
    assert(got == Map(1L -> 6, 2L -> 2, 3L -> 2, 4L -> 0, 5L -> null))
  }

  test("non-literal k is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig('x', 1 + 1, 3)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
