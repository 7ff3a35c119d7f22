package graft.warehouse

import java.sql.Date

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class DataTestsSpec extends SparkSpec {
  import spark.implicits._

  test("coreModelSuite evaluates the whole suite in a single action") {
    val dim = Seq(("A", "Stock", true, false, false), ("B", "FX", false, false, false))
      .toDF("symbol", "asset_type", "in_sp400", "in_sp500", "in_sp600")
    val fct = Seq((Date.valueOf("2024-01-02"), "A"), (Date.valueOf("2024-01-02"), "Z"))
      .toDF("date_stamp", "symbol")
    val rec = new graft.tools.Profile.Recorder(spark)
    val (res, run) = try rec.record(DataTests.coreModelSuite(dim, fct))
      finally rec.close()
    // dbt-style one statement per check would show ten
    assert(run.executions.length == 1,
      s"expected one action, saw ${run.executions.map(_.description)}")
    assert(res.map(r => (r.table, r.check, r.violations)).filter(_._3 > 0) ==
      Seq(("dim_symbols", "relationships", 1L), ("fct_prices", "relationships", 1L)))
  }

  test("coreModelSuite counts equal each reference check run on its own") {
    import DataTests._
    val dim = Seq[(String, String, java.lang.Boolean, java.lang.Boolean, java.lang.Boolean)](
      ("A", "Stock", true, false, false),
      ("A", "Stock", false, true, false), // duplicated dim symbol
      ("B", "FX", false, false, null),
      ("D", "Bond", false, false, false), // bad asset_type, no prices
      ("E", null, null, null, true),      // null asset_type and in_sp flags
      (null, "Stock", false, null, false), // null symbol
      (null, "FX", false, false, false))
      .toDF("symbol", "asset_type", "in_sp400", "in_sp500", "in_sp600")
    val fct = Seq[(Date, String)](
      (Date.valueOf("2024-01-02"), "A"),
      (Date.valueOf("2024-01-02"), "B"),
      (null, "B"),
      (Date.valueOf("2024-01-02"), "E"),
      (Date.valueOf("2024-01-02"), "Z"), // not in the dim
      (Date.valueOf("2024-01-03"), "Z"),
      (Date.valueOf("2024-01-02"), null)) // null symbol
      .toDF("date_stamp", "symbol")
    def reference(d: DataFrame, f: DataFrame): Seq[Long] = Seq(
      notNull(d, "symbol"), unique(d, "symbol"),
      acceptedValues(d, "asset_type", Seq("FX", "Stock")),
      acceptedValues(d, "in_sp400", Seq(true, false)),
      acceptedValues(d, "in_sp500", Seq(true, false)),
      acceptedValues(d, "in_sp600", Seq(true, false)),
      relationships(d, "symbol", f, "symbol"),
      notNull(f, "date_stamp"), notNull(f, "symbol"),
      relationships(f, "symbol", d, "symbol")).map(_.count())
    def suite(d: DataFrame, f: DataFrame): Seq[Long] =
      coreModelSuite(d, f).map(_.violations)

    val want = reference(dim, fct)
    // every check is exercised, null keys included
    assert(want == Seq(2L, 2L, 2L, 1L, 2L, 1L, 3L, 1L, 1L, 3L))
    assert(suite(dim, fct) == want)
    val noDim = dim.limit(0)
    val noFct = fct.limit(0)
    assert(suite(noDim, noFct) == reference(noDim, noFct))
    assert(suite(noDim, noFct).forall(_ == 0L))
    assert(coreModelSuite(dim, fct).map(r => (r.table, r.check, r.column)) == Seq(
      ("dim_symbols", "not_null", "symbol"), ("dim_symbols", "unique", "symbol"),
      ("dim_symbols", "accepted_values", "asset_type"),
      ("dim_symbols", "accepted_values", "in_sp400"),
      ("dim_symbols", "accepted_values", "in_sp500"),
      ("dim_symbols", "accepted_values", "in_sp600"),
      ("dim_symbols", "relationships", "symbol"),
      ("fct_prices", "not_null", "date_stamp"), ("fct_prices", "not_null", "symbol"),
      ("fct_prices", "relationships", "symbol")))
  }
}
