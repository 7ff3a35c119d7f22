package graft.warehouse

import java.sql.Date
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

class DataTestsSpec extends SparkSpec {
  import spark.implicits._

  test("run evaluates a whole table suite correctly in a single action") {
    val df = Seq((1L, "a", "X"), (2L, null, "Stock"), (2L, "c", "FX"))
      .toDF("id", "name", "kind")
    val parent = Seq("a", "c").toDF("pname")
    val executions = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { executions.incrementAndGet(); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = DataTests.run("t", df, Seq(
        DataTests.NotNull("name"),
        DataTests.Unique("id"),
        DataTests.AcceptedValues("kind", Seq("Stock", "FX")),
        DataTests.Relationships("name", parent, "pname")))
      assert(res.map(r => (r.check, r.column, r.violations)) == Seq(
        ("not_null", "name", 1L),
        ("unique", "id", 1L),
        ("accepted_values", "kind", 1L),
        ("relationships", "name", 1L)))
      // the listener bus is async: wait for it to drain, then the whole
      // 4-check suite must have been ONE action (dbt-style one statement
      // per test would show 4)
      val deadline = System.nanoTime() + 5_000_000_000L
      while (executions.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500) // allow any extra (unexpected) executions to land
      assert(executions.get() == 1,
        s"expected the suite to run as one action, saw ${executions.get()}")
    } finally spark.listenerManager.unregister(listener)
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

  test("empty table: counts are zero, not null") {
    val df = Seq.empty[(Long, String)].toDF("id", "name")
    val res = DataTests.run("t", df,
      Seq(DataTests.NotNull("name"), DataTests.Unique("id")))
    assert(res.forall(_.violations == 0L))
    assert(res.forall(_.passed))
  }
}
