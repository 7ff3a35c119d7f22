package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks — the dbt test surface
  * (reference: dw_transformer/models/properties.yml; SURVEY.md §2.9).
  *
  * [[coreModelSuite]] is the daily run's suite: the reference's ten
  * declared checks over `dim_symbols` and `fct_prices`, counted in ONE
  * Spark action (dbt runs its generated tests one statement at a time).
  * The single-check forms (`notNull`, `unique`, `acceptedValues`,
  * `relationships`) return the VIOLATING rows, exactly like dbt's
  * generated `SELECT ... WHERE <violation>` tests; they state each check's
  * meaning, and DataTestsSpec compares the suite's counts against them.
  */
object DataTests {

  /** dbt `not_null` (properties.yml:11,19,...). */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.where(col(column).isNull)

  /** dbt `unique` (properties.yml:12,21,104). */
  def unique(df: DataFrame, column: String): DataFrame =
    df.groupBy(col(column)).count().where(col("count") > 1)

  /** dbt `accepted_values` (properties.yml:36-52,119-142). */
  def acceptedValues(df: DataFrame, column: String, values: Seq[Any]): DataFrame =
    df.where(!col(column).isin(values: _*) || col(column).isNull)

  /** dbt `relationships` (properties.yml:105-108,157-160): every child key
    * must exist in the parent. Returns orphan child rows.
    */
  def relationships(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.join(
      broadcast(parent.select(col(parentKey).as(childKey)).distinct()),
      Seq(childKey), "left_anti")

  final case class CheckResult(table: String, check: String, column: String,
      violations: Long) {
    def passed: Boolean = violations == 0L
  }

  sealed trait Check { def name: String; def column: String }
  final case class NotNull(column: String) extends Check { val name = "not_null" }
  final case class Unique(column: String) extends Check { val name = "unique" }
  final case class AcceptedValues(column: String, values: Seq[Any]) extends Check {
    val name = "accepted_values"
  }

  /** Every `column` value must exist in the other table of
    * [[coreModelSuite]]. */
  final case class Relationships(column: String) extends Check {
    val name = "relationships"
  }

  /** The reference's full declared suite over the two core models
    * (properties.yml:96-160), both directions of the dim↔fct relationship
    * included. Every check keys on `symbol` or is a row predicate, so each
    * table is grouped ONCE on `symbol` (its row count plus one partial
    * count per row-predicate check) and the two grouped frames full-outer
    * join once on `symbol`; one global aggregate over the joined groups
    * yields all ten counts. The whole suite is one Spark action.
    */
  def coreModelSuite(dimSymbols: DataFrame, fctPrices: DataFrame): Seq[CheckResult] = {
    val dimChecks = Seq[Check](
      NotNull("symbol"), Unique("symbol"),
      AcceptedValues("asset_type", Seq("FX", "Stock")),
      AcceptedValues("in_sp400", Seq(true, false)),
      AcceptedValues("in_sp500", Seq(true, false)),
      AcceptedValues("in_sp600", Seq(true, false)),
      Relationships("symbol"))
    val fctChecks = Seq[Check](
      NotNull("date_stamp"), NotNull("symbol"),
      Relationships("symbol"))
    val (dim, dimCounts) = keyed(dimSymbols, dimChecks, "symbol", "d", "f")
    val (fct, fctCounts) = keyed(fctPrices, fctChecks, "symbol", "f", "d")
    // `===` never matches a null key: a null symbol is an orphan on its
    // own side, exactly as in the reference's left-anti joins
    val counts = dimCounts ++ fctCounts
    val row = dim.join(fct, col("dkey") === col("fkey"), "full_outer")
      .agg(counts.head, counts.tail: _*)
      .head()
    (dimChecks.map(("dim_symbols", _)) ++ fctChecks.map(("fct_prices", _)))
      .zipWithIndex.map { case ((table, c), i) =>
        CheckResult(table, c.name, c.column, row.getLong(i))
      }
  }

  /** One table's side of [[coreModelSuite]]: the table grouped on `key`
    * into `<p>key`, its group row count `<p>n` and a partial count per
    * row-predicate check; plus each check's total over the full-outer-
    * joined groups, where `<other>n` is null exactly when the other table
    * lacks the key. `unique` and `relationships` must be on `key`; a
    * relationship's parent is the other table's grouped side.
    */
  private def keyed(df: DataFrame, checks: Seq[Check], key: String,
      p: String, other: String): (DataFrame, Seq[Column]) = {
    val n = col(s"${p}n")
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    val partials = checks.zipWithIndex.collect {
      case (NotNull(c), i) if c != key =>
        count(when(col(c).isNull, 1)).as(s"$p$i")
      case (AcceptedValues(c, vs), i) =>
        count(when(!col(c).isin(vs: _*) || col(c).isNull, 1)).as(s"$p$i")
    }
    val totals = checks.zipWithIndex.map {
      case (NotNull(`key`), _) => total(when(col(s"${p}key").isNull, n))
      case (NotNull(_) | AcceptedValues(_, _), i) => total(col(s"$p$i"))
      case (Unique(`key`), _) => count(when(n > 1, 1))
      case (Relationships(`key`), _) =>
        total(when(col(s"${other}n").isNull, n))
      case (c, _) => throw new IllegalArgumentException(
        s"${c.name}(${c.column}) is not keyed on $key")
    }
    (df.groupBy(col(key).as(s"${p}key"))
      .agg(count(lit(1)).as(s"${p}n"), partials: _*), totals)
  }
}
