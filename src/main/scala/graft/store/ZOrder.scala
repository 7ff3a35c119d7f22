package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data clustering for multi-column data skipping
  * (SURVEY.md §7 scale work; the technique is public literature — Morton
  * 1966, and every lakehouse engine's OPTIMIZE ZORDER BY).
  *
  * Why it matters at 100 TB: parquet min/max footer stats prune files only
  * when the file layout correlates with the predicate column. Sorting by
  * `(a, b)` gives perfect pruning on `a` and none on `b`; interleaving the
  * bits of both keys gives every file a small rectangle in (a, b) space,
  * so point/range predicates on EITHER column skip most files. The z-value
  * is a pure narrow expression (built-in shift/and arithmetic, fully
  * codegen'd); the layout write is one range-repartition — the same
  * shuffle a plain global sort costs.
  */
object ZOrder {

  /** Morton interleave of the low `bits` bits of n ≥ 2 non-negative
    * integer columns, round-robin: bit i of column j lands at position
    * i·n + j, so every layout column contributes equally to every z-value
    * prefix (OPTIMIZE ZORDER BY (a, b, c); with two columns bit i of the
    * first lands at 2i, of the second at 2i+1). Built from shiftright /
    * bitwise-and / multiply-by-2^k only, so the expression stays in
    * whole-stage codegen and has an exact ANSI-SQL twin
    * ([[zValueNSql]]). Total bits (`bits × n`) must fit a signed long.
    */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.size
    require(n >= 2, "zValueN needs at least two columns")
    require(bits >= 1 && bits * n <= 63, s"bits*$n must fit a signed long")
    val longs = cols.map(_.cast("long"))
    (for {
      i <- 0 until bits
      (c, j) <- longs.zipWithIndex
    } yield shiftright(c, i).bitwiseAND(lit(1L)) * lit(1L << (i * n + j)))
      .reduce(_ + _)
  }

  /** The identical computation as an ANSI-SQL fragment (DuckDB-compatible:
    * `>>`, `&`, integer multiply/add) — the oracle twin of [[zValueN]].
    */
  def zValueNSql(cols: Seq[String], bits: Int = 16): String = {
    val n = cols.size
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"((($c >> $i) & 1) * ${1L << (i * n + j)})")
      .mkString("(", " + ", ")")
  }

  /** Write `df` z-ordered on `cols` into `numFiles` files
    * (`OPTIMIZE ZORDER BY (c1, …, cn)` shape): range-partition on the
    * z-value (one shuffle, same cost as a global sort), sort within each
    * partition, drop the helper column. Each output file then covers a
    * compact Morton box — min/max stats on EVERY layout column become
    * selective.
    */
  def layoutN(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int, bits: Int = 16): Unit = {
    df.withColumn("__z", zValueN(cols.map(col), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
