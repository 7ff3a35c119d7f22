package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<float>` embedding columns
  * (driver-mandated extension; embeddings.parquet carries 64-d float
  * vectors).
  *
  * Backed by the native codegen'd kernels in [[VectorExpressions]] — the
  * higher-order-function route (`zip_with`/`aggregate`) is interpreted per
  * element and was the all-pairs-cosine bottleneck. Elements are widened to
  * double BEFORE any arithmetic and accumulated left-to-right, exactly
  * matching the DuckDB oracle's `list_dot_product` on `DOUBLE[]` lists, so
  * results stay hash-comparable.
  */
object VectorFunctions {

  /** Dot product, accumulated in double, sequential over indices. */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0-vector guarded to null. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, lit(null).cast("double")).otherwise(d / n)
  }

  /** Cosine from a precomputed dot and precomputed per-side norms — use on
    * pair joins so each vector's norm is computed once per ROW, not once
    * per PAIR. Bit-identical to [[cosine]]: the norms are the same doubles
    * wherever they are computed.
    */
  def cosineWithNorms(d: Column, na: Column, nb: Column): Column = {
    val n = na * nb
    when(n === 0.0, lit(null).cast("double")).otherwise(d / n)
  }
}
