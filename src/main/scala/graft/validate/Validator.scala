package graft.validate

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas.ColumnPattern

/** Pandera-parity declared-schema validation (reference:
  * py_pipeline/validate.py, invoked at transform.py:32,76 and load.py:55-63).
  *
  * Features reproduced (SURVEY.md §1.4):
  *  - column presence + dtype checks against a declared StructType;
  *  - nullable flags enforced via aggregated null counts (Spark's
  *    StructField.nullable is advisory, so enforcement is a data check);
  *  - dtype coercion (`coerce=True`, as in every reference schema) via
  *    explicit cast on mismatch;
  *  - regex column matching over dynamic ticker sets;
  *  - LAZY validation: ALL violations are accumulated, then thrown once
  *    (pandera `lazy=True`).
  *
  * Scale note: ONE job, the local checkpoint of the (coerced) rows a gate
  * returns, with the null counts observed in it ([[Observation]]); the
  * rest inspects `df.schema` on the driver.
  */
object Validator {

  final case class SchemaViolation(column: String, check: String, detail: String) {
    override def toString = s"[$column] $check: $detail"
  }

  final case class SchemaValidationException(violations: Seq[SchemaViolation])
      extends RuntimeException(
        s"Schema validation failed with ${violations.size} violation(s):\n" +
          violations.mkString("\n"))

  /** Numeric widening the reference gets from pandera `coerce=True`. */
  private def coercible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType | ShortType | IntegerType, LongType) => true
    case (ByteType | ShortType | IntegerType | LongType, DoubleType) => true
    case (FloatType, DoubleType) => true
    case (_: NumericType, _: DecimalType) => true
    case (TimestampType, DateType) => true
    case _ => false
  }

  /** Validate `df` against a declared schema. Returns the (possibly
    * coerced) frame or a full list of violations — never throws on the
    * first error (pandera lazy=True parity).
    */
  def validate(df: DataFrame, expected: StructType)
      : Either[Seq[SchemaViolation], DataFrame] = {
    val present = df.columns.toSet
    val missing = expected.fields.collect {
      case f if !present(f.name) =>
        SchemaViolation(f.name, "column_in_dataframe", "column missing")
    }
    val (dtypeErrs, coerced) = conform(df,
      expected.fields.collect { case f if present(f.name) => f.name -> f.dataType })

    // nullability: observed in the one job that materializes the rows
    val nonNullable = expected.fields
      .filter(f => !f.nullable && present(f.name)).map(_.name).toSeq
    val (nullErrs, gated) = if (nonNullable.isEmpty) (Nil, coerced) else {
      val obs = Observation()
      val nulls = nonNullable.map(c => count(when(col(c).isNull, 1)).as(c))
      val done = coerced.observe(obs, nulls.head, nulls.tail: _*).localCheckpoint()
      (nonNullable.map(c => c -> obs.get(c).asInstanceOf[Long]).collect {
        case (c, n) if n > 0 => SchemaViolation(c, "not_nullable", s"$n null value(s)")
      }, done)
    }

    val all = missing.toSeq ++ dtypeErrs ++ nullErrs
    if (all.nonEmpty) Left(all) else Right(gated)
  }

  /** Throwing variant — used at the pre-write gate (load.py:55-63). */
  def validateOrThrow(df: DataFrame, expected: StructType): DataFrame =
    validate(df, expected).fold(vs => throw SchemaValidationException(vs), identity)

  /** Regex-column validation for the wide raw-price frame
    * (validate.py:54-71): columns matching a declared pattern must have (or
    * be coercible to) its type; plus the frame-level index check.
    *
    * Columns matching NO pattern pass through untouched, pandera's
    * `strict=False` (the reference's raw CSVs carry `Adj Close_<ticker>`
    * columns that no pattern declares — they survive validation and the
    * downstream stack, tests/e2e_test.py:173).
    */
  def validateWide(df: DataFrame, patterns: Seq[ColumnPattern],
      index: StructField): Either[Seq[SchemaViolation], DataFrame] = {
    val indexErrs = df.schema.fields.find(_.name == index.name) match {
      case None =>
        Seq(SchemaViolation(index.name, "check_index_dtype", "index column missing"))
      case Some(f) if f.dataType != index.dataType =>
        Seq(SchemaViolation(index.name, "check_index_dtype",
          s"expected ${index.dataType.simpleString}, got ${f.dataType.simpleString}"))
      case _ => Nil
    }
    val compiled = patterns.map(p => (p.regex.r.pattern, p.dataType))
    val (dtypeErrs, coerced) = conform(df,
      df.columns.toSeq.filter(_ != index.name).flatMap { c =>
        compiled.collectFirst { case (r, t) if r.matcher(c).matches() => c -> t }
      })
    val all = indexErrs ++ dtypeErrs
    if (all.nonEmpty) Left(all) else Right(coerced)
  }

  /** The one dtype rule of both gates: each `(column, declared type)` of
    * `declared` (columns present in `df`) keeps an equal type, is cast
    * when [[coercible]] (pandera `coerce=True`) and is otherwise a `dtype`
    * violation. Returns the violations and `df` with the casts projected
    * in place (`df` itself when nothing is cast).
    */
  private def conform(df: DataFrame, declared: Seq[(String, DataType)])
      : (Seq[SchemaViolation], DataFrame) = {
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    val changed = declared.filter { case (c, t) => actual(c) != t }
    val (casts, errs) = changed.partition { case (c, t) => coercible(actual(c), t) }
    val castTo = casts.toMap
    val out = if (castTo.isEmpty) df else df.select(df.columns.toSeq.map { c =>
      castTo.get(c).fold(col(c))(t => col(c).cast(t).as(c))
    }: _*)
    (errs.map { case (c, t) => SchemaViolation(c, "dtype",
      s"expected ${t.simpleString}, got ${actual(c).simpleString}") }, out)
  }
}
