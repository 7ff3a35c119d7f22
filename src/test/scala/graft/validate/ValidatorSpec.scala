package graft.validate

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.Schemas

/** Pandera-parity validation semantics (reference: py_pipeline/validate.py):
  * presence, dtype, coercion, nullability, and LAZY accumulation of all
  * violations.
  */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true)))

  test("conforming frame passes unchanged") {
    val df = Seq((1L, "a")).toDF("id", "name")
    assert(Validator.validate(df, schema).isRight)
  }

  test("int column coerces to declared long (pandera coerce=True)") {
    val df = Seq((1, "a")).toDF("id", "name")
    val out = Validator.validate(df, schema)
    assert(out.isRight)
    assert(out.toOption.get.schema("id").dataType == LongType)
  }

  test("missing column and wrong dtype accumulate lazily, not fail-fast") {
    val df = Seq(("x", true)).toDF("name", "extra")
      .selectExpr("name", "named_struct('a', 1) as id") // struct, not coercible
    val out = Validator.validate(df, schema)
    assert(out.isLeft)
    val checks = out.left.toOption.get.map(_.check)
    assert(checks.contains("dtype"))
  }

  test("null in declared non-nullable column is a violation") {
    val df = Seq((Some(1L), "a"), (None, "b")).toDF("id", "name")
    val out = Validator.validate(df, schema)
    assert(out.isLeft)
    assert(out.left.toOption.get.exists(_.check == "not_nullable"))
  }

  test("validateOrThrow raises one exception carrying ALL violations") {
    val df = Seq((Some(1L), "ok"), (None, "bad")).toDF("id", "name")
    val e = intercept[Validator.SchemaValidationException] {
      Validator.validateOrThrow(df, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("ghost", StringType, nullable = true))))
    }
    assert(e.violations.size == 2) // missing ghost + null id, in one throw
  }

  test("a gate counts its nulls in the one job that materializes its rows") {
    import org.apache.spark.sql.functions._
    // every evaluation of the input's lineage adds its row count
    val evaluated = spark.sparkContext.longAccumulator("gate_rows")
    val tick = udf { (id: Long) => evaluated.add(1L); id }.asNondeterministic()
    val df = spark.range(0, 50)
      .select(tick(col("id")).as("id"), col("id").cast("string").as("name"))
    val rec = new graft.tools.Profile.Recorder(spark)
    val (gated, run) = try rec.record(Validator.validateOrThrow(df, schema))
      finally rec.close()
    assert(run.jobs.length == 1,
      s"${run.jobs.length} jobs:\n" + run.jobs.map(_.desc).mkString("\n"))
    assert(gated.count() == 50L && gated.where(col("id") < 10).count() == 10L)
    assert(evaluated.value == 50L,
      s"the input's 50 rows were evaluated ${evaluated.value} times")
  }

  test("validateWide: pattern match + coercion + unmatched column violation") {
    val df = Seq(("2024-01-01 00:00:00", 1.0f, 5, "junk"))
      .toDF("ts", "Open_AAPL", "Volume_AAPL", "bogus")
      .selectExpr("cast(ts as timestamp) as Date", "Open_AAPL", "Volume_AAPL", "bogus")
    // pandera strict=False: an unmatched column is no violation and
    // passes through untouched
    val out = Validator.validateWide(df, Schemas.rawPricePatterns,
      Schemas.rawPriceIndex)
    assert(out.isRight)
    assert(out.toOption.get.schema("bogus").dataType == StringType)

    val ok = Validator.validateWide(df.drop("bogus"),
      Schemas.rawPricePatterns, Schemas.rawPriceIndex)
    assert(ok.isRight)
    val sch = ok.toOption.get.schema
    assert(sch("Open_AAPL").dataType == DoubleType)  // float -> double coerced
    assert(sch("Volume_AAPL").dataType == LongType)  // int -> long coerced
  }

  test("validateWide flags a wrong-typed Date index") {
    val df = Seq(("2024-01-01", 1.0)).toDF("Date", "Open_A")
    val out = Validator.validateWide(df, Schemas.rawPricePatterns, Schemas.rawPriceIndex)
    assert(out.isLeft)
    assert(out.left.toOption.get.exists(_.check == "check_index_dtype"))
  }
}
