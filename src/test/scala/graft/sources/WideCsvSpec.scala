package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

import graft.SparkSpec
import graft.transform.PriceTransforms

/** S8: the 2-row-header wide CSV ingestion path, on a fixture shaped
  * exactly like the reference's raw_fx_prices.csv (incl. the pandas
  * index-name row, an all-null invalid ticker, and Adj Close columns).
  */
class WideCsvSpec extends SparkSpec {

  private val csv =
    """Price,Open,High,Low,Close,Adj Close,Volume,Open,High,Low,Close,Volume
      |Ticker,JPY=X,JPY=X,JPY=X,JPY=X,JPY=X,JPY=X,BAD=X,BAD=X,BAD=X,BAD=X,BAD=X
      |Date,,,,,,,,,,,
      |2000-01-03 00:00:00+00:00,110.68,110.83,109.61,109.76,109.70,0,,,,,
      |2000-01-04 00:00:00+00:00,,,,,,,,,,,
      |""".stripMargin

  private def writeFixture(): String = {
    val p = Files.createTempDirectory("graft_csv_").resolve("raw.csv")
    Files.writeString(p, csv)
    p.toString
  }

  test("flattens the 2-row header to Field_Ticker columns with typed schema") {
    val df = WideCsv.read(spark, writeFixture())
    assert(df.schema("Date").dataType == TimestampType)
    assert(df.schema("Open_JPY=X").dataType == DoubleType)
    assert(df.schema("Volume_JPY=X").dataType == LongType)
    assert(df.schema("Adj Close_JPY=X").dataType == DoubleType)
    assert(df.count() == 2)
    val r = df.orderBy("Date").collect()(0)
    assert(r.getAs[Double]("Open_JPY=X") == 110.68)
    assert(r.getAs[Long]("Volume_JPY=X") == 0L)
  }

  test("feeds transformPrices end-to-end: dead ticker dropped, fx remap, adj close kept") {
    val long = PriceTransforms.transformPrices(
      WideCsv.read(spark, writeFixture()), "fx")._1
    val rows = long.orderBy("date_stamp").collect()
    // BAD=X was all-null -> dropped; JPY=X -> USDJPY
    assert(rows.map(_.getAs[String]("symbol")).distinct.toSeq == Seq("USDJPY"))
    assert(rows.length == 2) // the all-null day survives
    assert(rows(0).getAs[Double]("adj close") == 109.70)
    assert(rows(1).isNullAt(rows(1).fieldIndex("open")))
  }
}
