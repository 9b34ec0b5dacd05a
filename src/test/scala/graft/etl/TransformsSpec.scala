package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.core.Schemas

class TransformsSpec extends SparkSpec {

  lazy val source = new JsonDirSource(spark, fixtures)

  private def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)

  // Tables the pipeline writes are read back with these declared schemas,
  // not inferred ones: drift here must fail, not read as null columns.
  test("transformStock output is Schemas.stockPrices: names, types, order") {
    val out = Transforms.transformStock(source.eod("AAPL", "1990-01-01"), "AAPL")
    assert(shape(out.schema) === shape(Schemas.stockPrices))
  }

  test("transformMarket output is Schemas.markets: names, types, order") {
    val out = Transforms.transformMarket(source.symbols("NASDAQ"))
    assert(shape(out.schema) === shape(Schemas.markets))
  }

  test("transformStock: renames, key format, date parts, dropped columns") {
    val out = Transforms.transformStock(source.eod("AAPL", "1990-01-01"), "AAPL")
    assert(out.columns.toSet === Set(
      "stock_date", "stock_open", "stock_high", "stock_low", "stock_close",
      "stock_volume", "stock_ticker", "stock_year", "stock_month", "stock_day",
      "stock_key"))
    val r = out.orderBy("stock_date").collect().head
    assert(r.getAs[java.sql.Date]("stock_date").toString === "2024-06-03")
    assert(r.getAs[Int]("stock_year") === 2024)
    assert(r.getAs[Int]("stock_month") === 6)
    assert(r.getAs[Int]("stock_day") === 3)
    assert(r.getAs[String]("stock_key") === "2024-06-03/AAPL")
    assert(r.getAs[String]("stock_ticker") === "AAPL")
    assert(r.getAs[Double]("stock_close") === 194.03)
    // stock_key fits the reference's VARCHAR(20) (DB_manager.py:54)
    assert(out.agg(max(length(col("stock_key")))).collect()(0).getInt(0) <= 20)
  }

  test("transformStock: drop of absent optional columns is a no-op") {
    val raw = source.eod("AAPL", "1990-01-01").drop("adjusted_close")
    val out = Transforms.transformStock(raw, "AAPL")
    assert(out.count() === 3)
  }

  test("transformMarket: common-stock filter, renames") {
    val out = Transforms.transformMarket(source.symbols("NASDAQ"))
    assert(out.columns.toSet === Set(
      "market_stockid", "market_companyname", "market_country",
      "market_exchange", "market_currency", "market_stockisin"))
    assert(out.count() === 2) // the ETF row is filtered (P1)
    assert(out.filter(col("market_stockid") === "QQQ").isEmpty)
  }

  test("source from-date pushdown filters bars (API_manager.py:125 analog)") {
    assert(source.eod("AAPL", "2024-06-05").count() === 1)
    assert(source.eod("AAPL", "2024-06-06").isEmpty)
  }

  test("unknown ticker/exchange raise the reference's error messages") {
    val te = intercept[TickerNotFound](source.eod("NOPE", "1990-01-01"))
    assert(te.getMessage === "Ticker Not Found.")
    val ee = intercept[ExchangeNotFound](source.symbols("NYSEX"))
    assert(ee.getMessage === "Exchange Not Found.")
  }
}
