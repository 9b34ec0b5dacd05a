package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.warehouse.Scd0

/** Quote/listing source abstraction (reference S1/S2,
  * `API_manager.py:119-140`). The environment is zero-egress, so the HTTP
  * layer is an interface; [[JsonDirSource]] reads canned JSON response
  * bodies (FIXTURES.md §A1/§A2). The `fromDate` parameter reproduces the
  * API-side predicate pushdown (`from=` param, `API_manager.py:125`).
  */
trait QuoteSource {
  def eod(ticker: String, fromDate: String): DataFrame
  def symbols(exchange: String): DataFrame
}

/** Typed source errors with the reference's user-facing messages
  * (`API_manager.py:61-65`: "Ticker Not Found." / "Exchange Not Found."). */
final class TickerNotFound(val ticker: String)
  extends RuntimeException("Ticker Not Found.")
final class ExchangeNotFound(val exchange: String)
  extends RuntimeException("Exchange Not Found.")

/** File-backed source: `dir/eod/<TICKER>.json`, `dir/symbols/<EXCHANGE>.json`. */
class JsonDirSource(spark: SparkSession, dir: String) extends QuoteSource {
  // multiLine: fixture files are literal API response bodies (JSON arrays)
  def eod(ticker: String, fromDate: String): DataFrame = {
    if (!graft.core.Fs.exists(spark, s"$dir/eod/$ticker.json"))
      throw new TickerNotFound(ticker)
    spark.read.schema(Schemas.eodRaw).option("multiLine", true)
      .json(s"$dir/eod/$ticker.json")
      .filter(col("date") >= lit(fromDate)) // source-side pushdown analog
  }
  def symbols(exchange: String): DataFrame = {
    if (!graft.core.Fs.exists(spark, s"$dir/symbols/$exchange.json"))
      throw new ExchangeNotFound(exchange)
    spark.read.schema(Schemas.marketRaw).option("multiLine", true)
      .json(s"$dir/symbols/$exchange.json")
  }
}

/** End-to-end pipeline orchestrator (reference `main.py:49-102`):
  * extract → transform → lake → stage → SCD-0 warehouse merge, with the
  * incremental-state contract of SURVEY §2.9: watermark read before
  * extract, advanced only after a successful sink write; replays are
  * deduped by the key anti-join, so the whole chain is effectively-once.
  *
  * Each run scans its source once. The transformed batch is persisted, and
  * the emptiness check, the lake write, the stage load and the new
  * watermark all read that one snapshot — a source that changes between
  * evaluations (a re-fetched API body, a rewritten file) cannot advance the
  * watermark past rows the lake or warehouse never received. The snapshot
  * lives in the block manager at `MEMORY_AND_DISK`: memory pressure spills
  * it to disk instead of dropping it, and only a lost executor makes Spark
  * recompute a block from the source. Every read of a table this class
  * writes uses its declared schema, so none pays a schema-inference job.
  */
class Pipeline(
    spark: SparkSession,
    source: QuoteSource,
    val lakeRoot: String,
    val warehouseRoot: String,
    statePath: String) {

  val state = new StateStore(spark, statePath)

  def stocksWarehousePath: String  = s"$warehouseRoot/stock_prices"
  def marketsWarehousePath: String = s"$warehouseRoot/markets"

  /** Incremental per-ticker extraction (reference E1+E2 chained):
    * watermark+1day as from-date, transform, lake append, stage overwrite,
    * anti-join merge, then monotone state advance. One aggregate over the
    * persisted batch yields both the row count (S5 empty short-circuit)
    * and the new watermark. Returns rows inserted. */
  def runStock(ticker: String): Long = {
    val wm = state.watermark("Stock", ticker)
    val from = java.time.LocalDate.parse(wm).plusDays(1).toString // F4
    val raw = graft.ops.Validate.requireSchema(
      source.eod(ticker, from), Schemas.eodRaw) // declared-schema contract (§1.2)
    val prices = Transforms.transformStock(raw, ticker).persist()
    try {
      val stats = prices.agg(count(lit(1)), max(col("stock_date")).cast("string")).head()
      if (stats.getLong(0) == 0L) 0L // S5 empty-result short-circuit: no state move
      else {
        Lake.writeStocks(prices, lakeRoot)
        val inserted = stageAndMerge(prices, "stage_stock_prices", stocksWarehousePath, "stock_key")
        val newWm = stats.getString(1)
        if (newWm != null && newWm > wm) state.advance("Stock", ticker, newWm)
        inserted
      }
    } finally { prices.unpersist(): Unit }
  }

  /** Full-refresh market extraction (reference: "LA EXTRACCION DE LOS
    * MERCADOS ES FULL", `main.py:22-23`); state date is informational.
    * Same single-snapshot shape as [[runStock]]; a listing with no common
    * stock is empty after the transform and short-circuits the same way. */
  def runMarket(exchange: String): Long = {
    val markets = Transforms.transformMarket(source.symbols(exchange)).persist()
    try {
      if (markets.count() == 0L) 0L
      else {
        Lake.writeMarkets(markets, lakeRoot)
        val inserted = stageAndMerge(markets, "stage_markets", marketsWarehousePath, "market_stockid")
        state.advance("Market", exchange, java.time.LocalDate.now().toString)
        inserted
      }
    } finally { markets.unpersist(): Unit }
  }

  /** Stage overwrite, then the SCD-0 merge from the stage, re-read with the
    * batch's own schema. */
  private def stageAndMerge(batch: DataFrame, stage: String, warehousePath: String,
      key: String): Long = {
    val stagePath = s"$warehouseRoot/$stage"
    Scd0.stageLoad(batch, stagePath)
    Scd0.mergeAppend(spark.read.schema(batch.schema).parquet(stagePath), warehousePath, key)
  }

  def warehouseStocks(): DataFrame =
    spark.read.schema(Schemas.stockPrices).parquet(stocksWarehousePath)
  def warehouseMarkets(): DataFrame =
    spark.read.schema(Schemas.markets).parquet(marketsWarehousePath)
}
