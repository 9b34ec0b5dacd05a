package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.max

import graft.SparkSpec
import graft.core.Schemas
import graft.queries.LastPrice

/** End-to-end replay of the reference's smoke scenario (`main.py:49-102`):
  * two tickers + one exchange through extract → transform → lake → stage →
  * SCD-0 warehouse → last-price query; run twice to prove idempotence
  * (SURVEY §5.2 item 2).
  */
class PipelineSpec extends SparkSpec {

  private def mkPipeline(): Pipeline = {
    val root = tmpDir("pipe")
    new Pipeline(spark, new JsonDirSource(spark, fixtures),
      s"$root/lake", s"$root/wh", s"$root/state.json")
  }

  test("full run: lake + warehouse populated, state advanced") {
    val p = mkPipeline()
    assert(p.runStock("AAPL") === 3)
    assert(p.runStock("MSFT") === 2)
    assert(p.runMarket("NASDAQ") === 2)
    assert(p.warehouseStocks().count() === 5)
    assert(p.warehouseMarkets().count() === 2)
    assert(p.state.watermark("Stock", "AAPL") === "2024-06-05")
    assert(p.state.watermark("Stock", "MSFT") === "2024-06-04")
    // lake partition layout (API_manager.py:123): hive dirs per y/m/d/ticker
    val lakeDf = Lake.readStocks(spark, p.lakeRoot)
    assert(lakeDf.count() === 5)
    assert(lakeDf.columns.contains("stock_year"))
  }

  test("incremental: advanced watermark short-circuits; no double insert") {
    val p = mkPipeline()
    p.runStock("AAPL")
    // second run: from-date beyond fixture data -> empty extract -> no-op
    assert(p.runStock("AAPL") === 0L)
    assert(p.warehouseStocks().count() === 3)
  }

  test("market extraction is FULL every run; its watermark is informational only") {
    // Pins the SURVEY §7.4 decision on the reference's latent state bug:
    // `__readState`'s Market branch re-reads a consumed file handle
    // (API_manager.py:88), so its market watermark ALWAYS falls to the
    // backfill sentinel — accidentally implementing main.py:23's stated
    // intent ("LA EXTRACCION DE LOS MERCADOS ES FULL"). We implement the
    // intent deliberately: state never filters the market extract, and the
    // SCD-0 merge absorbs the full replay.
    val p = mkPipeline()
    assert(p.runMarket("NASDAQ") === 2)
    val wmAfterFirst = p.state.watermark("Market", "NASDAQ")
    assert(wmAfterFirst !== StateStore.Sentinel) // advanced (informational)
    // watermark present, yet the next run still extracts the full set —
    // 0 inserted proves the rows were re-extracted and deduped, not skipped
    assert(p.runMarket("NASDAQ") === 0L)
    assert(p.warehouseMarkets().count() === 2)
  }

  test("replay after state reset is deduped by the anti-join (effectively-once)") {
    val p = mkPipeline()
    p.runStock("AAPL")
    p.state.reset()
    assert(p.runStock("AAPL") === 0L) // re-extracted, but 0 new keys
    assert(p.warehouseStocks().count() === 3)
  }

  test("crash-retry does not duplicate lake rows (dynamic partition overwrite)") {
    // simulate a crash between the lake write and the state advance: the
    // watermark is unchanged, so a retry re-extracts and re-writes the
    // SAME batch — the batch's (y/m/d/ticker) partitions are rewritten,
    // not appended, so the lake holds each row once (the lake-side half
    // of effectively-once; the warehouse half is the anti-join)
    val p = mkPipeline()
    p.runStock("AAPL")
    val once = Lake.readStocks(spark, p.lakeRoot).count()
    // the retry: same extraction + lake write, as a crashed run would redo
    val raw = new JsonDirSource(spark, fixtures).eod("AAPL", "1990-01-02")
    Lake.writeStocks(Transforms.transformStock(raw, "AAPL"), p.lakeRoot)
    assert(Lake.readStocks(spark, p.lakeRoot).count() === once,
      "retry duplicated lake rows")
  }

  test("empty source: no partial writes, no state movement (S5 guard)") {
    val p = mkPipeline()
    assert(p.runStock("EMPTY") === 0L)
    assert(p.state.watermark("Stock", "EMPTY") === StateStore.Sentinel)
    assert(!new java.io.File(p.stocksWarehousePath).exists())
  }

  test("last-price parity: golden row + global-max-date quirk") {
    val p = mkPipeline()
    p.runStock("AAPL"); p.runStock("MSFT"); p.runMarket("NASDAQ")
    val aapl = LastPrice.parity(p.warehouseStocks(), p.warehouseMarkets(), "AAPL").collect()
    assert(aapl.length === 1)
    val r = aapl.head
    assert(r.getString(0) === "05-06-2024") // dd-MM-yyyy (DB_manager.py:184)
    assert(r.getString(1) === "AAPL")
    assert(r.getString(2) === "Apple Inc")
    assert(r.getDouble(3) === 195.87)
    assert(r.getString(4) === "NASDAQ")
    assert(r.getString(5) === "US0378331005")
    // the quirk (SURVEY §2.5): MSFT didn't trade on the global max date ->
    // parity mode returns ZERO rows, improved mode returns its own latest
    assert(LastPrice.parity(p.warehouseStocks(), p.warehouseMarkets(), "MSFT").isEmpty)
    val ms = LastPrice.improved(p.warehouseStocks(), p.warehouseMarkets(), "MSFT").collect()
    assert(ms.length === 1 && ms.head.getString(0) === "04-06-2024")
  }

  test("spark.sql form with named parameter (F10: no string interpolation)") {
    val p = mkPipeline()
    p.runStock("AAPL"); p.runMarket("NASDAQ")
    p.warehouseStocks().createOrReplaceTempView("stock_prices")
    p.warehouseMarkets().createOrReplaceTempView("markets")
    val out = spark.sql(LastPrice.sqlText, Map("ticker" -> "AAPL")).collect()
    assert(out.length === 1 && out.head.getString(2) === "Apple Inc")
  }

  /** Number of Spark jobs `body` submits from this thread, counted by a
    * job tag that only its jobs carry. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"pipeline-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag))) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      TestHooks.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** `dir/eod/<ticker>.json` holding `days` consecutive daily bars. */
  private def writeEod(dir: String, ticker: String, days: Int): Unit = {
    val bars = (0 until days).map { i =>
      val d = java.time.LocalDate.of(2024, 3, 1).plusDays(i.toLong)
      s"""{"date": "$d", "open": 10.0, "high": 11.0, "low": 9.0, "close": 10.5, "adjusted_close": 10.5, "volume": ${1000 + i}}"""
    }
    val f = Paths.get(s"$dir/eod/$ticker.json")
    Files.createDirectories(f.getParent)
    Files.write(f, bars.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }

  test("one runStock reads one snapshot of a source that changes on every read") {
    // each evaluation of the extract yields a later date, as a re-fetched
    // API body would: the lake, the warehouse and the watermark must all
    // come from the same evaluation
    val root = tmpDir("drift")
    val p = new Pipeline(spark, new DriftingSource(spark),
      s"$root/lake", s"$root/wh", s"$root/state.json")
    assert(p.runStock("DRFT") === 1L)
    def keys(df: DataFrame) = df.select("stock_key").collect().map(_.getString(0)).toSet
    assert(keys(Lake.readStocks(spark, p.lakeRoot)) === keys(p.warehouseStocks()))
    val maxDate = p.warehouseStocks().agg(max("stock_date").cast("string")).head().getString(0)
    assert(p.state.watermark("Stock", "DRFT") === maxDate)
  }

  test("an incremental runStock runs 8 Spark jobs") {
    // measured: 3 for the aggregate over the persisted batch (adaptive
    // execution builds the cache as its own stage), 1 lake write, 1 stage
    // load, 3 for the SCD-0 merge's one observed write (key broadcast,
    // in-batch dedup shuffle, write). The state file and the
    // declared-schema reads run none. With a Spark-read state store,
    // inferred schemas and a cache-count-append merge the same call ran 16.
    val root = tmpDir("jobs")
    writeEod(s"$root/api", "JOBS", 5)
    val p = new Pipeline(spark, new JsonDirSource(spark, s"$root/api"),
      s"$root/lake", s"$root/wh", s"$root/state.json")
    assert(p.runStock("JOBS") === 5L)
    writeEod(s"$root/api", "JOBS", 6)
    var inserted = -1L
    val jobs = jobsOf { inserted = p.runStock("JOBS") }
    assert(inserted === 1L)
    assert(jobs === 8)
  }

  test("runStock unpersists its batch after a run, an empty extract and a failed merge") {
    // relative to the start: suites share one session, and another suite's
    // cached data is not this test's leak
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val p = mkPipeline()
    assert(p.runStock("AAPL") === 3L)
    assert(persisted -- before === Set.empty)
    assert(p.runStock("AAPL") === 0L) // watermark past the data: empty extract
    assert(persisted -- before === Set.empty)
    // a warehouse path that holds no parquet makes the merge's scan throw
    val broken = mkPipeline()
    Files.createDirectories(Paths.get(broken.warehouseRoot))
    Files.write(Paths.get(broken.stocksWarehousePath), "not parquet".getBytes(StandardCharsets.UTF_8))
    intercept[Exception](broken.runStock("AAPL"))
    assert(persisted -- before === Set.empty)
    assert(broken.state.watermark("Stock", "AAPL") === StateStore.Sentinel)
  }
}

/** Evaluations of [[DriftingSource]]'s extract so far, JVM-wide: local
  * mode runs tasks in the driver JVM, so every evaluation sees it. */
object DriftingSource {
  val evaluations = new AtomicInteger()
}

/** A source whose one EOD bar moves a day later on every evaluation of the
  * returned DataFrame — the shape of an API body re-fetched, or a JSON file
  * rewritten, between two scans. */
final class DriftingSource(spark: SparkSession) extends QuoteSource {
  def eod(ticker: String, fromDate: String): DataFrame = {
    val bars = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val d = java.time.LocalDate.of(2024, 6, 1)
        .plusDays(DriftingSource.evaluations.incrementAndGet().toLong)
      Iterator(Row(d.toString, 10.0, 11.0, 9.0, 10.5, 10.5, 1000L))
    }
    spark.createDataFrame(bars, Schemas.eodRaw)
  }
  def symbols(exchange: String): DataFrame = throw new ExchangeNotFound(exchange)
}
