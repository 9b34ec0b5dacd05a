package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{DayOfWeek, LocalDate}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.etl.{JsonDirSource, Lake, Pipeline, Transforms}
import graft.queries.LastPrice
import graft.warehouse.Scd0

/** `etl_incremental`: the paper's write path. A seeded generator writes
  * end-of-day and symbol JSON in the [[JsonDirSource]] layout; set-up runs
  * `runMarket` and a backfill; each timed pass lands one trading day
  * (`runStock` per ticker, one row each) and then reads every ticker's
  * last price.
  */
object Etl {
  import PerfBench._

  val Tickers = 3
  val BackfillDays = 5
  val TimedDays = 60
  val Exchange = "XBNC"

  /** Seeded market: ticker names, trading days, and a price path. */
  final class Market(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val tickers: Vector[String] = Iterator.continually(
        (1 to 4).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(Tickers).toVector
    val days: Vector[LocalDate] = Iterator
      .iterate(LocalDate.of(2012, 1, 2).plusDays(rnd.nextInt(1500).toLong))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(BackfillDays + TimedDays).toVector
    /** Per ticker, per trading day: the close as written, and the EOD JSON
      * object that carries it. */
    val rows: Map[String, Vector[(String, String)]] = tickers.map { t =>
      var close = 20.0 + rnd.nextDouble() * 280
      t -> days.map { d =>
        close = math.max(1.0, close * (1 + (rnd.nextDouble() - 0.5) * 0.04))
        val c = f"$close%.2f"
        val o = f"${close * (1 + (rnd.nextDouble() - 0.5) * 0.01)}%.2f"
        val hi = f"${math.max(c.toDouble, o.toDouble) * (1 + rnd.nextDouble() * 0.01)}%.2f"
        val lo = f"${math.min(c.toDouble, o.toDouble) * (1 - rnd.nextDouble() * 0.01)}%.2f"
        val v = 100000L + rnd.nextInt(5000000)
        (c, s"""{"date": "$d", "open": $o, "high": $hi, "low": $lo, "close": $c, "adjusted_close": $c, "volume": $v}""")
      }
    }.toMap
    def close(t: String, day: Int): Double = rows(t)(day)._1.toDouble
    def key(t: String, day: Int): String = s"${days(day)}/$t"

    /** The API's response bodies as of trading day `upTo` (inclusive). */
    def write(dir: String, upTo: Int): Unit = {
      tickers.foreach { t =>
        atomicWrite(s"$dir/eod/$t.json",
          rows(t).take(upTo + 1).map(_._2).mkString("[\n  ", ",\n  ", "\n]\n"))
      }
      val listed = tickers.zipWithIndex.map { case (t, i) =>
        s"""{"Code": "$t", "Name": "$t Holdings", "Country": "USA", "Exchange": "$Exchange", "Currency": "USD", "Type": "Common Stock", "Isin": "US${f"$i%010d"}"}"""
      } :+ s"""{"Code": "${tickers.head}X", "Name": "Index Fund", "Country": "USA", "Exchange": "$Exchange", "Currency": "USD", "Type": "ETF", "Isin": "US9999999999"}"""
      atomicWrite(s"$dir/symbols/$Exchange.json", listed.mkString("[\n  ", ",\n  ", "\n]\n"))
    }
  }

  private def atomicWrite(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** `Pipeline.runStock`, call for call, with each call into a layer in its
    * own span; inserts exactly what `runStock` inserts. */
  def tracedRunStock(spark: SparkSession, tr: Tracer, id: Int, p: Pipeline,
      source: JsonDirSource, ticker: String): Long = {
    val wm = tr.span(id, "etl.state_read")(p.state.watermark("Stock", ticker))
    val from = LocalDate.parse(wm).plusDays(1).toString
    val raw = tr.span(id, "etl.extract") {
      val r = graft.ops.Validate.requireSchema(source.eod(ticker, from), Schemas.eodRaw)
      if (r.isEmpty) None else Some(r)
    }
    raw.fold(0L) { raw =>
      val prices = tr.span(id, "etl.transform")(Transforms.transformStock(raw, ticker))
      tr.span(id, "etl.lake_write")(Lake.writeStocks(prices, p.lakeRoot))
      tr.span(id, "warehouse.stage_load")(
        Scd0.stageLoad(prices, s"${p.warehouseRoot}/stage_stock_prices"))
      val inserted = tr.span(id, "warehouse.merge")(Scd0.mergeAppend(
        spark.read.parquet(s"${p.warehouseRoot}/stage_stock_prices"),
        p.stocksWarehousePath, "stock_key"))
      val newWm = tr.span(id, "etl.watermark")(
        prices.agg(max(col("stock_date")).cast("string")).collect()(0).getString(0))
      tr.span(id, "etl.state_advance")(
        if (newWm != null && newWm > wm) p.state.advance("Stock", ticker, newWm))
      inserted
    }
  }

  private val spanNames = Seq("etl.state_read", "etl.extract", "etl.transform",
    "etl.lake_write", "warehouse.stage_load", "warehouse.merge",
    "etl.watermark", "etl.state_advance")

  def run(spark: SparkSession, tr: Tracer, seed: Long, deadlineMs: Long,
      work: String, out: Outcome): Unit = {
    val market = new Market(seed)
    val tickers = market.tickers

    // Set-up: generate the inputs, load the market, backfill every ticker,
    // and warm up the last-price read.
    val setupStart = System.nanoTime()
    val inDir = s"$work/etl/api"
    market.write(inDir, BackfillDays - 1)
    val p = new Pipeline(spark, new JsonDirSource(spark, inDir),
      s"$work/etl/lake", s"$work/etl/warehouse", s"$work/etl/state.json")
    out.check(p.runMarket(Exchange) == tickers.size, "market rows")
    val warmOps = tickers.map { t =>
      val (n, ms) = timeMs(p.runStock(t))
      out.check(n == BackfillDays, s"backfill of $t inserted $n")
      ms
    }
    def lastPrices(t: String) =
      LastPrice.parity(p.warehouseStocks(), p.warehouseMarkets(), t)
        .unionByName(LastPrice.improved(p.warehouseStocks(), p.warehouseMarkets(), t))
    tickers.foreach(t => lastPrices(t).collect())
    out.setupS = (System.nanoTime() - setupStart) / 1e9
    phase("set-up", setupStart)
    val source = new JsonDirSource(spark, inDir)
    def stored = tree(new File(s"${p.lakeRoot}/stocks")).bytes +
      tree(new File(p.stocksWarehousePath)).bytes
    val storedBefore = stored
    var storedPerRow = 0.0
    var heapMb = 0.0

    val passMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val stockOps = mutable.ArrayBuffer.empty[(Boolean, Int)]
    val readOps = mutable.ArrayBuffer.empty[(Boolean, Int)]
    val filesWritten = mutable.HashMap.empty[Int, Double]
    val insertedBy = mutable.HashMap.empty[Int, Long]
    var inserted = 0L
    var day = BackfillDays - 1
    val start = System.nanoTime()
    while (day + 1 < market.days.size &&
        (passMs.size < minPasses(tr) || (System.nanoTime() - start) / 1e6 < deadlineMs)) {
      day += 1
      market.write(inDir, day)
      // a traced run alternates untraced and traced passes, so the
      // difference of their medians is the tracing overhead
      tr.active = tr.recorder.isDefined && passMs.size % 2 == 1
      val traced = tr.active
      val t0 = System.nanoTime()
      tickers.foreach { t =>
        val id = tr.newOp()
        val n = try {
          tr.op(id)(if (traced) tracedRunStock(spark, tr, id, p, source, t) else p.runStock(t))
        } catch { case scala.util.control.NonFatal(e) => out.check(false, s"runStock($t): $e"); -1L }
        if (n >= 0) out.check(n == 1, s"runStock($t) on day $day inserted $n")
        inserted += math.max(n, 0L)
        insertedBy(id) = math.max(n, 0L)
        stockOps += traced -> id
        if (traced) filesWritten(id) = filesSince(new File(s"$work/etl"),
          tr.ops(id)._1).toDouble
      }
      tickers.foreach { t =>
        val id = tr.newOp()
        val rows = query(tr, id)(lastPrices(t))
        readOps += traced -> id
        out.check(rows.length == 2 &&
          rows.forall(r => r.getAs[Double]("stock_close") == market.close(t, day)),
          s"last price of $t on day $day: ${rows.mkString(";")}")
      }
      passMs += traced -> (System.nanoTime() - t0) / 1e6
      phase(s"pass ${passMs.size}", t0)
      tr.active = false
      // every run makes the first two passes, so state-size metrics are
      // read there rather than after however many passes time allowed
      if (passMs.size == 1) heapMb = liveHeapMb()
      if (passMs.size == 2) storedPerRow = (stored - storedBefore).toDouble / inserted
    }
    phase("timed passes", start)
    val timedMs = passMs.map(_._2).sum

    // Output checks: the warehouse holds exactly the generated keys, the
    // lake holds the same rows, and a replay after a state reset inserts 0.
    val checks = System.nanoTime()
    val expected = (for (t <- tickers; d <- 0 to day) yield market.key(t, d)).toSet
    val wh = p.warehouseStocks().select("stock_key").collect().map(_.getString(0))
    out.check(wh.length == expected.size && wh.toSet == expected,
      s"warehouse has ${wh.length} rows, ${wh.toSet.size} keys; expected ${expected.size}")
    val lake = Lake.readStocks(spark, p.lakeRoot).select("stock_key").collect().map(_.getString(0))
    out.check(lake.length == wh.length && lake.toSet == wh.toSet,
      s"lake has ${lake.length} rows; warehouse ${wh.length}")
    p.state.reset()
    val replayed = tickers.map(p.runStock).sum
    out.check(replayed == 0, s"replay after state reset inserted $replayed rows")
    phase("checks", checks)

    val untraced = passMs.filter(!_._1).map(_._2)
    out.endToEnd ++= Seq(
      "pass_s" -> median(untraced) / 1000,
      "op_p50_ms" -> median(stockOps.filter(!_._1).map(o => tr.ops(o._2)._2)),
      "rows_per_s" -> inserted / (timedMs / 1000),
      "read_ms" -> median(readOps.filter(!_._1).map(o => tr.ops(o._2)._2)),
      "stored_bytes_per_row" -> storedPerRow,
      "live_heap_mb" -> heapMb)
    out.layers("setup.warmup_op_ms") = median(warmOps)
    out.layers("warehouse.rows_inserted") = inserted.toDouble

    tr.recorder.foreach { rec =>
      rec.drain()
      val ops = stockOps.filter(_._1).map(_._2).toSeq
      val reads = readOps.filter(_._1).map(_._2).toSeq
      sparkLayers(tr, ops, reads, out)
      spanNames.foreach(n => out.layers(s"${n}_ms") = median(ops.map(tr.spanMs(_, n))))
      val covered = ops.map(id => spanNames.map(tr.spanMs(id, _)).sum)
      val wall = ops.map(tr.ops(_)._2)
      out.layers("etl.other_ms") = median(wall.zip(covered).map { case (w, c) => w - c })
      out.layers("trace.spans_share") = median(wall.zip(covered).map { case (w, c) => c / w })
      out.layers("spark.files_written") = median(ops.map(filesWritten))
      out.layers("warehouse.merge_rows_scanned") =
        median(ops.map(tr.totals(_, "warehouse.merge").inputRecords.toDouble))
      val staged = ops.map(tr.totals(_, "warehouse.stage_load").outputRecords).sum
      out.layers("etl.insert_ratio") = ops.map(insertedBy).sum.toDouble / math.max(staged, 1L)
      val lakeTree = tree(new File(s"${p.lakeRoot}/stocks"))
      out.layers("etl.lake_files") = lakeTree.files.toDouble
      out.layers("etl.lake_dirs") = lakeTree.dirs.toDouble
      out.layers("trace.overhead_ms") =
        median(passMs.filter(_._1).map(_._2)) - median(untraced)
    }
  }
}
