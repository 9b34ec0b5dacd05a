package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.DocStream

/** `stream_curate`: the index write path. A seeded corpus with the
  * `IngestSmoke` shape (5% exact and 5% near duplicates) is staged as one
  * parquet file per micro-batch; each pass drains it through
  * [[DocStream.curateIngest]] into a fresh root.
  */
object Stream {
  import PerfBench._

  val Batches = 2
  val DocsPerBatch = 200

  /** Docs the dedup stage must admit: every 20-doc cluster holds one exact
    * and one near copy of its base doc, and clusters never span batches. */
  val Unique: Long = Batches.toLong * DocsPerBatch / 20 * 18

  private val progressParts = Seq("latestOffset" -> "streaming.latest_offset_ms",
    "queryPlanning" -> "streaming.planning_ms", "addBatch" -> "streaming.add_batch_ms",
    "walCommit" -> "streaming.wal_ms")

  /** Seeded document text: 60 words from a 5,000-word vocabulary. */
  private def words(seed: Long, id: Long): String =
    (0 until 60).map { i =>
      var z = seed * 0x9E3779B97F4A7C15L + id * 1000 + i
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      "w" + java.lang.Math.floorMod(z ^ (z >>> 31), 5000L)
    }.mkString(" ")

  /** Write batches `from until to` of the corpus under `dir`, one
    * single-file append per batch. In each 20-doc cluster, doc 7 is an exact
    * copy of the cluster's first doc and doc 13 a near copy. */
  def stage(spark: SparkSession, seed: Long, dir: String, from: Int, to: Int): Unit =
    (from until to).foreach { b =>
      val rows = (b.toLong * DocsPerBatch until (b + 1).toLong * DocsPerBatch).map { id =>
        val base = id - id % 20
        Row(id, id % 20 match {
          case 7 => words(seed, base)
          case 13 => words(seed, base) + " extraTok"
          case _ => words(seed, id)
        })
      }
      spark.createDataFrame(rows.asJava, StructType.fromDDL("doc_id LONG, text STRING"))
        .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    }

  final case class Pass(ms: Double, triggers: Seq[Map[String, Double]], ops: Seq[Int])

  /** Drain the staged corpus into `root`. Untraced, this is exactly
    * `DocStream.curateIngest`; traced, each micro-batch's
    * `DocStream.curateBatch` call runs as one op under its own job tag. */
  def pass(spark: SparkSession, tr: Tracer, stageDir: String, root: String): Pass = {
    val docs = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val ops = mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    val q =
      if (!tr.active) DocStream.curateIngest(docs, root, s"$root.ckpt")
      else docs.writeStream.option("checkpointLocation", s"$root.ckpt")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val op = tr.newOp()
          ops += op
          tr.op(op)(tr.span(op, "ops.curate_batch")(DocStream.curateBatch(batch, id, root)))
        }.start()
    try q.processAllAvailable() finally q.stop()
    val ms = (System.nanoTime() - t0) / 1e6
    val triggers = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
    Pass(ms, triggers, ops.toSeq)
  }

  /** The pass's read: batches, docs in and docs admitted, from the
    * committed funnel. */
  def funnelTotals(spark: SparkSession, root: String): DataFrame =
    DocStream.curationFunnel(spark, root).agg(count(lit(1)), sum("n_in"), sum("n_admitted"))

  def run(spark: SparkSession, tr: Tracer, seed: Long, deadlineMs: Long,
      work: String, out: Outcome): Unit = {
    // Set-up: stage the corpus, then warm up on a one-batch stream and
    // its funnel read.
    val setupStart = System.nanoTime()
    val stageDir = s"$work/stage"
    stage(spark, seed, stageDir, 0, Batches)
    stage(spark, seed, s"$work/warm_stage", 0, 1)
    val warm = pass(spark, tr, s"$work/warm_stage", s"$work/warm")
    (1 to 20).foreach(_ => funnelTotals(spark, s"$work/warm").collect())
    out.setupS = (System.nanoTime() - setupStart) / 1e9
    phase("set-up", setupStart)
    val docsStaged = spark.read.parquet(stageDir).count()
    out.check(docsStaged == Batches.toLong * DocsPerBatch, s"staged $docsStaged docs")

    val passes = mutable.ArrayBuffer.empty[(Boolean, Pass)]
    val reads = mutable.ArrayBuffer.empty[(Boolean, Int)]
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    var heapMb = 0.0
    var root = ""
    var admitRatio = 0.0
    var n = 0
    val start = System.nanoTime()
    while (n < minPasses(tr) || (System.nanoTime() - start) / 1e6 < deadlineMs) {
      root = s"$work/pass$n"
      tr.active = tr.recorder.isDefined && n % 2 == 1
      n += 1
      val traced = tr.active
      val startMs = System.currentTimeMillis()
      val ps = try Some(pass(spark, tr, stageDir, root)) catch {
        case scala.util.control.NonFatal(e) => out.check(false, s"pass into $root: $e"); None
      }
      ps.foreach { ps =>
        out.attempted += ps.triggers.size
        out.check(ps.triggers.size == Batches, s"${ps.triggers.size} triggers, expected $Batches")
        passes += traced -> ps
        println(f"PERFBENCH_PHASE pass ${passes.size} ${ps.ms / 1000}%.1f s, triggers " +
          ps.triggers.map(t => f"${t("triggerExecution") / 1000}%.1f").mkString(" "))
        if (traced) filesWritten += filesSince(new File(root), startMs).toDouble / Batches
        // the funnel read, repeated so its median rests on several samples
        (1 to 10).foreach { _ =>
          val id = tr.newOp()
          val f = query(tr, id)(funnelTotals(spark, root)).head
          reads += traced -> id
          admitRatio = f.getLong(2).toDouble / f.getLong(1)
          out.check(f.getLong(0) == Batches && f.getLong(1) == docsStaged && f.getLong(2) == Unique,
            s"funnel of $root: $f, expected $Batches batches, $docsStaged in, $Unique admitted")
        }
      }
      tr.active = false
      if (n == 1) heapMb = liveHeapMb()
    }

    phase("timed passes", start)
    // Re-running the last batch id must leave the funnel unchanged.
    def funnel = DocStream.curationFunnel(spark, root).orderBy("batch_id").collect().toSeq
    val before = funnel
    val last = before.last.getAs[Long]("batch_id")
    DocStream.curateBatch(spark.read.parquet(stageDir)
      .filter(col("doc_id") >= last * DocsPerBatch && col("doc_id") < (last + 1) * DocsPerBatch),
      last, root)
    out.check(funnel == before, s"replay of batch $last changed the funnel")

    val idx = Seq("mh_idx", "win_idx", "bm25_idx").map(d => tree(new File(s"$root/$d")))
    val untraced = passes.filter(!_._1).map(_._2)
    val timedMs = passes.map(_._2.ms).sum
    out.endToEnd ++= Seq(
      "pass_s" -> median(untraced.map(_.ms)) / 1000,
      "op_p50_ms" -> median(untraced.flatMap(_.triggers.map(_("triggerExecution")))),
      "rows_per_s" -> passes.size * docsStaged / (timedMs / 1000),
      "read_ms" -> median(reads.filter(!_._1).map(o => tr.ops(o._2)._2)),
      "stored_bytes_per_row" -> idx.map(_.bytes).sum.toDouble / docsStaged,
      "live_heap_mb" -> heapMb)
    out.layers("setup.warmup_op_ms") = median(warm.triggers.map(_("triggerExecution")))

    tr.recorder.foreach { rec =>
      rec.drain()
      val traced = passes.filter(_._1).map(_._2)
      val ops = traced.flatMap(_.ops).toSeq
      sparkLayers(tr, ops, reads.filter(_._1).map(_._2).toSeq, out)
      val trig = traced.flatMap(_.triggers)
      out.layers("streaming.trigger_ms") = median(trig.map(_("triggerExecution")))
      progressParts.foreach { case (k, n) => out.layers(n) = median(trig.map(_.getOrElse(k, 0.0))) }
      out.layers("streaming.other_ms") = median(trig.map(t =>
        t("triggerExecution") - progressParts.map(p => t.getOrElse(p._1, 0.0)).sum))
      out.layers("ops.curate_batch_ms") = median(ops.map(tr.spanMs(_, "ops.curate_batch")))
      out.layers("trace.spans_share") = median(trig.map(t =>
        progressParts.map(p => t.getOrElse(p._1, 0.0)).sum / t("triggerExecution")))
      out.layers("spark.files_written") = median(filesWritten)
      out.layers("ops.index_files") = idx.map(_.files).sum.toDouble
      out.layers("ops.index_bytes") = idx.map(_.bytes).sum.toDouble
      out.layers("ops.admit_ratio") = admitRatio
      out.layers("trace.overhead_ms") =
        median(traced.map(_.ms)) - median(untraced.map(_.ms))
    }
  }
}
