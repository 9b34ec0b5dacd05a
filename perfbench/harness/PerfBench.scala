package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM entry point. `perfbench/run.py` builds the program,
  * gives the run a fresh directory and launches this main with the pinned
  * JVM settings; it prints one `PERFBENCH_RESULT {...}` line that run.py
  * turns into the benchmark's result.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <work dir> <cores>
  * <launch epoch ms>`.
  */
object PerfBench {

  /** Every per-layer metric, in BENCHMARK.json order. A workload that does
    * not exercise a layer reports 0 for it. */
  val perLayer: Seq[String] = Seq(
    "queries.build_ms", "queries.eager_jobs", "queries.analyze_ms",
    "queries.optimize_ms", "queries.plan_ms", "queries.run_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms",
    "spark.driver_gap_ms", "floor.noop_ms", "floor.shuffle_ms",
    "spark.task_cpu_ms", "spark.task_gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
    "etl.extract_ms", "etl.state_read_ms", "etl.transform_ms",
    "etl.state_advance_ms", "etl.lake_write_ms", "etl.watermark_ms",
    "etl.other_ms", "etl.lake_files", "etl.lake_dirs", "etl.insert_ratio",
    "warehouse.stage_load_ms", "warehouse.merge_ms",
    "warehouse.merge_rows_scanned", "warehouse.rows_inserted",
    "spark.output_bytes", "spark.files_written",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.wal_ms",
    "streaming.latest_offset_ms", "streaming.planning_ms",
    "streaming.other_ms", "ops.curate_batch_ms", "ops.index_files",
    "ops.index_bytes", "ops.admit_ratio", "core.artifact_bytes",
    "setup.warmup_op_ms", "trace.spans_share", "trace.overhead_ms")

  /** What one workload run hands back to [[main]]. `endToEnd` holds the
    * workload-side end-to-end metrics (everything except `setup_s`, whose
    * launch part only run.py can see); `setupS` the wall time of the
    * workload's set-up. */
  final class Outcome {
    val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    var setupS = 0.0
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    var attempted = 0L

    /** Count one op or output check; record it as failed unless `ok`. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, cores, launchMs) = args
    val spark = graft.core.GraftSession.builder("perfbench", cores.toInt)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs.toLong) / 1000.0
    val tracer = new Tracer(spark.sparkContext, trace == "1")
    val out = new Outcome
    val deadlineMs = seconds.toLong * 1000
    val t0 = System.nanoTime()
    workload match {
      case "etl_incremental" => Etl.run(spark, tracer, seed.toLong, deadlineMs, work, out)
      case "stream_curate" => Stream.run(spark, tracer, seed.toLong, deadlineMs, work, out)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    phase("workload", t0)
    val t1 = System.nanoTime()
    val (noop, shuffle) = floor(spark)
    phase("floor", t1)
    out.layers("floor.noop_ms") = noop
    out.layers("floor.shuffle_ms") = shuffle
    out.layers("core.artifact_bytes") =
      tree(new File(s"${sys.props("java.io.tmpdir")}/graft_artifacts")).bytes.toDouble
    val layers = perLayer.map(n => n -> out.layers.getOrElse(n, 0.0))
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    println("PERFBENCH_RESULT {" +
      s""""attempted":${out.attempted},"failed":${out.failures.size},""" +
      s""""failures":${out.failures.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")},""" +
      s""""session_s":${num(sessionS)},""" +
      s""""setup_s":${num(out.setupS)},""" +
      s""""end_to_end":${obj(out.endToEnd.toSeq)},"per_layer":${obj(layers)}}""")
    spark.stop()
  }

  /** Timed passes a run makes at least, whatever `--seconds` says: two, so
    * a median has two samples; three in a traced run, whose passes go
    * untraced, traced, untraced, so the untraced median brackets the
    * traced pass and their difference is the tracing overhead. */
  def minPasses(tr: Tracer): Int = if (tr.recorder.isDefined) 3 else 2

  /** Progress line: seconds since `t0`, echoed by run.py. */
  def phase(name: String, t0: Long): Unit =
    println(f"PERFBENCH_PHASE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wall milliseconds of `f`. */
  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  final case class Tree(files: Long, dirs: Long, bytes: Long)

  /** Files (hidden checksum files excluded), directories and bytes under `f`. */
  def tree(f: File): Tree =
    if (!f.exists) Tree(0, 0, 0)
    else if (f.isFile) {
      if (f.getName.startsWith(".")) Tree(0, 0, 0) else Tree(1, 0, f.length)
    } else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(tree)
      .foldLeft(Tree(0, 1, 0)) { (a, b) =>
        Tree(a.files + b.files, a.dirs + b.dirs, a.bytes + b.bytes) }

  /** Non-hidden files under `f` modified at or after `sinceMs`. */
  def filesSince(f: File, sinceMs: Long): Long =
    if (!f.exists) 0L
    else if (f.isFile) {
      if (!f.getName.startsWith(".") && f.lastModified >= sinceMs) 1L else 0L
    } else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(filesSince(_, sinceMs)).sum

  /** Heap in use after a full collection, in MiB: the live set. The
    * second collection follows a pause in which Spark's ContextCleaner
    * drops the broadcast and shuffle blocks the first one orphaned. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Engine floor, measured in this JVM: median of five runs each of an
    * empty `range(1)` noop write and a two-stage shuffle. */
  def floor(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.col
    def noop(): Unit = spark.range(1).write.format("noop").mode("overwrite").save()
    def shuffle(): Unit = spark.range(0, 1000, 1, 2)
      .groupBy((col("id") % 2).as("k")).count()
      .write.format("noop").mode("overwrite").save()
    noop(); shuffle()
    (median((1 to 5).map(_ => timeMs(noop())._2)),
     median((1 to 5).map(_ => timeMs(shuffle())._2)))
  }

  /** Run one read query under op `id`. Traced, the Catalyst phases are
    * forced one at a time, each in its own span. */
  def query(tr: Tracer, id: Int)(build: => DataFrame): Array[Row] = tr.op(id) {
    if (!tr.active) build.collect()
    else {
      val df = tr.span(id, "queries.build")(build)
      val qe = df.queryExecution
      tr.span(id, "queries.analyze")(qe.assertAnalyzed())
      tr.span(id, "queries.optimize")(qe.optimizedPlan)
      tr.span(id, "queries.plan")(qe.executedPlan)
      tr.span(id, "queries.run")(df.collect())
    }
  }

  /** Per-layer metrics shared by every workload: Spark totals and driver
    * gap per op (median over `ops`), and the query phases per read op
    * (median over `reads`). Call after `tr.recorder` has drained. */
  def sparkLayers(tr: Tracer, ops: Seq[Int], reads: Seq[Int], out: Outcome): Unit = {
    val t = ops.map(tr.totals(_))
    def m(f: JobTotals => Double) = median(t.map(f))
    out.layers ++= Seq(
      "spark.jobs" -> m(_.jobs), "spark.stages" -> m(_.stages),
      "spark.tasks" -> m(_.tasks.toDouble), "spark.job_ms" -> m(_.jobMs),
      "spark.driver_gap_ms" -> median(ops.map(tr.gapMs)),
      "spark.task_cpu_ms" -> m(_.cpuMs), "spark.task_gc_ms" -> m(_.gcMs),
      "spark.shuffle_read_bytes" -> m(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> m(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> m(_.spill.toDouble),
      "spark.input_bytes" -> m(_.inputBytes.toDouble),
      "spark.output_bytes" -> m(_.outputBytes.toDouble))
    Seq("build", "analyze", "optimize", "plan", "run").foreach { p =>
      out.layers(s"queries.${p}_ms") = median(reads.map(tr.spanMs(_, s"queries.$p")))
    }
    out.layers("queries.eager_jobs") =
      median(reads.map(tr.totals(_, "queries.build").jobs.toDouble))
  }
}
