package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `op` is the benchmark operation it belongs
  * to (a `runStock` call, a micro-batch), `name` the per-layer metric it
  * feeds. */
final case class Span(op: Int, name: String, ms: Double)

/** Spark-side totals of the jobs one op (or one span of it) ran. */
final case class JobTotals(jobs: Int, stages: Int, tasks: Long, jobMs: Double,
    cpuMs: Double, gcMs: Double, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inputBytes: Long, inputRecords: Long, outputBytes: Long,
    outputRecords: Long)

/** A [[SparkListener]] that attributes every job to the benchmark job tags
  * (`pb:<op>` and `pb:<op>:<span>`) that were set on the submitting thread,
  * and sums stage, task and I/O metrics per job. Events arrive on Spark's
  * listener bus thread, so every access is synchronized. */
final class JobRecorder extends SparkListener {
  private final class Job(val tags: Seq[String], val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shRead = 0L
    var shWrite = 0L
    var spill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var outRecords = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq.filter(_.startsWith("pb:"))).getOrElse(Nil)
    jobs(e.jobId) = new Job(tags, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    lastEvent = System.nanoTime()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageJob.get(e.stageId); j <- jobs.get(id)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment, so totals read afterwards are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    def settled = synchronized(jobs.values.forall(_.end >= 0)) &&
      System.nanoTime() - lastEvent > 300L * 1000 * 1000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Totals over the jobs carrying `tag`. */
  def totals(tag: String): JobTotals = synchronized {
    val js = jobs.values.filter(_.tags.contains(tag)).toSeq
    JobTotals(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      js.map(j => (j.end - j.start).toDouble).sum, js.map(_.cpuNs).sum / 1e6,
      js.map(_.gcMs).sum.toDouble, js.map(_.shRead).sum, js.map(_.shWrite).sum,
      js.map(_.spill).sum, js.map(_.inBytes).sum, js.map(_.inRecords).sum,
      js.map(_.outBytes).sum, js.map(_.outRecords).sum)
  }

  /** Milliseconds of the window [from, to] during which no job carrying
    * `tag` was running: the driver-side time between and around jobs. */
  def gapMs(tag: String, from: Long, to: Long): Double = synchronized {
    val iv = jobs.values.filter(_.tags.contains(tag))
      .map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (to - from) - covered).toDouble
  }
}

/** Span recorder. While `active`, each call into a layer runs under a job
  * tag and a timer; otherwise only whole ops are timed and calls go
  * straight through, so untraced numbers carry no tracing cost. The job
  * listener is registered only when `record` is set (the traced run). */
final class Tracer(sc: SparkContext, record: Boolean) {
  var active = false
  val recorder: Option[JobRecorder] =
    if (record) { val r = new JobRecorder; sc.addSparkListener(r); Some(r) } else None
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** op id -> (epoch start ms, duration ms) */
  val ops: mutable.LinkedHashMap[Int, (Long, Double)] = mutable.LinkedHashMap.empty
  private var nextOp = 0

  def newOp(): Int = { nextOp += 1; nextOp }

  def op[T](id: Int)(f: => T): T = timed(s"pb:$id", id, None)(f)

  def span[T](id: Int, name: String)(f: => T): T =
    if (!active) f else timed(s"pb:$id:$name", id, Some(name))(f)

  private def timed[T](tag: String, id: Int, name: Option[String])(f: => T): T = {
    if (active) sc.addJobTag(tag)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      if (active) sc.removeJobTag(tag)
      name match {
        case Some(n) => spans += Span(id, n, ms)
        case None => ops(id) = (w0, ms)
      }
    }
  }

  def spanMs(id: Int, name: String): Double =
    spans.iterator.filter(s => s.op == id && s.name == name).map(_.ms).sum

  def totals(id: Int, name: String = ""): JobTotals =
    recorder.get.totals(if (name.isEmpty) s"pb:$id" else s"pb:$id:$name")

  def gapMs(id: Int): Double = {
    val (a, ms) = ops(id)
    recorder.get.gapMs(s"pb:$id", a, a + math.round(ms))
  }
}
