package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attribution of Spark work to the engine module that launched it.
  *
  * A job inside a SQL execution is charged to the module named by that
  * execution's call site (`SparkListenerSQLExecutionStart.details`): AQE
  * stage jobs run on a helper thread whose own call site names only
  * `CompletableFuture`, but they carry `spark.sql.execution.id`. A job
  * outside any execution (RDD actions, parquet listing and schema
  * inference) is charged by its first stage's call site. A job that
  * neither names is charged to the innermost benchmark span around it.
  */
object Trace {

  /** Layers in report order. `bench` is the benchmark's own forcing
    * action; the others are engine modules.
    */
  val Layers: Seq[String] = Seq(
    "etl.Extract", "etl.Load", "etl.Pipeline",
    "ops.InvertedIndex", "ops.AdcIngest", "ops.CorpusIngest",
    "ops.SegmentCompaction", "ops.vector",
    "queries", "tables", "bench")

  val LayerFields: Seq[(String, String)] = Seq(
    "jobs" -> "count", "sql_execs" -> "count", "job_s" -> "s",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "input_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "output_bytes" -> "bytes")

  /** The layer of one class name, or None for a frame that names no
    * layer (Spark, the JDK, or engine helpers such as `ops.Relational`,
    * whose work belongs to the module that called them).
    */
  def layerOfClass(cls: String): Option[String] = {
    val base = cls.takeWhile(_ != '$')
    base match {
      case "graft.etl.Extract" => Some("etl.Extract")
      case "graft.etl.Load" => Some("etl.Load")
      case "graft.etl.Pipeline" => Some("etl.Pipeline")
      case "graft.ops.InvertedIndex" => Some("ops.InvertedIndex")
      case "graft.ops.AdcIngest" => Some("ops.AdcIngest")
      case "graft.ops.CorpusIngest" => Some("ops.CorpusIngest")
      case "graft.ops.SegmentCompaction" => Some("ops.SegmentCompaction")
      case "graft.ops.Pq" | "graft.ops.IvfPq" | "graft.ops.VectorOps" =>
        Some("ops.vector")
      case b if b.startsWith("graft.queries.") => Some("queries")
      case b if b.startsWith("graft.tables.") => Some("tables")
      case b if b.startsWith("perfbench.") => Some("bench")
      case _ => None
    }
  }

  /** Class name of one stack frame as Spark prints it,
    * e.g. `graft.etl.Load$.insert(Load.scala:640)` → `graft.etl.Load$`.
    */
  def frameClass(frame: String): String = {
    val f = frame.trim.stripPrefix("at ")
    val call = f.takeWhile(_ != '(')
    val dot = call.lastIndexOf('.')
    if (dot < 0) call else call.substring(0, dot)
  }

  /** The layer of a call site: its innermost frame that names one. */
  def layerOf(callSite: String): Option[String] =
    callSite.linesIterator.map(frameClass).flatMap(layerOfClass).nextOption()

  /** Total length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A benchmark span: a named step of a workload, with the layer that
    * owns any job inside it that names no module of its own.
    */
  final case class Span(name: String, layer: String, start: Long, end: Long)

  final class Job(val id: Int, val start: Long, val execId: Option[Long],
                  val callSite: String) {
    @volatile var end: Long = -1L
  }

  final class Agg {
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var shufW = 0L
    var outBytes = 0L
  }

  /** Per-layer report of one traced window. */
  final case class Report(
      layers: Map[String, Map[String, Double]], wallS: Double,
      jobUnionS: Double, attributedShare: Double, layerSumOverWall: Double,
      jobs: Int)
}

/** The listener. Install with `sc.addSparkListener`, drain the bus with
  * [[BusDrain]] before reading.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAgg = mutable.HashMap.empty[Int, Agg]
  private val execs = mutable.LinkedHashMap.empty[Long, (Long, String)]
  private val spans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details)
      .getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, execId, site)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.time, s.details)
    }
    case _ =>
  }

  /** Runs `body` as a span named `name`; unattributed jobs inside it
    * are charged to `layer`.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(name, layer, t0, t1) }
    }
  }

  private def fallback(t: Long): Option[String] = {
    // innermost = the latest-starting span that still covers t
    spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start)
      .headOption.map(_.layer)
  }

  private def layerOfJob(j: Job): Option[String] =
    j.execId.flatMap(execs.get).flatMap(x => layerOf(x._2))
      .orElse(layerOf(j.callSite))
      .orElse(fallback(j.start))

  /** Attribute every job that started inside `[t0, t1]`. */
  def report(sc: SparkContext, t0: Long, t1: Long): Report = {
    BusDrain(sc)
    synchronized {
      val inWin = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
      val closed = inWin.map(j => (j, if (j.end < 0) t1 else math.min(j.end, t1)))
      val byLayer = closed.groupBy { case (j, _) => layerOfJob(j).getOrElse("") }
      val jobsOfStage = stageJob.groupBy(_._2).map { case (j, ss) => j -> ss.keys.toSeq }
      val execsInWin = execs.toSeq.filter { case (_, (t, _)) => t >= t0 && t <= t1 }
      val execLayer = execsInWin.groupBy { case (_, (t, d)) =>
        layerOf(d).orElse(fallback(t)).getOrElse("") }
      val layers = Layers.map { l =>
        val js = byLayer.getOrElse(l, Seq.empty)
        val aggs = js.flatMap { case (j, _) => jobsOfStage.getOrElse(j.id, Nil) }
          .flatMap(stageAgg.get)
        l -> Map(
          "jobs" -> js.size.toDouble,
          "sql_execs" -> execLayer.getOrElse(l, Seq.empty).size.toDouble,
          "job_s" -> unionLength(js.map { case (j, e) => (j.start, e) }) / 1e3,
          "task_run_s" -> aggs.map(_.runMs).sum / 1e3,
          "task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
          "input_bytes" -> aggs.map(_.inBytes).sum.toDouble,
          "shuffle_write_bytes" -> aggs.map(_.shufW).sum.toDouble,
          "output_bytes" -> aggs.map(_.outBytes).sum.toDouble)
      }.toMap
      val allIv = closed.map { case (j, e) => (j.start, e) }
      val total = allIv.map { case (s, e) => (e - s).toDouble }.sum
      val named = byLayer.filter(_._1.nonEmpty).values.flatten
        .map { case (j, e) => (e - j.start).toDouble }.sum
      val wall = (t1 - t0) / 1e3
      val union = unionLength(allIv) / 1e3
      val layerSum = layers.values.map(_("job_s")).sum
      Report(layers, wall, union,
        if (total > 0) named / total else 1.0,
        if (wall > 0) (layerSum + (wall - union)) / wall else 1.0,
        inWin.size)
    }
  }

  /** Driver gap of each span occurrence: its wall minus the part of it
    * covered by jobs, in seconds.
    */
  def spanGaps(sc: SparkContext, name: String): Seq[Double] = {
    BusDrain(sc)
    synchronized {
      val iv = jobs.values.map(j => (j.start, if (j.end < 0) Long.MaxValue else j.end)).toSeq
      spans.filter(_.name == name).map { s =>
        val clipped = iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        (s.end - s.start - unionLength(clipped)) / 1e3
      }.toSeq
    }
  }
}
