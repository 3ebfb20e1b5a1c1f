package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import perfbench.Stats.Metric

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Set-up is timed on its own: session start, plus the median of the
  * workload's repeated fixture builds, plus its one-off warm-up. The
  * measured phase then runs whole cycles of the workload, one client
  * thread, closed loop, until `seconds` have passed. With `--trace 1`
  * the first half of the phase runs untraced and the second half under
  * the attribution listener; the result line then carries the per-layer
  * metrics instead of the end-to-end ones, and the workload's slow
  * one-off checks run after it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      // the status store keeps finished jobs and executions in driver
      // memory; a small bound keeps retained_heap_mb about the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.queries.Catalog.tune(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads(a.workload)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, a.seed, a.work)
    val reps = (1 to wl.setupReps).map { rep =>
      val t = System.nanoTime()
      wl.setup(h, rep)
      (System.nanoTime() - t) / 1e9
    }
    val tp = System.nanoTime()
    wl.prepare(h)
    h.ops.clear()
    val prepS = (System.nanoTime() - tp) / 1e9
    val setupS = sessionS + Stats.median(reps) + prepS
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-up reps " +
      reps.map(x => f"$x%.2f").mkString(" ") + f", warm-up $prepS%.2f s")

    val result =
      try {
        if (!a.trace) Some(endToEnd(h, wl, a.seconds, setupS))
        else Some(perLayer(h, wl, a.seconds))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          None
      }
    spark.stop()
    result match {
      case Some(metrics) =>
        println(Stats.resultJson(h.correct && h.failed == 0, h.attempted, h.failed, metrics))
        sys.exit(0)
      case None =>
        println(Stats.resultJson(correct = false, math.max(1L, h.attempted),
          math.max(1L, h.failed), Seq.empty))
        sys.exit(1)
    }
  }

  /** Runs whole cycles until `seconds` have passed and at least
    * `wl.minCycles` have run; returns the cycle walls in seconds.
    */
  private def measure(h: Harness, wl: Workload, seconds: Double, first: Int): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val walls = Seq.newBuilder[Double]
    var i = first
    while (i < first + wl.minCycles || System.nanoTime() < end) {
      val t = System.nanoTime()
      wl.cycle(h, i)
      walls += (System.nanoTime() - t) / 1e9
      i += 1
    }
    walls.result()
  }

  /** Driver heap in use after the run, once the listener bus has
    * drained and the context cleaner has had time to drop unreferenced
    * broadcasts and shuffles between collections.
    */
  private def retainedHeapMb(h: Harness): Double = {
    BusDrain(h.spark.sparkContext)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def endToEnd(h: Harness, wl: Workload, seconds: Double,
               setupS: Double): Seq[(String, Metric)] = {
    val walls = measure(h, wl, seconds, 0)
    val heap = retainedHeapMb(h)
    System.err.println(s"[perfbench] ${walls.size} cycles; " + h.ops.map { case (k, v) =>
      f"$k ${Stats.median(v.toSeq)}%.3f" }.mkString(", "))
    inSchema(EndToEnd, Map(
      "setup_s" -> setupS,
      "cycle_s" -> Stats.median(walls),
      "write_ms" -> h.typicalMs(reads = false),
      "read_ms" -> h.typicalMs(reads = true),
      "retained_heap_mb" -> heap))
  }

  /** Orders `values` by `schema`, attaching units; a schema name with no
    * value is a bug.
    */
  private def inSchema(schema: Seq[(String, String)],
                       values: Map[String, Double]): Seq[(String, Metric)] = {
    require(values.keySet == schema.map(_._1).toSet,
      s"metrics ${values.keySet} do not match the schema")
    schema.map { case (k, unit) => k -> Metric(values(k), unit) }
  }

  /** End-to-end metrics (untraced runs), with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "write_ms" -> "ms",
    "read_ms" -> "ms", "retained_heap_mb" -> "MB")

  /** Ops whose driver gap (span wall minus the part jobs cover) is
    * reported by the traced run.
    */
  val GapVerbs: Seq[String] = Seq(
    "etl.day", "etl.readback", "invidx.addBatch", "invidx.delete",
    "adc.append", "adc.delete", "adc.tieredCompact", "corpus.ingest",
    "serve.search", "serve.ann", "catalog.query")

  /** Ops whose untraced median latency is reported by the traced run. */
  val LatVerbs: Seq[String] = Seq(
    "etl.readback", "invidx.addBatch", "invidx.delete", "adc.append",
    "adc.delete", "adc.tieredCompact", "corpus.ingest", "serve.search",
    "serve.ann")

  /** Per-layer metrics (traced runs), with units. */
  val PerLayer: Seq[(String, String)] =
    (for (l <- Trace.Layers; (f, unit) <- Trace.LayerFields) yield s"$l.$f" -> unit) ++
      GapVerbs.map(v => s"gap.$v.p50_s" -> "s") ++
      LatVerbs.map(v => s"lat.$v.p50_ms" -> "ms") ++ Seq(
        "lat.catalog.geomean_ms" -> "ms", "spark.wall_s" -> "s", "spark.driver_gap_s" -> "s",
        "spark.attributed_share" -> "ratio", "spark.layer_sum_over_wall" -> "ratio",
        "trace.overhead_pct" -> "%", "files_written" -> "count",
        "bytes_on_disk" -> "bytes", "space_amp" -> "ratio")

  def perLayer(h: Harness, wl: Workload, seconds: Double): Seq[(String, Metric)] = {
    val sc = h.spark.sparkContext
    val plainWalls = measure(h, wl, seconds / 2, 0)
    val plainOps = h.ops.map { case (k, v) => k -> v.toList }.toMap
    h.ops.clear()
    val tr = new Trace
    sc.addSparkListener(tr)
    h.trace = Some(tr)
    val t0 = System.currentTimeMillis()
    val tracedWalls = measure(h, wl, seconds / 2, plainWalls.size)
    val t1 = System.currentTimeMillis()
    val rep = tr.report(sc, t0, t1)
    val gaps = GapVerbs.map(v => v -> tr.spanGaps(sc, v)).toMap
    h.trace = None
    sc.removeSparkListener(tr)
    val (files, bytes, input) = wl.disk(h).getOrElse((0L, 0L, 0L))
    wl.finish(h)
    System.err.println(f"[perfbench] traced ${rep.jobs} jobs, attributed " +
      f"${rep.attributedShare * 100}%.1f%%, (layers+gap)/wall ${rep.layerSumOverWall}%.3f")

    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // catalog: geometric mean over queries of each query's median
    val perQuery = plainOps.collect { case (k, v) if k.startsWith("catalog.q") => Stats.median(v) }
    inSchema(PerLayer,
      (for (l <- Trace.Layers; (f, _) <- Trace.LayerFields) yield s"$l.$f" -> rep.layers(l)(f)).toMap ++
        GapVerbs.map(v => s"gap.$v.p50_s" -> p50(gaps(v))) ++
        LatVerbs.map(v => s"lat.$v.p50_ms" -> p50(plainOps.getOrElse(v, Nil)) * 1e3) ++ Map(
          "lat.catalog.geomean_ms" ->
            (if (perQuery.isEmpty) 0.0 else Stats.geomean(perQuery.toSeq) * 1e3),
          "spark.wall_s" -> rep.wallS,
          "spark.driver_gap_s" -> (rep.wallS - rep.jobUnionS),
          "spark.attributed_share" -> rep.attributedShare,
          "spark.layer_sum_over_wall" -> rep.layerSumOverWall,
          "trace.overhead_pct" ->
            100.0 * (Stats.median(tracedWalls) / Stats.median(plainWalls) - 1),
          "files_written" -> files.toDouble,
          "bytes_on_disk" -> bytes.toDouble,
          "space_amp" -> (if (input > 0) bytes.toDouble / input else 0.0)))
  }
}
