package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round helper: dump `explain("formatted")` for selected
  * catalog queries to files (the plans/rN before/after evidence), and
  * optionally time them with the bench's exact methodology (full-row
  * xxhash64 checksum action) so a single query can be iterated on
  * without a full catalog pass.
  *
  * Usage:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> \
  *        [--time N] [q1 q2 ...]"
  *
  * Writes <outDir>/<query>_<suffix>.txt per query. With --time N, each
  * query additionally runs N times and per-run seconds print to stdout.
  */
object PlanDump {

  @volatile var nJobs = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var sumDur = new java.util.concurrent.atomic.AtomicLong(0)

  def main(args: Array[String]): Unit = {
    val pos = args.filter(!_.startsWith("--"))
    val sfDir = pos(0)
    val outDir = pos(1)
    val suffix = pos(2)
    val wanted = pos.drop(3).toSet
    val timeN = args.sliding(2).collectFirst {
      case Array("--time", n) => n.toInt }.getOrElse(0)
    val jobLog = args.contains("--jobs")
    val spark = LocalSpark.session()
    // --jobs: per-Spark-job wall time + the head of its call site, so a
    // multi-action lifecycle gate's cost can be attributed to verbs
    if (jobLog) {
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => spark.range(1).collect())
      println(f"[jobfloor] ${(System.nanoTime() - t0) / 20e6}%.1f ms/action")
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      PlanDump.nJobs = new java.util.concurrent.atomic.AtomicLong(0)
      PlanDump.sumDur = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            starts.put(js.jobId, System.nanoTime())
            descs.put(js.jobId,
              js.stageInfos.map(_.name).distinct.mkString(" | ")
                .take(180))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val t0 = Option(starts.remove(je.jobId)).getOrElse(0L)
            val d = (System.nanoTime() - t0) / 1e9
            PlanDump.nJobs.incrementAndGet()
            PlanDump.sumDur.addAndGet((d * 1000).toLong)
            if (d >= 0.05)
              println(f"[job] ${je.jobId}%4d ${d}%7.3f s  " +
                s"${Option(descs.remove(je.jobId)).getOrElse("")}")
          }
        })
    }
    spark.range(1000000).selectExpr("sum(id)").collect()

    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => wanted.isEmpty || wanted(q._1))
    qs.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name written")
        (1 to timeN).foreach { i =>
          val t0 = System.nanoTime()
          val out = fn(spark, sfDir)
          out.agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.xxhash64(
              out.columns.toIndexedSeq
                .map(org.apache.spark.sql.functions.col): _*))).collect()
          println(f"[plandump] $name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s" +
            (if (jobLog) s" jobs=${PlanDump.nJobs.getAndSet(0)} jobsum=${PlanDump.sumDur.getAndSet(0)}ms" else ""))
        }
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
