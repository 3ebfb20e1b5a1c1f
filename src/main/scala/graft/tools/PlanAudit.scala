package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, max, xxhash64}

/** The catalog walker of the dev tools. Its gate is the physical-plan
  * regression check: for every query, count exchanges and join
  * strategies, then check against the checked-in allowlist
  * (`tools/plan_exchanges.allow`, one `sf query max_exchanges` line per
  * query per scale factor). Hard failure on:
  *
  *  - CartesianProduct anywhere,
  *  - a query that won't plan,
  *  - a query whose exchange count EXCEEDS its recorded allowance —
  *    the regression that used to pass silently: two avoidable
  *    shuffles added to an existing query now exit non-zero,
  *  - a query missing from the allowlist for an sf that has entries
  *    (new queries must record their expected plan cost).
  *
  * Counts are per-sf because size-based broadcast choices legitimately
  * differ across scales. CatalogSpec runs the same gate in the test
  * suite at sf0.001, on the frames its catalog pass executes.
  *
  * Usage: sbt "runMain graft.tools.PlanAudit <sfDir> [q1 q2 ...]
  *             [--record] [--time N] [--plans DIR] [--jobs]"
  *
  *  - trailing query names restrict the walk (default: the catalog);
  *  - `--record` re-baselines the walked queries' entries for this sf
  *    (use after an intentional plan change, then review the diff like
  *    any other code);
  *  - `--time N` runs each query N more times with Bench's measurement
  *    (a fresh build, then a full-row xxhash64 checksum action), prints
  *    build and execute seconds per pass, then one JSON line of each
  *    query's median pass seconds. Lifecycle queries do their
  *    warehouse work while the frame is built, hence the split;
  *  - `--plans DIR` writes each query's `explain("formatted")` to
  *    `DIR/<query>.txt` (the before/after plan evidence);
  *  - `--jobs` prints every Spark job of at least 50 ms with its stage
  *    names, and the jobs and job-seconds of each timed pass.
  */
object PlanAudit {

  val AllowFile = "tools/plan_exchanges.allow"

  case class Result(name: String, exchanges: Int, joins: String,
                    cartesian: Boolean, failure: Option[String])

  private val JoinKinds = Seq("BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Plan shape of one built frame. Reads the plan AQE starts from, so
    * call it before any action on `df`: an action makes the adaptive
    * plan final, and the allowlist counts the initial one.
    */
  def shape(name: String, df: DataFrame): Result = {
    val plan = df.queryExecution.executedPlan.toString
    val joins = JoinKinds.flatMap(j =>
      Option(("\\b" + j).r.findAllIn(plan).length).filter(_ > 0)
        .map(n => s"$j x$n"))
    Result(name, "Exchange".r.findAllIn(plan).length, joins.mkString(", "),
      plan.contains("CartesianProduct"), None)
  }

  /** Build each catalog query in name order (only `names` when given),
    * read its [[shape]], then hand the built frame to `use`. A query
    * that fails to build or plan records the failure and skips `use`;
    * a failure inside `use` is the caller's to handle.
    */
  def audit[A](spark: SparkSession, sfDir: String, names: Seq[String] = Nil)(
      use: (String, DataFrame) => A): Seq[(Result, Option[A])] = {
    val qs = graft.SparkEntry.queries
    val walk = if (names.isEmpty) qs.keys.toSeq else names
    walk.sorted.map { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      val built =
        try {
          val df = fn(spark, sfDir)
          Right((df, shape(name, df)))
        } catch {
          case e: Throwable => Left(Result(name, -1, "", cartesian = false,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
        }
      built match {
        case Right((df, r)) => (r, Some(use(name, df)))
        case Left(r) => (r, None)
      }
    }
  }

  /** sf-basename → (query → allowed max exchanges). */
  def allowlist(): Map[String, Map[String, Int]] = {
    val p = Paths.get(AllowFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(sf, q, n) = l.split("\\s+")
        (sf, q, n.toInt)
      }
      .groupBy(_._1)
      .map { case (sf, rows) =>
        sf -> rows.map(r => r._2 -> r._3).toMap
      }
  }

  /** Violations for one sf's results against its allow map; empty map
    * (sf never recorded) gates nothing but is reported by the caller.
    */
  def violations(results: Seq[Result],
                 allowed: Map[String, Int]): Seq[String] =
    results.flatMap { r =>
      r.failure.map(f => s"${r.name}: FAILED TO PLAN: $f")
        .orElse(if (r.cartesian) Some(s"${r.name}: CARTESIAN product")
        else None)
        .orElse(allowed.get(r.name) match {
          case _ if allowed.isEmpty => None
          case Some(max) if r.exchanges > max =>
            Some(s"${r.name}: ${r.exchanges} exchanges > recorded $max " +
              "(re-baseline with --record if intentional)")
          case None =>
            Some(s"${r.name}: not in $AllowFile for this sf " +
              "(record new queries with --record)")
          case _ => None
        })
    }

  /** `--jobs`: prints each Spark job of at least 50 ms with its stage
    * names; [[take]] returns the jobs and job time since its last call.
    */
  private class JobLog extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    private val jobs = new AtomicLong()
    private val nanos = new AtomicLong()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      started.put(js.jobId, (System.nanoTime(),
        js.stageInfos.map(_.name).distinct.mkString(" | ").take(180)))
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, stages) =>
        val d = System.nanoTime() - t0
        jobs.incrementAndGet()
        nanos.addAndGet(d)
        if (d >= 50000000L)
          println(f"[job] ${je.jobId}%4d ${d / 1e9}%7.3f s  $stages")
      }
    def take(): String =
      f" jobs=${jobs.getAndSet(0)} jobsum=${nanos.getAndSet(0) / 1e6}%.0fms"
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    def opt(flag: String) = args.indexOf(flag) match {
      case -1 => None
      case i => args.lift(i + 1)
    }
    val pos = args.indices.filterNot(i => args(i).startsWith("--") ||
      (i > 0 && Set("--time", "--plans")(args(i - 1)))).map(args(_))
    val sfDir = pos.headOption.getOrElse(sys.error("usage: PlanAudit " +
      "<sfDir> [q1 q2 ...] [--record] [--time N] [--plans DIR] [--jobs]"))
    val names = pos.drop(1)
    val record = args.contains("--record")
    val passes = opt("--time").map(_.toInt).getOrElse(0)
    val plansDir = opt("--plans").map(Paths.get(_))
    val sf = Paths.get(sfDir).getFileName.toString
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    val jobLog = if (args.contains("--jobs")) {
      val l = new JobLog
      spark.sparkContext.addSparkListener(l)
      val (_, floor) = timed((1 to 20).foreach(_ => spark.range(1).collect()))
      println(f"[jobfloor] ${floor * 50}%.1f ms/action")
      Some(l)
    } else None
    // JVM/session warmup, so the first timed query is not charged the
    // codegen and shuffle start-up
    if (passes > 0) spark.range(1000000).selectExpr("sum(id)").collect()
    plansDir.foreach(Files.createDirectories(_))

    val walked = audit(spark, sfDir, names) { (name, df) =>
      plansDir.foreach(dir => Files.write(dir.resolve(s"$name.txt"),
        df.queryExecution.explainString(FormattedMode).getBytes("UTF-8")))
      jobLog.foreach(_.take())
      try {
        val runs = (1 to passes).map { i =>
          spark.catalog.clearCache()
          val (out, build) = timed(graft.SparkEntry.queries(name)(spark, sfDir))
          val (_, exec) = timed(out.agg(max(xxhash64(
            out.columns.toIndexedSeq.map(col): _*))).collect())
          println(f"[time] $name%-24s pass=$i build=$build%.3f s " +
            f"exec=$exec%.3f s" + jobLog.fold("")(_.take()))
          build + exec
        }.sorted
        runs.lift(passes / 2)
      } catch {
        case e: Throwable =>
          println(s"[time] $name FAILED: ${e.getMessage}")
          None
      }
    }
    val results = walked.map(_._1)
    results.foreach { r =>
      println(f"[audit] ${r.name}%-24s exch=${r.exchanges}%2d  " +
        f"${r.joins}%-40s ${r.failure.getOrElse("")}")
    }
    if (passes > 0) {
      val json = walked.collect { case (r, Some(Some(s))) =>
        s""""${r.name}":${"%.3f".format(s)}""" }.mkString(",")
      println(s"""{"timequery":{$json},"passes":$passes,"sf":"$sfDir"}""")
    }

    if (record) {
      val failed = results.filter(_.failure.isDefined)
      require(failed.isEmpty,
        s"refusing to record a baseline with failing queries: " +
          failed.map(_.name).mkString(", "))
      val walkedNames = results.map(_.name).toSet
      val kept = allowlist().toSeq.flatMap { case (s, m) =>
        m.toSeq.map { case (q, n) => (s, q, n) }
      }.filter { case (s, q, _) =>
        s != sf || (names.nonEmpty && !walkedNames(q))
      }
      val lines =
        Seq("# PlanAudit exchange-count baseline: <sf> <query> <max>",
          "# Regenerate one sf with: " +
            "sbt \"runMain graft.tools.PlanAudit <sfDir> --record\"") ++
          (kept ++ results.map(r => (sf, r.name, r.exchanges)))
            .sortBy(t => (t._1, t._2))
            .map { case (s, q, n) => s"$s $q $n" }
      Files.write(Paths.get(AllowFile),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"[audit] recorded ${results.size} entries for $sf " +
        s"into $AllowFile")
      spark.stop()
    } else {
      val allowedForSf = allowlist().getOrElse(sf, Map.empty)
      if (allowedForSf.isEmpty)
        println(s"[audit] NOTE: no $AllowFile entries for $sf — " +
          "exchange regression gate inactive (run --record)")
      val bad = violations(results, allowedForSf)
      bad.foreach(v => println(s"[audit] VIOLATION $v"))
      println(s"[audit] violations: ${bad.size}")
      spark.stop()
      if (bad.nonEmpty) sys.exit(1)
    }
  }
}
