package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Physical-plan regression gate over the whole catalog: for every
  * query, count exchanges and join strategies, then check against the
  * checked-in allowlist (`tools/plan_exchanges.allow`, one `sf query
  * max_exchanges` line per query per scale factor). Hard failure on:
  *
  *  - CartesianProduct anywhere,
  *  - a query that won't plan,
  *  - a query whose exchange count EXCEEDS its recorded allowance —
  *    the regression that used to pass silently: two avoidable
  *    shuffles added to an existing query now exit non-zero,
  *  - a query missing from the allowlist for an sf that has entries
  *    (new queries must record their expected plan cost).
  *
  * `--record` re-baselines the current sf's entries (use after an
  * intentional plan change, then review the diff like any other code).
  * Counts are per-sf because size-based broadcast choices legitimately
  * differ across scales. PlanAuditSpec runs the same gate in the test
  * suite at sf0.001.
  *
  * Usage: sbt "runMain graft.tools.PlanAudit [sfDir] [--record]"
  */
object PlanAudit {

  val AllowFile = "tools/plan_exchanges.allow"

  case class Result(name: String, exchanges: Int, joins: String,
                    cartesian: Boolean, failure: Option[String])

  def audit(spark: SparkSession, sfDir: String): Seq[Result] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val exchanges = "Exchange".r.findAllIn(plan).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
          .flatMap(j => Option(("\\b" + j).r.findAllIn(plan).length)
            .filter(_ > 0).map(n => s"$j x$n"))
        Result(name, exchanges, joins.mkString(", "),
          plan.contains("CartesianProduct"), None)
      } catch {
        case e: Throwable => Result(name, -1, "", cartesian = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
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

  def main(args: Array[String]): Unit = {
    val sfDir = args.find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.01")
    val record = args.contains("--record")
    val sf = Paths.get(sfDir).getFileName.toString
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")

    val results = audit(spark, sfDir)
    results.foreach { r =>
      println(f"[audit] ${r.name}%-24s exch=${r.exchanges}%2d  " +
        f"${r.joins}%-40s ${r.failure.getOrElse("")}")
    }

    if (record) {
      val failed = results.filter(_.failure.isDefined)
      require(failed.isEmpty,
        s"refusing to record a baseline with failing queries: " +
          failed.map(_.name).mkString(", "))
      val others = allowlist().view.filterKeys(_ != sf).toMap
      val lines =
        Seq("# PlanAudit exchange-count baseline: <sf> <query> <max>",
          "# Regenerate one sf with: " +
            "sbt \"runMain graft.tools.PlanAudit <sfDir> --record\"") ++
          (others.toSeq.flatMap { case (s, m) =>
            m.toSeq.map { case (q, n) => (s, q, n) }
          } ++ results.map(r => (sf, r.name, r.exchanges)))
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
