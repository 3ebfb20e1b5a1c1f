package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level profiler for the q114 day-partitioned merge lifecycle —
  * the attribution tool behind BASELINE.md's q114 figures. Replays
  * exactly the q114 steps (bootstrap upsertPartitioned over orders
  * month-partitioned, one-month correction merge, full re-read) and
  * prints one JSON line of per-phase seconds, so a bench regression can
  * be pinned to bootstrap write / correction merge / re-read instead of
  * guessed at.
  *
  * Usage: runMain graft.tools.ProfileMerge [sfDir] [passes]
  */
object ProfileMerge {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = LocalSpark.session()
    graft.queries.Catalog.tune(spark)
    // warmup (codegen, shuffle machinery)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    val results = (1 to passes).map { _ =>
      // each pass writes a full orders copy, removed at JVM exit
      val wh = graft.queries.PipelineQueries.tempRoot("graft_profmerge") +
        "/fact"
      val ord = graft.tables.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("day"))
      val (tBoot, _) = time(
        graft.etl.Load.upsertPartitioned(spark, ord, wh, "o_orderkey"))
      val batch = ord.filter(col("day") === "1995-01")
        .withColumn("o_totalprice", col("o_totalprice") * lit(0.9))
      val (tMerge, _) = time(
        graft.etl.Load.upsertPartitioned(spark, batch, wh, "o_orderkey"))
      val (tRead, n) = time(
        spark.read.parquet(wh)
          .select(col("o_orderkey"), col("day"),
            col("o_totalprice").as("price"))
          .orderBy(col("o_orderkey"))
          .agg(max(xxhash64(col("o_orderkey"), col("day"), col("price"))))
          .collect())
      Map("bootstrap" -> tBoot, "merge" -> tMerge, "reread" -> tRead)
    }
    def med(k: String) = {
      val v = results.map(_(k)).sorted; v(v.size / 2)
    }
    val json = Seq("bootstrap", "merge", "reread")
      .map(k => s""""$k":${"%.3f".format(med(k))}""").mkString(",")
    println(s"""{"profile":"q114_phases",$json,"passes":$passes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
