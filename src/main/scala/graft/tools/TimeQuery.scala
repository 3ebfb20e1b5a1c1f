package graft.tools

import org.apache.spark.sql.functions.{col, max, xxhash64}

/** Time a handful of catalog queries in isolation with Bench's exact
  * measurement (full-row xxhash checksum, median of N passes) — the
  * spot-check companion to the full `graft.Bench` sweep, for
  * attributing one query's move without a 10-minute 147-query run.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <q1,q2,...> [passes]
  */
object TimeQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: TimeQuery <sfDir> <q1,q2,...> [passes]"))
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = LocalSpark.session()
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    val qs = graft.SparkEntry.queries
    val results = names.map { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      val ts = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val out = fn(spark, sfDir)
        out.agg(max(xxhash64(out.columns.map(col).toIndexedSeq: _*))).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> ts(ts.size / 2)
    }
    val json = results.map { case (k, v) =>
      s""""$k":${"%.3f".format(v)}""" }.mkString(",")
    println(s"""{"timequery":{$json},"passes":$passes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
