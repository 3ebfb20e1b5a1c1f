package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a graft frame maps to its module") {
    assert(Trace.layerOf("graft.etl.Load$.insert(Load.scala:640)").contains("etl.Load"))
    assert(Trace.layerOf("at graft.ops.IvfPq$.rerank(IvfPq.scala:99)").contains("ops.vector"))
    assert(Trace.layerOf("graft.queries.TextQueries$.$anonfun$q1$1(TextQueries.scala:9)")
      .contains("queries"))
    assert(Trace.layerOf("graft.tables.Tables$.table(Tables.scala:12)").contains("tables"))
    assert(Trace.layerOf("perfbench.Warehouse.cycle(Workloads.scala:300)").contains("bench"))
    assert(Trace.layerOf("java.lang.Thread.run(Thread.java:840)").isEmpty)
  }

  test("helpers defer to the module that called them") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.ops.Relational$.semiJoin(Relational.scala:40)",
      "graft.etl.WriterLease$.withLease(WriterLease.scala:80)",
      "graft.ops.InvertedIndex$.$anonfun$addBatch$1(InvertedIndex.scala:300)",
      "graft.etl.Load$.readTable(Load.scala:173)",
      "perfbench.Warehouse.write(Workloads.scala:250)").mkString("\n")
    assert(Trace.layerOf(site).contains("ops.InvertedIndex"))
  }

  test("the union of job intervals counts overlap once") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Trace.unionLength(Seq((3L, 3L), (10L, 4L))) == 0L)
    assert(Trace.unionLength(Nil) == 0L)
  }

  test("live jobs are charged to the module that launched them") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val dir = Files.createTempDirectory("trace")
      val csv = dir.resolve("sheet.csv")
      Files.write(csv, "TITLE,,\nA,B,C\n1,2,3\n4,5,6\n".getBytes("UTF-8"))
      val tr = new Trace
      spark.sparkContext.addSparkListener(tr)
      val t0 = System.currentTimeMillis()
      // the header row is fetched by a job inside Extract; the count is
      // forced here, by the benchmark's own frame
      val n = tr.span("read", "etl.Pipeline") {
        graft.etl.Extract.readSheet(spark, csv.toString, headerRow = 2).count()
      }
      val rep = tr.report(spark.sparkContext, t0, System.currentTimeMillis())
      spark.sparkContext.removeSparkListener(tr)
      assert(n == 2)
      assert(rep.layers("etl.Extract")("jobs") >= 1)
      assert(rep.layers("bench")("jobs") >= 1)
      assert(rep.attributedShare == 1.0)
      assert(rep.layers.values.map(_("jobs")).sum == rep.jobs)
    } finally spark.stop()
  }
}
