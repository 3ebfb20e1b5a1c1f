package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // static config; needed by saveAsTable-based suites (bucketing) —
      // keep managed-table files out of the repo working dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("spark_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Plant the crash state of a generation-tree rewrite commit that
    * died after moving its run `ids` aside and before the commit
    * rename: the generations sit in `<tree>.__tiered_old` under a
    * `_MANIFEST` naming them, and live `batch=<ids.min>` is missing.
    */
  protected def crashMidCommit(tree: String, ids: Seq[Long]): Unit = {
    val fs = new Path(tree)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new Path(s"$tree.__tiered_old")
    fs.mkdirs(aside)
    val out = fs.create(new Path(aside, "_MANIFEST"), true)
    try out.write(ids.mkString(",").getBytes("UTF-8")) finally out.close()
    ids.foreach(id => assert(fs.rename(new Path(s"$tree/batch=$id"),
      new Path(aside, s"batch=$id"))))
  }
}
