package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Focused micro-bench: the custom as-of merge exec vs the
  * union+window encoding on synthetic data (default 10M x 1M), two
  * timed passes each (second pass = warm JVM/page cache — compare
  * those).
  *
  * Usage: sbt "runMain graft.tools.AsofBench [leftRows]"
  */
object AsofBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val spark = LocalSpark.session()

    val left = spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 777667L)
        .as("ts"),
      pmod(hash(col("id") * 31L), lit(100000)).cast(LongType).as("user_id"))
    val right = spark.range(rows / 10).select(
      pmod(hash(col("id") * 17L), lit(100000)).cast(LongType).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 7776670L)
        .as("rt"),
      col("id").as("order_id"))

    def custom() = graft.plans.AsofJoin.asof(left, right,
      Seq("user_id"), Seq("user_id"), "ts", "rt",
      rightTieBreak = Seq("order_id"))

    // shared with q38 and Stress — one encoding, no drift between the
    // benchmarked baseline and the catalog query's semantics
    def encoded() = graft.plans.AsofJoin.asofUnionWindow(
      left, "user_id", "ts", "event_id", right, "user_id", "rt", "order_id")

    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"[asofbench] $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }

    (1 to 2).foreach { pass =>
      time(s"custom exec (pass $pass)")(custom())
      time(s"union+window (pass $pass)")(encoded())
    }
    spark.stop()
  }
}
