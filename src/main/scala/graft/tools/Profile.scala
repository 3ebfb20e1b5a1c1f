package graft.tools

/** Dev utility: time a named catalog query and print its formatted
  * physical plan. Usage:
  *   sbt "runMain graft.tools.Profile <queryName> [sfDir]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSpark.session()
    val fn = graft.SparkEntry.queries(name)
    // lifecycle queries (q111/q114/q136…) do their warehouse work while
    // the frame is BUILT — time construction separately from execution
    val tc = System.nanoTime()
    val df = fn(spark, sfDir)
    val buildS = (System.nanoTime() - tc) / 1e9
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"[profile] $name rows=$n build=$buildS%.2f s " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
