package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session every dev tool runs on: `local[N]` with N shuffle
  * partitions, where N is `SPARK_GRAFT_CPUS` or else the machine's core
  * count; UTC session time zone, no UI, WARN logging.
  */
private[tools] object LocalSpark {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
