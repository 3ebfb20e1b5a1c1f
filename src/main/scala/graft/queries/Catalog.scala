package graft.queries

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.RelationalQueries.Q

/** Aggregated query catalog: the single registry SparkEntry exposes. */
object Catalog {

  /** Root of every catalog fixture warehouse: `target/` under the
    * working directory, made absolute so the DuckDB oracle's
    * read_parquet globs resolve to the same files the query wrote.
    */
  val root: String = new java.io.File("target").getAbsolutePath

  /** Builds a fixture warehouse once per input. `marker` is a one-row
    * parquet whose `sf_dir` column records the `tag` that built the
    * warehouse: the sfDir, with a suffix when the layout changed. `build`
    * runs when the marker is missing or holds another tag, or when it
    * holds `tag` and `stale` reports a damaged warehouse; `stale` is not
    * evaluated otherwise. The marker is written after `build` returns,
    * so a build that throws runs whole again on the next call. Returns
    * whether it built.
    */
  def buildOnce(s: SparkSession, marker: String, tag: String)(
      stale: => Boolean)(build: => Unit): Boolean = {
    val fresh = !Try(s.read.parquet(marker).head().getString(0))
      .toOption.contains(tag) || stale
    if (fresh) {
      build
      import s.implicits._
      Seq(tag).toDF("sf_dir").write.mode("overwrite").parquet(marker)
    }
    fresh
  }

  def allQueries: Seq[Q] =
    RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      EventQueries.all ++ PipelineQueries.all

  /** Session settings every catalog query relies on, applied defensively
    * in case the driver builds the session without them. All are
    * runtime-mutable SQLConf entries.
    */
  def tune(spark: SparkSession): Unit = {
    // pandas-style lenient casts (invalid → null) + oracle-comparable
    // semantics; the library still uses try_* forms where parse can fail.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Partition discovery of the bucketed index trees (64 bucket dirs ×
    // N generations) crosses the default parallel-listing threshold
    // (32 paths), so EVERY spark.read.parquet over a postings/index
    // tree launched a whole Spark listing job for a directory set a
    // local filesystem lists in microseconds — pure per-action
    // overhead on the serve/maintain paths (guide §6: listing cost).
    // Parameterized for deployments on slow object stores, where
    // parallel listing genuinely wins: export SPARK_GRAFT_LIST_PAR to
    // restore a lower threshold there.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      sys.env.getOrElse("SPARK_GRAFT_LIST_PAR", "4096"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { q =>
      q.name -> { (s: SparkSession, d: String) => tune(s); q.run(s, d) }
    }.toMap

  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
