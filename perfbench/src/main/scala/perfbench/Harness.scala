package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one workload run shares: the session, its seed, a private work
  * root, the optional trace, and the op log every workload appends to.
  */
final class Harness(val spark: SparkSession, val seed: Long, val work: Path) {

  /** Installed only for the traced half of a traced run. */
  @volatile var trace: Option[Trace] = None

  /** Per-op latencies in seconds, by op name, of the current phase. */
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Names of the ops that only read; every other op writes. */
  val readOps = mutable.Set.empty[String]
  var attempted = 0L
  var failed = 0L
  var correct = true

  /** Runs one operation of the workload: timed under `name`, counted,
    * and (when tracing) recorded as a span named `group` whose
    * unattributed jobs go to `layer`. A thrown operation counts as
    * failed and is rethrown, ending the run.
    */
  def op[T](name: String, layer: String, group: String = null)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = trace match {
        case Some(t) => t.span(Option(group).getOrElse(name), layer)(body)
        case None => body
      }
      ops.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      out
    } catch {
      case e: Throwable =>
        failed += 1
        throw e
    }
  }

  /** An [[op]] that only reads warehouse state. */
  def read[T](name: String, layer: String, group: String = null)(body: => T): T = {
    readOps += name
    op(name, layer, group)(body)
  }

  /** The typical latency of the reads (or the writes), in ms: the
    * geometric mean over op names of each name's median. Every op name
    * weighs the same however often it runs, so the figure does not jump
    * between op kinds the way a median over a mixed sample does.
    */
  def typicalMs(reads: Boolean): Double =
    Stats.geomean(ops.collect { case (k, v) if readOps(k) == reads =>
      Stats.median(v.toSeq) }.toSeq) * 1e3

  /** Records a failed output check; the run continues so every check
    * gets reported, and the result line reads `"correct": false`.
    */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      correct = false
      System.err.println(s"[perfbench] check failed: $what")
    }

  def dir(parts: String*): String =
    parts.foldLeft(work)(_ resolve _).toString

  /** Rows of `df` as sorted strings: an order-free value to compare. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(rowString).sorted

  private def rowString(r: Row): String = r.toSeq.map {
    case d: Double => java.lang.Double.toString(d)
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")
}

object Harness {

  /** (files, bytes) of the regular files under `p`. */
  def diskUsage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var files = 0L
        var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          files += 1; bytes += Files.size(f)
        }
        (files, bytes)
      } finally s.close()
    }
}
