package graft.sources

import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StringType}

/** Line-level CSV helpers of the `graft.sheet` DataSourceV2 (which
  * `graft.etl.Extract.readSheet` reads through). Sheets are
  * line-oriented by the positional-header contract ("the header IS
  * row N"), so records never span lines.
  */
object SheetCsv {

  /** Quote-aware split of one CSV line into cells (RFC 4180
    * double-quote escaping). Empty cells — quoted or not — read as
    * null downstream, matching Spark CSV's nullValue="" default
    * (verified by SheetSourceSpec's quoted-empty parity test: Spark
    * nulls `""` cells too).
    */
  def splitLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') {
            cur += '"'; i += 1
          } else inQuotes = false
        } else cur += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => out += cur.toString; cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** Header cells → column names: trim (N4), empty → col_{i}, and
    * duplicates suffixed `_1`, `_2`, … (N5) — reference
    * etl/extract.py:49-62.
    */
  def uniqueNames(cells: Seq[String]): Seq[String] = {
    val bases = cells.zipWithIndex.map { case (cell, i) =>
      val rawName = cell.trim
      if (rawName.isEmpty) s"col_$i" else rawName
    }
    // a generated suffix may collide with a LATER original header
    // (['a','a','a_1'] must not emit 'a_1' twice) — probe against both
    // the originals and everything already emitted
    val taken = scala.collection.mutable.Set[String](bases: _*)
    val used = scala.collection.mutable.Set[String]()
    bases.map { base =>
      val name =
        if (!used(base)) base
        else {
          var k = 1
          while (used(s"${base}_$k") || taken(s"${base}_$k")) k += 1
          s"${base}_$k"
        }
      used += name
      name
    }
  }

  /** F13 numeric-inference shapes (reference etl/extract.py:82-93)
    * used by the `graft.sheet` source's schema inference.
    */
  val IntRe = "^-?\\d+$"
  val DecRe = "^-?\\d+\\.\\d+$"

  /** Decision rule: all non-null cells int-shaped → LONG; all
    * int-or-decimal-shaped → DOUBLE; anything else stays string.
    */
  def inferredType(nonNull: Long, ints: Long, decs: Long): DataType =
    if (nonNull > 0 && ints == nonNull) LongType
    else if (nonNull > 0 && ints + decs == nonNull) DoubleType
    else StringType
}
