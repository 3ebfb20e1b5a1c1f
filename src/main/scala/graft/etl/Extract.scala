package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType

import graft.functions.Functions.fuzzyLookup
import graft.ops.Relational.ensureColumn

/** Sheet-shaped CSV extraction (SURVEY.md §2.1 S2–S6 + §2.2 N1–N7):
  * positional header rows, hostile-header normalization, ragged rows,
  * empty-cell → null.
  *
  * Scale note: sheet-like inputs are small by nature (human-edited).
  * The `graft.sheet` source reads the header row on the driver at
  * planning time and scans the data rows once, in a single partition;
  * no Spark job runs until a consumer forces the frame. Big data enters
  * the engine via parquet (graft.tables.Tables), not here.
  */
object Extract {

  /** S5/S2–S4: read a CSV whose header is at 1-based row `headerRow`
    * (reference sheets: row 2 / 3 / 6 — etl/extract.py:172-180,
    * 222-230, 271-279) through the `graft.sheet` source: columns sized
    * and named from the header row (N4 trim, N5 unique-ify, empty
    * header → `col_{i}`; etl/extract.py:49-62), ragged rows null-padded,
    * empty cells null, fully empty rows dropped (W4,
    * etl/extract.py:98-100).
    *
    * `inferNumeric` (F13, etl/extract.py:82-93): opt-in per-column type
    * inference — a column whose non-null values all match `-?\d+` is
    * LONG; all matching int-or-decimal → DOUBLE; else stays string.
    */
  def readSheet(spark: SparkSession, path: String, headerRow: Int,
                inferNumeric: Boolean = false): DataFrame =
    spark.read.format("graft.sheet")
      .option("headerRow", headerRow)
      .option("inferNumeric", inferNumeric)
      .load(path)

  /** N2/N3 canonical rename (etl/extract.py:136-155): fuzzy-match the
    * known hostile header variants onto canonical names.
    */
  private val CanonicalColumns: Seq[(String, Seq[String])] = Seq(
    "Fecha de pago" -> Seq("Fecha de pago", "fecha de pago", "fecha_pago",
      "fechadepago", "fechapago"),
    "FECHA_P" -> Seq("FECHA_P", "FECHA P", "fecha_p", "fecha p"),
    "FechaEntrega" -> Seq("FechaEntrega", "fecha entrega", "fecha_entrega",
      "fechaentrega"),
    "Estado" -> Seq("Estado", "estado", "ESTADO"))

  def normalizeColumns(df: DataFrame): DataFrame = {
    val renames = CanonicalColumns.flatMap { case (canonical, candidates) =>
      val hit = candidates.view
        .flatMap(cand => fuzzyLookup(df.columns.toSeq, cand))
        .headOption
      hit.filter(_ != canonical).map(_ -> canonical)
    }.toMap
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)
  }

  /** S4's date-column guarantee (N7, etl/extract.py:291-295): the pagos
    * sheet must expose `Fecha de pago`, synthesized all-null if absent.
    */
  def withFechaDePago(df: DataFrame): DataFrame =
    ensureColumn(normalizeColumns(df), "Fecha de pago", StringType)
}
