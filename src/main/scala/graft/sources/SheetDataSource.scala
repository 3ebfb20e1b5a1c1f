package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft.sheet")` — positional-header sheet CSV as
  * a first-class DataSourceV2 (the reference's sheet ingestion,
  * etl/extract.py:172-279, as a *source* rather than a library call):
  *
  *   spark.read.format("graft.sheet")
  *     .option("headerRow", 3)            // 1-based; default 1
  *     .option("inferNumeric", true)      // F13 typing; default false
  *     .load("/path/export.csv")
  *
  * `Extract.readSheet` is this source. Schema sized and named from
  * the HEADER row (trim, empty → col_{i}, duplicates suffixed), empty
  * cells read as null whether quoted or not (matching Spark CSV's
  * nullValue="" default — pinned by SheetSourceSpec's quoted-empty
  * test), ragged rows null-padded, fully empty rows dropped.
  *
  * Scale design: one InputPartition per sheet — sheets are small,
  * human-edited inputs by contract (the positional header only exists
  * in file order), so a split would be wrong, not just unnecessary;
  * big data enters via parquet. Column pruning IS pushed down
  * (`SupportsPushDownRequiredColumns`): `select(two cols)` parses but
  * never materializes the other cells. The session's Hadoop
  * configuration (spark.hadoop.*) is snapshotted at planning and
  * shipped to readers so non-local filesystems resolve correctly.
  */
class SheetDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft.sheet"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SheetDataSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new SheetTable(schema, new CaseInsensitiveStringMap(properties))
}

object SheetDataSource {

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft.sheet needs a single .load(path) — sheets are one file")
    p
  }

  private[sources] def headerRowOf(options: CaseInsensitiveStringMap): Int = {
    val h = options.getInt("headerRow", 1)
    require(h >= 1, s"headerRow is 1-based, got $h")
    h
  }

  /** The session's Hadoop conf when available (driver side), else
    * classpath defaults.
    */
  private[sources] def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Snapshot for shipping to executors (Configuration itself is not
    * serializable).
    */
  private[sources] def confSnapshot(): Map[String, String] =
    hadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap

  private[sources] def confFrom(snapshot: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    snapshot.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Driver-side: read the header line for names/width; with
    * `inferNumeric` (F13, reference etl/extract.py:82-93) also scan the
    * data rows — sheets are small by contract — and type columns by
    * `SheetCsv.inferredType`.
    */
  private[sources] def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val path = new Path(pathOf(options))
    val headerRow = headerRowOf(options)
    val infer = options.getBoolean("inferNumeric", false)
    val fs = path.getFileSystem(hadoopConf())
    val in = new BufferedReader(
      new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    try {
      var line: String = null
      var i = 0
      while (i < headerRow) {
        line = in.readLine()
        require(line != null,
          s"$path has fewer than $headerRow rows — no header row")
        i += 1
      }
      val names = SheetCsv.uniqueNames(SheetCsv.splitLine(line))
      val types: Seq[DataType] =
        if (!infer) names.map(_ => StringType)
        else {
          val n = names.length
          val intRe = SheetCsv.IntRe.r
          val decRe = SheetCsv.DecRe.r
          val nn = new Array[Long](n)
          val ni = new Array[Long](n)
          val nd = new Array[Long](n)
          var data = in.readLine()
          while (data != null) {
            val cells = SheetCsv.splitLine(data)
            var c = 0
            while (c < n) {
              if (c < cells.length && cells(c).nonEmpty) {
                nn(c) += 1
                if (intRe.matches(cells(c))) ni(c) += 1
                else if (decRe.matches(cells(c))) nd(c) += 1
              }
              c += 1
            }
            data = in.readLine()
          }
          (0 until n).map(c => SheetCsv.inferredType(nn(c), ni(c), nd(c)))
        }
      StructType(names.zip(types).map { case (nm, t) =>
        StructField(nm, t, nullable = true) })
    } finally in.close()
  }
}

private class SheetTable(tableSchema: StructType,
                         options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  // a user-supplied .schema(...) may carry types the cell parser does
  // not produce — fail at planning, not with corrupt rows
  tableSchema.fields.foreach { f =>
    require(f.dataType == StringType || f.dataType == LongType ||
      f.dataType == DoubleType,
      s"graft.sheet supports string/bigint/double columns, " +
        s"got ${f.name}: ${f.dataType.simpleString}")
  }
  override def name(): String = s"sheet(${SheetDataSource.pathOf(options)})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    new SheetScanBuilder(tableSchema, options)
}

private class SheetScanBuilder(fullSchema: StructType,
                               options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve file column order; requiredSchema may reorder
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new SheetScan(fullSchema, required,
    SheetDataSource.pathOf(options), SheetDataSource.headerRowOf(options))
}

private class SheetScan(fullSchema: StructType, required: StructType,
                        path: String, headerRow: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft.sheet $path headerRow=$headerRow cols=${required.size}/${fullSchema.size}"

  override def planInputPartitions(): Array[InputPartition] =
    Array(SheetPartition(path, headerRow,
      // indices into the file row for each required column
      required.fieldNames.map(n => fullSchema.fieldIndex(n)),
      required.fields.map(_.dataType),
      fullSchema.size,
      SheetDataSource.confSnapshot()))

  override def createReaderFactory(): PartitionReaderFactory =
    new SheetReaderFactory
}

private case class SheetPartition(path: String, headerRow: Int,
                                  keep: Array[Int], types: Array[DataType],
                                  width: Int, conf: Map[String, String])
    extends InputPartition

private class SheetReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new SheetReader(partition.asInstanceOf[SheetPartition])
}

private class SheetReader(p: SheetPartition)
    extends PartitionReader[InternalRow] {
  private val fsPath = new Path(p.path)
  private val in = new BufferedReader(new InputStreamReader(
    fsPath.getFileSystem(SheetDataSource.confFrom(p.conf)).open(fsPath),
    StandardCharsets.UTF_8))
  // consume pre-header + header lines; close the stream if the file is
  // shorter than promised (a throwing constructor never sees close())
  try {
    (0 until p.headerRow).foreach { _ =>
      if (in.readLine() == null)
        throw new IllegalArgumentException(
          s"${p.path} has fewer than ${p.headerRow} rows — no header row")
    }
  } catch { case e: Throwable => in.close(); throw e }

  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = in.readLine()
    while (line != null) {
      val cells = SheetCsv.splitLine(line)
      // empty cell (quoted or not) → null, matching Spark CSV's
      // nullValue="" default (F14); rows narrower than the header are
      // null-padded, wider truncated
      def rawAt(i: Int): String =
        if (i >= cells.length || cells(i).isEmpty) null else cells(i)
      // W4: fully empty row (every cell of the FULL row null) dropped
      if ((0 until p.width).exists(rawAt(_) != null)) {
        current = InternalRow.fromSeq(p.keep.indices.map { j =>
          val raw = rawAt(p.keep(j))
          if (raw == null) null
          else p.types(j) match {
            // cast semantics (Extract parity): unparseable → null, so
            // e.g. a LONG-inferred column with an out-of-range value
            // nulls that cell instead of failing the task
            case LongType =>
              try java.lang.Long.valueOf(raw.trim.toLong)
              catch { case _: NumberFormatException => null }
            case DoubleType =>
              try java.lang.Double.valueOf(raw.trim.toDouble)
              catch { case _: NumberFormatException => null }
            case _ => UTF8String.fromString(raw)
          }
        })
        return true
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
