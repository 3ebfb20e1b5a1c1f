package graft.etl

import scala.collection.immutable.ArraySeq

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side parquet I/O for META/MODEL-sized tables (a 1-row meta
  * commit point, a |sources|-row state table, a vocab-capped weight
  * table, a k-row centroid model). Reading such a table through
  * `spark.read.parquet(dir)` pays a footer-based schema inference plus
  * a whole Spark job for a `.head()`/`.collect()` that moves a few
  * hundred bytes, and writing one through a staged `df.write` pays a
  * job plus a second schema-inference + count job — the lifecycle
  * gates replay several verbs per bench pass, each doing several such
  * reads, so this fixed per-action cost dominated their wall time
  * (guide §1.2: remove the work; the r14 profile measured ~half of
  * lifecycle wall between jobs). Here both directions run entirely on
  * the driver through parquet-hadoop: no job, no scheduler round-trip,
  * no plan. The written files are standard parquet (snappy, Spark's
  * physical types), byte-compatible with every existing consumer —
  * Spark scans, the DuckDB oracle's read_parquet globs, and this
  * reader itself.
  *
  * Scope guard: only the flat scalar/array-of-scalar column shapes the
  * warehouse meta/model tables actually use are handled; anything else
  * (timestamps, decimals, structs, multi-schema trees) returns None
  * from the converters and the caller (Load.readSmall/readHead) falls
  * back to the Spark reader, so unsupported layouts lose only the
  * fast path, never correctness.
  */
private[graft] object LocalParquet {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files under `dir`, recursing through partition dirs;
    * underscore/dot names (markers, checksums, _SUCCESS) skipped —
    * the same visibility rule Spark's file index applies.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (st.getLen > 0) out += st
      }
    }
    walk(dir)
    out.result().sortBy(_.getPath.toString)
  }

  /** Like [[dataFiles]], but None when the tree is Hive-partitioned
    * (any `col=value` subdirectory): the footer schema then lacks the
    * partition columns Spark's reader derives from directory names, so
    * a flat read would silently drop columns — such trees always go to
    * the Spark reader.
    */
  private def flatDataFiles(fs: FileSystem,
                            dir: Path): Option[Seq[FileStatus]] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(p: Path): Boolean = fs.listStatus(p).forall { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) true
      else if (st.isDirectory) {
        if (n.contains("=")) false else walk(st.getPath)
      } else { if (st.getLen > 0) out += st; true }
    }
    if (walk(dir)) Some(out.result().sortBy(_.getPath.toString)) else None
  }

  /** Exact row count of the parquet table at `dir` from file footers
    * alone — what `spark.read.parquet(dir).count()` computes, without
    * the schema-inference pass or the Spark job. Works for any column
    * types (footers only).
    */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0L
    else dataFiles(fs, p).map { st =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }.sum
  }

  // ---- schema subset ---------------------------------------------------

  /** Spark type of a parquet field within the supported subset, or
    * None (→ Spark fallback). Annotated types that Spark maps to
    * anything richer than the plain primitive (timestamps, dates,
    * decimals, small ints) are deliberately unsupported.
    */
  private def toSparkType(t: Type): Option[DataType] = t match {
    case pt: PrimitiveType =>
      val ann = pt.getLogicalTypeAnnotation
      pt.getPrimitiveTypeName match {
        case INT64 if ann == null => Some(LongType)
        case INT32 if ann == null => Some(IntegerType)
        case DOUBLE if ann == null => Some(DoubleType)
        case FLOAT if ann == null => Some(FloatType)
        case BOOLEAN if ann == null => Some(BooleanType)
        case BINARY
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(StringType)
        case INT64 | INT32 => ann match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.isSigned && i.getBitWidth >= 32 =>
            Some(if (pt.getPrimitiveTypeName == INT64) LongType
            else IntegerType)
          case _ => None
        }
        case _ => None
      }
    case gt: GroupType
      if gt.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] &&
        gt.getFieldCount == 1 && gt.getType(0).isRepetition(Type.Repetition.REPEATED) =>
      val rep = gt.getType(0)
      val elem =
        if (rep.isPrimitive) Some(rep) // legacy 2-level list
        else {
          val rg = rep.asGroupType()
          if (rg.getFieldCount == 1) Some(rg.getType(0)) else None
        }
      elem.flatMap(toSparkType).collect {
        case dt @ (LongType | IntegerType | DoubleType | FloatType |
                   BooleanType | StringType) => ArrayType(dt)
      }
    case _ => None
  }

  private def toStructType(mt: MessageType): Option[StructType] = {
    val fields = (0 until mt.getFieldCount).map { i =>
      toSparkType(mt.getType(i)).map(dt =>
        StructField(mt.getFieldName(i), dt, nullable = true))
    }
    if (fields.forall(_.isDefined)) Some(StructType(fields.map(_.get)))
    else None
  }

  // ---- reading ---------------------------------------------------------

  private def primValue(g: Group, i: Int, j: Int, dt: DataType): Any =
    dt match {
      case LongType => g.getLong(i, j)
      case IntegerType => g.getInteger(i, j)
      case DoubleType => g.getDouble(i, j)
      case FloatType => g.getFloat(i, j)
      case BooleanType => g.getBoolean(i, j)
      case StringType => g.getString(i, j)
      case other => sys.error(s"unsupported primitive $other")
    }

  private def fieldValue(g: Group, i: Int, dt: DataType): Any = {
    if (g.getFieldRepetitionCount(i) == 0) null
    else dt match {
      case ArrayType(et, _) =>
        val lg = g.getGroup(i, 0)
        val n = lg.getFieldRepetitionCount(0)
        val isThreeLevel = !lg.getType.getType(0).isPrimitive
        ArraySeq.unsafeWrapArray((0 until n).map { j =>
          if (isThreeLevel) {
            val eg = lg.getGroup(0, j)
            if (eg.getFieldRepetitionCount(0) == 0) null
            else primValue(eg, 0, 0, et)
          } else primValue(lg, 0, j, et)
        }.toArray)
      case prim => primValue(g, i, 0, prim)
    }
  }

  /** Schema + all rows of the flat table at `dir` read on the driver,
    * or None when the layout/types/size fall outside the supported
    * subset (caller falls back to Spark): partitioned trees, non-flat
    * or annotated types, multi-schema dirs, empty dirs (Spark's "unable
    * to infer schema" contract is the caller's), or total data bytes
    * above `maxBytes` — the guard that keeps genuinely large tables off
    * the driver.
    */
  def readAll(spark: SparkSession, dir: String,
              maxBytes: Long): Option[(StructType, Seq[Row])] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    try {
      // Besides the byte cap, cap the FILE count: the driver reader
      // pays two sequential footer opens per file (schema pass + row
      // pass), so a 32-part tiny table — a distributed write that was
      // never coalesced — reads faster through Spark's parallel scan
      // than through 64 driver opens. Model tables written through the
      // single-file fast path stay at 1–2 files.
      val files = flatDataFiles(fs, p) match {
        case Some(fss) if fss.nonEmpty && fss.length <= 4 &&
          fss.map(_.getLen).sum <= maxBytes => fss
        case _ => return None
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val schemas = files.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      // one schema across the tree, or fall back (schema-union reads
      // are the Spark reader's job)
      if (schemas.distinct.size != 1) return None
      toStructType(schemas.head).map { st =>
        val rows = Seq.newBuilder[Row]
        files.foreach { f =>
          val reader = ParquetReader
            .builder[Group](new GroupReadSupport(), f.getPath)
            .withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null) {
              rows += new GenericRowWithSchema(
                st.fields.indices.map(i =>
                  fieldValue(g, i, st.fields(i).dataType)).toArray, st)
              g = reader.read()
            }
          } finally reader.close()
        }
        (st, rows.result())
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- writing ---------------------------------------------------------

  private def toParquetField(f: StructField): Option[Type] = {
    def prim(dt: DataType) = dt match {
      case LongType => Some(Types.optional(INT64))
      case IntegerType => Some(Types.optional(INT32))
      case DoubleType => Some(Types.optional(DOUBLE))
      case FloatType => Some(Types.optional(FLOAT))
      case BooleanType => Some(Types.optional(BOOLEAN))
      case StringType => Some(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()))
      case _ => None
    }
    f.dataType match {
      case ArrayType(et, _) => et match {
        case LongType => Some(Types.optionalList()
          .optionalElement(INT64).named(f.name))
        case IntegerType => Some(Types.optionalList()
          .optionalElement(INT32).named(f.name))
        case DoubleType => Some(Types.optionalList()
          .optionalElement(DOUBLE).named(f.name))
        case FloatType => Some(Types.optionalList()
          .optionalElement(FLOAT).named(f.name))
        case BooleanType => Some(Types.optionalList()
          .optionalElement(BOOLEAN).named(f.name))
        case StringType => Some(Types.optionalList()
          .optionalElement(BINARY).as(LogicalTypeAnnotation.stringType())
          .named(f.name))
        case _ => None
      }
      case dt => prim(dt).map(_.named(f.name))
    }
  }

  /** Whether [[writeFile]] can write this schema (flat
    * scalars/arrays-of-scalars).
    */
  def supportsWrite(schema: StructType): Boolean =
    schema.fields.forall(toParquetField(_).isDefined)

  private def addPrim(g: Group, i: Int, dt: DataType, v: Any): Unit =
    dt match {
      case LongType => g.add(i, v.asInstanceOf[Number].longValue())
      case IntegerType => g.add(i, v.asInstanceOf[Number].intValue())
      case DoubleType => g.add(i, v.asInstanceOf[Number].doubleValue())
      case FloatType => g.add(i, v.asInstanceOf[Number].floatValue())
      case BooleanType => g.add(i, v.asInstanceOf[Boolean])
      case StringType => g.add(i, v.toString)
      case other => sys.error(s"unsupported primitive $other")
    }

  /** Write `rows` as ONE standard parquet file at `file` (snappy,
    * Spark-compatible physical types, standard 3-level lists) —
    * entirely on the driver.
    */
  def writeFile(spark: SparkSession, schema: StructType,
                rows: Seq[Seq[Any]], file: String): Unit = {
    val fields = schema.fields.map(f => toParquetField(f).getOrElse(
      sys.error(s"LocalParquet.writeFile: unsupported type for ${f.name}: " +
        s"${f.dataType}")))
    val mt = new MessageType("spark_schema", fields: _*)
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withConf(conf)
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { r =>
      require(r.length == schema.length,
        s"row arity ${r.length} != schema arity ${schema.length}")
      val g = new SimpleGroup(mt)
      r.zipWithIndex.foreach { case (v, i) =>
        if (v != null) schema.fields(i).dataType match {
          case ArrayType(et, _) =>
            val lg = g.addGroup(i)
            v.asInstanceOf[Iterable[Any]].foreach { e =>
              val eg = lg.addGroup(0)
              if (e != null) addPrim(eg, 0, et, e)
            }
          case dt => addPrim(g, i, dt, v)
        }
      }
      writer.write(g)
    } finally writer.close()
  }
}
