package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graft.sheet DataSourceV2 (which `Extract.readSheet` reads
  * through): pinned reads of the checked-in sheet fixtures, line-ending
  * and pre-header variants, header naming, and column-pruning
  * pushdown. The q45/q66 DuckDB oracles are the independent reference.
  */
class SheetSourceSpec extends SparkSpec {

  private val fixtures = graft.queries.PipelineQueries.FixtureDir
  private val headerRows = Seq(
    ("raw_cursos.csv", 2), ("raw_estudiantes.csv", 2),
    ("raw_matriculas.csv", 3), ("raw_pagos.csv", 6))

  private val CursosCols = Seq("CÓDIGO_C", "NOMBRE_C", "I1",
    "FECHA DE INICIO", "FECHA DE TERMINO", "PROFESOR", "HORARIOS")
  private val EstudiantesCols = Seq("CODIGO_E", "NOMBRES_E", "APELLIDOS_E",
    "CORREO_E", "NUMERO_E", "GÉNERO_E", "RED DE CONTACTO_E",
    "GRADO DE INSTRUCCIÓN_E")
  private val MatriculasCols = Seq("Marca temporal", "Código de matrícula",
    "Cursos de matrícula", "num cursos", "Fecha de pago de la primera cuota",
    "Condición del alumno", "Código de estudiante FINAL", "Monto de Pago",
    "Primera Cuota", "Método de Pago", "Moneda", "Encargado de Registro")
  private val PagosCols = Seq("Marca temporal", "Código de matrícula",
    "Monto de Pago", "Método de Pago", "fecha de pago",
    "Encargado de Registro")

  /** Expected read of a fixture: column names, the columns
    * `inferNumeric` types (all others string), row count, and the
    * order-free checksum `sum(xxhash64(row))`. Recorded from the
    * text-scan reader that preceded this source; CRLF and
    * blank-line-prefixed copies of each fixture recorded the same.
    */
  private case class Pinned(cols: Seq[String], typed: Map[String, String],
                            rows: Long, checksum: BigDecimal)

  private val pins: Map[(String, Boolean), Pinned] = Map(
    ("raw_cursos.csv", false) ->
      Pinned(CursosCols, Map.empty, 3, BigDecimal("4416256487597943366")),
    ("raw_cursos.csv", true) ->
      Pinned(CursosCols, Map("I1" -> "bigint"), 3,
        BigDecimal("-10614285838229838096")),
    ("raw_estudiantes.csv", false) ->
      Pinned(EstudiantesCols, Map.empty, 3,
        BigDecimal("-11686115995900208852")),
    ("raw_estudiantes.csv", true) ->
      Pinned(EstudiantesCols, Map.empty, 3,
        BigDecimal("-11686115995900208852")),
    ("raw_matriculas.csv", false) ->
      Pinned(MatriculasCols, Map.empty, 5, BigDecimal("5451464863840061354")),
    ("raw_matriculas.csv", true) ->
      Pinned(MatriculasCols,
        Map("num cursos" -> "bigint", "Primera Cuota" -> "double"), 5,
        BigDecimal("4945429875022768061")),
    ("raw_pagos.csv", false) ->
      Pinned(PagosCols, Map.empty, 5, BigDecimal("-5554425835094702021")),
    ("raw_pagos.csv", true) ->
      Pinned(PagosCols, Map("Monto de Pago" -> "double"), 5,
        BigDecimal("13439250806321711309")))

  private def sheet(path: String, headerRow: Int, infer: Boolean): DataFrame =
    spark.read.format("graft.sheet").option("headerRow", headerRow)
      .option("inferNumeric", infer).load(path)

  private def assertPinned(df: DataFrame, pin: Pinned, what: String): Unit = {
    val schema = df.schema.fields.map(f => f.name -> f.dataType.simpleString)
    assert(schema.toSeq ==
      pin.cols.map(c => c -> pin.typed.getOrElse(c, "string")), s"$what schema")
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).collect()(0)
    assert(r.getLong(0) == pin.rows, s"$what row count")
    assert(BigDecimal(r.getDecimal(1)) == pin.checksum, s"$what checksum")
  }

  /** Every fixture × inferNumeric, with the file's text rewritten by
    * `variant` (and the header row moved by `shift`).
    */
  private def checkFixtures(infer: Boolean, tag: String, shift: Int)
                           (variant: String => String): Unit = {
    val dir = Files.createTempDirectory(s"sheet_$tag")
    headerRows.foreach { case (f, h) =>
      val text = Files.readString(Paths.get(s"$fixtures/$f"))
      val p = dir.resolve(f)
      Files.writeString(p, variant(text))
      assertPinned(sheet(p.toString, h + shift, infer), pins((f, infer)),
        s"$tag $f inferNumeric=$infer")
    }
  }

  test("every fixture reads to its pinned schema, row count and checksum") {
    headerRows.foreach { case (f, h) =>
      assertPinned(sheet(s"$fixtures/$f", h, infer = false),
        pins((f, false)), f)
      // Extract.readSheet is the same source behind a call
      assertPinned(graft.etl.Extract.readSheet(spark, s"$fixtures/$f", h),
        pins((f, false)), s"readSheet $f")
    }
  }

  test("inferNumeric fixtures read to their pinned schema, row count and checksum") {
    headerRows.foreach { case (f, h) =>
      assertPinned(sheet(s"$fixtures/$f", h, infer = true),
        pins((f, true)), f)
    }
  }

  test("CRLF line endings read exactly like LF") {
    for (infer <- Seq(false, true))
      checkFixtures(infer, "crlf", shift = 0)(_.replace("\n", "\r\n"))
  }

  test("a blank line before the header moves only the header row") {
    for (infer <- Seq(false, true))
      checkFixtures(infer, "blank", shift = 1)("\n" + _)
  }

  test("header row sizes the schema even after a short title row") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src")
    val p = dir.resolve("short_title.csv")
    java.nio.file.Files.writeString(p,
      "TITLE\na,b,c\n1,2,3\n,,\n4,,6\n")
    val df = spark.read.format("graft.sheet")
      .option("headerRow", 2).load(p.toString)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    // the ,,  row is fully empty -> dropped; empty cell -> null
    assert(df.count() == 2)
    assert(df.filter(col("b").isNull).count() == 1)
  }

  test("column pruning reaches the scan") {
    val p = s"$fixtures/raw_matriculas.csv"
    val df = spark.read.format("graft.sheet")
      .option("headerRow", 3).load(p)
      .select(col("Código de matrícula"))
    val scan = df.queryExecution.executedPlan.toString
    // SheetScan.description advertises kept/total column counts
    assert(scan.contains("cols=1/12"), s"expected pruned scan in:\n$scan")
    assert(df.count() > 0)
  }

  test("usable from SQL DDL (CREATE TEMP VIEW ... USING graft.sheet)") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sheet_cursos
      USING `graft.sheet`
      OPTIONS (path '$fixtures/raw_cursos.csv', headerRow '2')""")
    val out = spark.sql(
      "SELECT `CÓDIGO_C` FROM sheet_cursos ORDER BY `CÓDIGO_C`")
    assert(out.collect().map(_.getString(0)).toSeq ==
      Seq("P101", "P101", "P102"))
  }

  test("quoted empty cells match the Spark CSV reader's semantics") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src3")
    val p = dir.resolve("quoted.csv")
    // row 1: quoted empties (present empty strings); row 2: unquoted
    // empties (missing); row 3: mixed
    java.nio.file.Files.writeString(p,
      "a,b\n\"\",\"\"\n,\ny,\"\"\n")
    val viaSource = spark.read.format("graft.sheet").load(p.toString)
    // Spark's CSV reader nulls quoted and unquoted empties alike; the
    // sheet contract then drops the fully empty rows (W4)
    val viaCsv = spark.read.option("header", "true").csv(p.toString)
      .na.drop("all")
    assert(viaSource.schema == viaCsv.schema)
    val expected = Seq(org.apache.spark.sql.Row("y", null))
    assert(viaSource.collect().toSeq == expected)
    assert(viaCsv.collect().toSeq == expected)
  }

  test("inferNumeric LONG overflow falls back to null like a cast") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src4")
    val p = dir.resolve("big.csv")
    java.nio.file.Files.writeString(p,
      "id\n42\n99999999999999999999\n")
    val df = spark.read.format("graft.sheet")
      .option("inferNumeric", true).load(p.toString)
    assert(df.schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet ==
      Set(Some(42L), None))
  }

  test("duplicate and empty headers are renamed like readSheet") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src2")
    val p = dir.resolve("dups.csv")
    java.nio.file.Files.writeString(p, "x, x ,,y\n1,2,3,4\n")
    val df = spark.read.format("graft.sheet").load(p.toString)
    assert(df.columns.toSeq == Seq("x", "x_1", "col_2", "y"))
  }

  test("a generated dedup suffix never collides with a later header") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src3")
    val p = dir.resolve("collide.csv")
    // ['a','a','a_1']: suffixing the second 'a' to 'a_1' would duplicate
    // the literal third header — must probe past it to 'a_2'
    java.nio.file.Files.writeString(p, "a,a,a_1\n1,2,3\n")
    val df = spark.read.format("graft.sheet").load(p.toString)
    assert(df.columns.toSeq == Seq("a", "a_2", "a_1"))
    assert(df.columns.distinct.length == 3)
  }

  test("blank pre-header lines do not shift data rows (both paths)") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_src4")
    val p = dir.resolve("blank_filler.csv")
    // line 2 is TRULY empty (not ',,'): Spark's CSV reader drops such
    // lines, which previously desynchronized readSheet's text-scan
    // header index from its CSV-parsed data rows — losing data row 1
    java.nio.file.Files.writeString(p, "TITLE\n\na,b\n1,x\n2,y\n")
    val viaExtract = graft.etl.Extract.readSheet(spark, p.toString, headerRow = 3)
    val viaSource = spark.read.format("graft.sheet")
      .option("headerRow", 3).load(p.toString)
    for (df <- Seq(viaExtract, viaSource)) {
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.orderBy("a").collect().map(_.getString(0)).toSeq ==
        Seq("1", "2"), s"lost or shifted data rows:\n${df.collect().toSeq}")
    }
  }
}
