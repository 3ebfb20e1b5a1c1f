package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{EtlPaths, Load, Pipeline, Transform}

/** Faithful four-table pipeline over sheet-shaped CSV fixtures
  * (FIXTURES.md §A, SURVEY.md §7.3 M3): golden-output assertions for
  * every reference behavior the flow exercises — positional headers,
  * keep-last dedup, lenient dates, phone country, account map, derived
  * currency, W1/W2 filters, J1/J2 semi-joins (incl. the skip-if-empty
  * quirk), J4/J5 FK quarantine, W3 required-column quarantine, K2
  * upsert.
  */
class EtlPipelineSpec extends SparkSpec {

  private def write(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  private val root = Files.createTempDirectory("graft_etl").toString

  // the checked-in fixture CSVs (FIXTURES.md §A) — shared byte-for-byte
  // with the q45_etl_pipeline oracle, so spec and DuckDB replay agree.
  // The "fecha de pago" header variant exercises the N3 canonical
  // rename; the exact-cased "Banco de México" cell exercises the
  // reference's literal currency match (etl/transform.py:246-249).
  private val FixtureDir = graft.queries.PipelineQueries.FixtureDir

  private def fixtures(): EtlPaths = fixtures(root)

  private def fixtures(root: String): EtlPaths =
    EtlPaths(
      rawCursos = s"$FixtureDir/raw_cursos.csv",
      rawEstudiantes = s"$FixtureDir/raw_estudiantes.csv",
      rawMatriculas = s"$FixtureDir/raw_matriculas.csv",
      rawPagos = s"$FixtureDir/raw_pagos.csv",
      warehouseDir = s"$root/warehouse",
      quarantineDir = s"$root/quarantine")

  private lazy val summary = Pipeline.run(spark, fixtures(), LocalDate.of(2026, 8, 11))

  test("cursos: keep-last dedup, lenient date, teacher-code extract") {
    assert(summary.cursos == 2)
    val rows = spark.read.parquet(s"$root/warehouse/cursos")
      .orderBy("codigo_curso").collect()
    val p101 = rows(0)
    assert(p101.getAs[String]("codigo_curso") == "P101")
    assert(p101.getAs[String]("nombre_curso") == "Diseño Estructural I v2")
    assert(p101.getAs[String]("fecha_inicio") == "2026-03-16")
    assert(p101.getAs[String]("codigo_profesor") == "T07")
    assert(p101.getAs[Int]("numero_modulo") == 3)
    assert(rows(1).getAs[String]("fecha_inicio") == null) // bad-date → null
  }

  test("estudiantes: strip/title/lower + phone-prefix country") {
    val byId = spark.read.parquet(s"$root/warehouse/estudiantes")
      .collect().map(r => r.getAs[String]("codigo_estudiante") -> r).toMap
    assert(byId("E001").getAs[String]("nombres") == "Juan Carlos")
    assert(byId("E001").getAs[String]("correo") == "juan.perez@mail.com")
    assert(byId("E001").getAs[String]("pais") == "Perú")
    assert(byId("E002").getAs[String]("pais") == "México")
    assert(byId("E003").getAs[String]("pais") == "Desconocido")
  }

  test("matriculas: date filter, P-filter, keep-last, FK quarantine") {
    val rows = spark.read.parquet(s"$root/warehouse/matriculas").collect()
    assert(rows.length == 1)
    val m = rows(0)
    assert(m.getAs[String]("codigo_matricula") == "M-001")
    assert(m.getAs[String]("codigo_curso") == "P101")
    assert(m.getAs[Int]("num_cursos") == 2)
    assert(m.getAs[String]("fecha_matricula") == "2026-08-10")
    assert(m.getAs[Double]("valor_matricula") == 360.0) // keep-last wins
    // M-004 referenced missing student E999 → quarantined
    val fkQ = spark.read.option("header", "true")
      .csv(s"$root/quarantine/matriculas_fk").collect()
    assert(fkQ.map(_.getAs[String]("codigo_matricula")).toSeq == Seq("M-004"))
  }

  test("pagos: two branches unioned, currency map, W3+J2 drops") {
    val rows = spark.read.parquet(s"$root/warehouse/pagos").collect()
    assert(rows.length == 4)
    assert(summary.pagos == 4)
    val monedas = rows.map(_.getAs[String]("moneda")).sorted.toSeq
    assert(monedas == Seq("MXN", "PEN", "PEN", "USD"))
    val metodos = rows.map(_.getAs[String]("metodo_pago")).toSet
    assert(metodos == Set("Yape", "Banco de México", "Paypal"))
    assert(math.abs(rows.map(_.getAs[Double]("monto_pago")).sum - 555.25) < 1e-9)
    // R4 (null fecha_pago) quarantined by W3
    val nullQ = spark.read.option("header", "true")
      .csv(s"$root/quarantine/pagos_nulls").collect()
    assert(nullQ.length == 1 && nullQ(0).getAs[String]("monto_pago") == "60.0")
    // R3 (orphan M-009) was dropped by the J2 semi-join, never reaching
    // the FK quarantine
    assert(rows.forall(_.getAs[String]("codigo_matricula") == "M-001"))
  }

  test("two-day incremental runs accumulate without dup-PK conflicts") {
    // the reference's actual operating mode: one run per day against
    // the same warehouse - master data upserts stay idempotent,
    // transactional inserts accumulate day by day
    val r2 = Files.createTempDirectory("graft_etl2").toString
    val paths = fixtures(r2)
    val day1 = Pipeline.run(spark, paths, LocalDate.of(2026, 8, 10))
    assert(day1.matriculas == 1) // M-003 (the 10/8 row)
    assert(day1.pagos == 1)      // its first installment; orphan R5 dropped
    val day2 = Pipeline.run(spark, paths, LocalDate.of(2026, 8, 11))
    assert(day2.cursos == 2 && day2.estudiantes == 3) // upserts: no growth
    assert(day2.matriculas == 1) // M-001, disjoint PK -> insert succeeds
    assert(day2.pagos == 4)
    assert(spark.read.parquet(s"$r2/warehouse/matriculas").count() == 2)
    assert(spark.read.parquet(s"$r2/warehouse/pagos").count() == 5)
    // the transactional tables are day-partitioned on disk, and a
    // day-equality filter must reach the scan as a PARTITION filter
    // (prunes to one directory at 100 TB), not a post-scan predicate
    assert(new java.io.File(s"$r2/warehouse/pagos/day=2026-08-11").isDirectory)
    val oneDay = spark.read.parquet(s"$r2/warehouse/pagos")
      .filter(col("day") === "2026-08-11")
    val scan = oneDay.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no file scan in day-filter plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "day")),
      "day filter did not become a partition filter")
    // partition column agrees with the data column it derives from
    val expected = spark.read.parquet(s"$r2/warehouse/pagos")
      .filter(col("fecha_pago") === "2026-08-11").count()
    assert(expected > 0 && oneDay.count() == expected)
  }

  test("zero valid enrolments: regular pagos skip the J2 semi-join") {
    // the reference's skip-if-empty quirk (etl/pipeline.py:194): a day
    // whose matriculas all fail W2/J4 passes its regular payments on
    // unfiltered — only the J5 FK check against the warehouse applies
    val r = Files.createTempDirectory("graft_etl_nomat").toString
    val mat = Files.readString(Paths.get(s"$FixtureDir/raw_matriculas.csv"))
      .split("\n").toSeq
      .filterNot(_.contains(",M-001,")) // 11/8 keeps only M-002 (non-P), M-004 (orphan)
    write(s"$r/raw_matriculas.csv", mat)
    write(s"$r/raw_pagos.csv", Seq(
      "PAGOS REGULARES,,,,,", ",,,,,", ",,,,,", ",,,,,", ",,,,,",
      "Marca temporal,Código de matrícula,Monto de Pago,Método de Pago,fecha de pago,Encargado de Registro",
      "11/8/2026 09:10:00,M-003,70.00,BCP,11/8/2026,B. Ramos",
      "11/8/2026 10:30:00,M-009,50.00,BANCO DE CHILE,11/8/2026,B. Ramos",
      "10/8/2026 09:00:00,M-001,99.00,BCP,10/8/2026,B. Ramos"))
    val paths = fixtures(r).copy(
      rawMatriculas = s"$r/raw_matriculas.csv", rawPagos = s"$r/raw_pagos.csv")
    val day1 = Pipeline.run(spark, paths, LocalDate.of(2026, 8, 10))
    assert(day1.matriculas == 1 && day1.pagos == 1) // M-003; J2 drops M-001
    val day2 = Pipeline.run(spark, paths, LocalDate.of(2026, 8, 11))
    assert(day2.matriculas == 0)
    // J2 skipped: M-003's payment (enrolled the day before) lands; the
    // orphan M-009 is quarantined by J5 instead of dropped by J2
    assert(day2.pagos == 1)
    val landed = spark.read.parquet(s"$r/warehouse/pagos")
      .filter(col("day") === "2026-08-11").collect()
    assert(landed.map(p => (p.getAs[String]("codigo_matricula"),
      p.getAs[Double]("monto_pago"))).toSeq == Seq(("M-003", 70.0)))
    val fkQ = spark.read.option("header", "true").csv(s"$r/quarantine/pagos_fk")
      .collect().map(_.getAs[String]("codigo_matricula")).toSeq
    assert(fkQ == Seq("M-009"))
  }

  test("an aborted run releases every frame it persisted") {
    // re-running a loaded day trips insert's duplicate-PK guard midway
    // through the run; the frames persisted before it must not leak
    val r = Files.createTempDirectory("graft_etl_abort").toString
    Pipeline.run(spark, fixtures(r), LocalDate.of(2026, 8, 11))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Pipeline.run(spark, fixtures(r), LocalDate.of(2026, 8, 11))
    }
    assert(e.getMessage.contains("duplicate existing PK"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("upsert: the last of two incoming rows beats the existing row on a shared PK") {
    val dir = Files.createTempDirectory("graft_upsert_3way").toString
    Load.upsert(spark, spark.createDataFrame(Seq(("K1", "existing"),
      ("K2", "kept"))).toDF("pk", "v"), s"$dir/t", "pk")
    val batch = spark.createDataFrame(Seq(("K1", "first"), ("K3", "new"),
      ("K1", "second"))).toDF("pk", "v")
    assert(Load.upsert(spark, batch, s"$dir/t", "pk") == 3)
    val got = spark.read.parquet(s"$dir/t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("K1" -> "second", "K2" -> "kept", "K3" -> "new"))
  }

  test("upsert: incoming batch with duplicate PKs is deduped keep-last") {
    // reference load() dedupes the incoming frame before merging
    // (etl/load.py:50-55) — both the bootstrap write and later merges
    // must keep exactly one (the last) row per PK
    val dir = Files.createTempDirectory("graft_upsert_dup").toString
    val dup = spark.createDataFrame(Seq(
      ("K1", "first"), ("K2", "only"), ("K1", "last")))
      .toDF("pk", "v")
    assert(Load.upsert(spark, dup, s"$dir/t", "pk") == 2) // bootstrap dedupes
    val v1 = spark.read.parquet(s"$dir/t").filter(col("pk") === "K1")
      .select("v").collect()(0).getString(0)
    assert(v1 == "last")
    // merge path: incoming dups deduped, then incoming beats existing
    val dup2 = spark.createDataFrame(Seq(("K1", "newer"), ("K1", "newest")))
      .toDF("pk", "v")
    assert(Load.upsert(spark, dup2, s"$dir/t", "pk") == 2)
    val v2 = spark.read.parquet(s"$dir/t").filter(col("pk") === "K1")
      .select("v").collect()(0).getString(0)
    assert(v2 == "newest")
  }

  test("readSheet: short pre-header title row must not truncate columns") {
    // ADVICE r1: column count must come from the HEADER row — a title
    // row without trailing commas would otherwise set the table width
    val p = s"$root/short_title.csv"
    write(p, Seq(
      "TITLE",
      "A,B,C",
      "1,2,3",
      "4,5,6"))
    val df = graft.etl.Extract.readSheet(spark, p, headerRow = 2)
    assert(df.columns.toSeq == Seq("A", "B", "C"))
    assert(df.count() == 2)
    assert(df.select("C").collect().map(_.getString(0)).sorted.toSeq == Seq("3", "6"))
  }

  test("readSheet inferNumeric: int/double/string column typing (F13)") {
    val p = s"$root/infer.csv"
    write(p, Seq(
      "i,d,s,mixed,empty",
      "42,-1.5,x,7,",
      "-7,2.25,y,z,",
      "0,3.0,z,-1,"))
    val df = graft.etl.Extract.readSheet(spark, p, headerRow = 1,
      inferNumeric = true)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("i") == "long")       // all -?\d+
    assert(types("d") == "double")     // all -?\d+.\d+  (3.0 is decimal-shaped)
    assert(types("s") == "string")
    assert(types("mixed") == "string") // "z" poisons the column
    assert(types("empty") == "string") // no non-null values -> unchanged
    assert(df.select(sum(col("i"))).collect()(0).getLong(0) == 35L)
  }

  test("upsert: incoming row replaces existing on PK match") {
    summary // ensure pipeline ran
    val updated = Transform.cursos(
      graft.etl.Extract.readSheet(spark, s"$FixtureDir/raw_cursos.csv", headerRow = 2))
      .withColumn("nombre_curso",
        when(col("codigo_curso") === "P101", lit("RENAMED"))
          .otherwise(col("nombre_curso")))
    val n = Load.upsert(spark, updated, s"$root/warehouse/cursos", "codigo_curso")
    assert(n == 2) // merged, not appended
    val name = spark.read.parquet(s"$root/warehouse/cursos")
      .filter(col("codigo_curso") === "P101")
      .select("nombre_curso").collect()(0).getString(0)
    assert(name == "RENAMED")
  }

  test("W1's ISO-string day filter keeps exactly the rows the date-typed filter keeps") {
    // one cell per lenientTimestamp pattern, the first and last second
    // on both sides of the day, and empty, unparseable and null cells
    // (the ragged last row leaves its timestamp null)
    val p = s"$root/w1_stamps.csv"
    write(p, Seq(
      "id,Marca temporal",
      "1,11/8/2026 00:00:00", "2,11/8/2026 23:59:59",
      "3,10/8/2026 23:59:59", "4,12/8/2026 00:00:00",
      "5,11/08/2026 9:05", "6,10/8/2026 23:59", "7,11/8/2026",
      "8,12/8/2026", "9,2026-08-11 00:00:00", "10,2026-08-11 23:59:59",
      "11,2026-08-10 23:59:59", "12,2026-08-12 00:00:00", "13,2026-08-11",
      "14,2026-08-12", "15,", "16,not a date", "17,31/13/2026 10:00:00",
      "18"))
    val sheet = graft.etl.Extract.readSheet(spark, p, headerRow = 1)
    assert(sheet.filter(col("Marca temporal").isNull).count() == 2)
    val day = LocalDate.of(2026, 8, 11)
    def kept(f: org.apache.spark.sql.Column) =
      sheet.filter(f).select("id").collect().map(_.getString(0).toInt).sorted.toSeq
    val dateTyped = kept(graft.functions.Functions.lenientTimestamp(
      col("Marca temporal")).cast("date") === lit(java.sql.Date.valueOf(day)))
    assert(dateTyped == Seq(1, 2, 5, 7, 9, 10, 13))
    assert(kept(Pipeline.stampedOn(col("Marca temporal"), day)) == dateTyped)
  }

  test("an incremental day runs within its whole-stage-codegen budget") {
    // Spark caches generated classes in an LRU of
    // spark.sql.codegen.cache.maxEntries (100) entries, 4 segments of
    // 25; the classes of a day that overflows a segment are compiled
    // again on every run. Each WholeStageCodegenExec of an action's
    // executed plan (AQE query stages and subqueries included) is one
    // generated class, cached for the driver's and the executor's
    // class loader. A persisted frame's plan is not a child of its
    // scan: its stages run in the first action that reads it, so each
    // cache's plan is counted once, with that action.
    val r = Files.createTempDirectory("graft_etl_budget").toString
    val paths = fixtures(r)
    Pipeline.run(spark, paths, LocalDate.of(2026, 8, 10))
    val perAction = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def stages(plan: SparkPlan): Int = collectWithSubqueries(plan) {
        case _: WholeStageCodegenExec => 1
        case s: InMemoryTableScanExec if caches.add(s.relation.cacheBuilder) =>
          stages(s.relation.cachedPlan)
      }.sum
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        perAction.add(funcName -> stages(qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    BusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, paths, LocalDate.of(2026, 8, 11))
      BusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val stages = perAction.asScala.toSeq
    assert(caches.size == 3, s"persisted frames read: ${caches.size}")
    assert(stages.map(_._2).sum <= 28,
      s"whole-stage-codegen stages per action: ${stages.mkString(", ")}")
  }
}
