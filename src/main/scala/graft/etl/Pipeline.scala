package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions.lenientTimestamp
import graft.ops.Relational.{dropDuplicateColumns, semiJoin, unionByNameSafe}

/** Inputs for one pipeline run: the four sheet-shaped CSVs, the parquet
  * warehouse root, and the quarantine root.
  */
case class EtlPaths(
    rawCursos: String,
    rawEstudiantes: String,
    rawMatriculas: String,
    rawPagos: String,
    warehouseDir: String,
    quarantineDir: String)

case class EtlSummary(
    cursos: Long, estudiantes: Long, matriculas: Long, pagos: Long)

/** The reference's daily pipeline (etl/pipeline.py:27-249, SURVEY.md
  * §3) as driver-side orchestration of lazy Spark plans: master data
  * (cursos, estudiantes) is upserted, transactional data (matriculas,
  * pagos) is date-filtered to `targetDate`, FK-enforced and inserted,
  * in FK-safe topological order (O1).
  *
  * Deviations from the reference, by design:
  *  - `targetDate` is a parameter, not `today - 1` (determinism; D3);
  *  - the shared raw matriculas scan, the valid matriculas and the
  *    unioned pagos are explicitly persisted for their fan-out (O2),
  *    so each sheet is parsed once per run — pandas got in-memory reuse
  *    for free, Spark must ask for it;
  *  - quarantine CSVs replace the row-at-a-time fallback insert (K4);
  *  - the transactional tables (matriculas, pagos) are day-partitioned
  *    parquet (`day=YYYY-MM-DD/`): the daily incremental contract means
  *    every run appends one day's directories, and the reference's
  *    day-equality reads become partition pruning instead of scans.
  */
object Pipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def run(spark: SparkSession, paths: EtlPaths, targetDate: LocalDate): EtlSummary = {
    val wh = paths.warehouseDir
    val q = paths.quarantineDir

    // ---- entry point 1: master data (SURVEY.md §3.1) ----
    val cursos = Transform.cursos(
      Extract.readSheet(spark, paths.rawCursos, headerRow = 2))
    val nCursos = Load.upsert(spark, cursos, s"$wh/cursos", "codigo_curso")

    val estudiantes = Transform.estudiantes(
      Extract.readSheet(spark, paths.rawEstudiantes, headerRow = 2))
    val nEst = Load.upsert(spark, estudiantes, s"$wh/estudiantes", "codigo_estudiante")

    // every frame persisted below is released on the way out, also when
    // a sink aborts (e.g. insert's duplicate-PK guard)
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def persisted(df: DataFrame): DataFrame = { cached += df; df.persist() }
    try {
      // ---- entry point 2: transactional matriculas (§3.2) ----
      // W1: equality filter on the RAW sheet before any transform (the
      // reference's hand-rolled pushdown; Catalyst would push it anyway)
      val onDate = lenientTimestamp(col("Marca temporal")).cast("date") ===
        lit(java.sql.Date.valueOf(targetDate))
      // D4/O4: per-stage row/null telemetry piggybacked on the existing
      // pass via the Observation API — zero extra jobs, unlike the
      // reference's count()-per-stage logging
      val matObs = new Observation("matriculas_raw")
      // O2 fan-out: feeds matriculas AND first-installment pagos
      val rawMat = persisted(
        Extract.readSheet(spark, paths.rawMatriculas, headerRow = 3)
          .filter(onDate)
          .observe(matObs, count(lit(1)).as("rows_on_date"),
            count(when(lenientTimestamp(col("Fecha de pago de la primera cuota"))
              .isNull, 1)).as("null_fecha_pago")))

      val matriculas = Transform.matriculas(rawMat)
      // J4: FK to estudiantes (vs warehouse state), quarantine orphans.
      // Fan-out wider than rawMat's: insert (dup probe + write) and the
      // pagos1 and pagos2 semi-joins — without the persist the
      // transform+FK join re-executes per consumer
      val matValid = persisted(Load.readTable(spark, s"$wh/estudiantes") match {
        case Some(est) =>
          Load.enforceFk(matriculas, est, "codigo_estudiante", s"$q/matriculas_fk")
        case None => matriculas
      })
      val nMat = Load.insert(spark, matValid, s"$wh/matriculas",
        pk = Some("codigo_matricula"), partitionDay = Some("fecha_matricula"))

      // J1: first-installment payments ⋉ this run's valid enrollments
      val pagos1 = semiJoin(
        Transform.pagosPrimeraCuota(rawMat),
        matValid.select("codigo_matricula"),
        Seq("codigo_matricula"))

      // ---- entry point 3: pagos consolidation (§3.3) ----
      val rawPagos = Extract.withFechaDePago(
        Extract.readSheet(spark, paths.rawPagos, headerRow = 6))
        .filter(onDate)
      val pagos2All = Transform.regularPagos(rawPagos)
      // J2 with the reference's skip-if-empty quirk (etl/pipeline.py:194):
      // when the run produced NO valid enrollments the semi-join is
      // skipped entirely and regular payments pass through unfiltered.
      // nMat is matValid's row count, so the probe costs no job.
      val pagos2 =
        if (nMat == 0) pagos2All
        else semiJoin(pagos2All, matValid.select("codigo_matricula"),
          Seq("codigo_matricula"))

      // A4 + N6: column-dedup then union-by-name of the two branches.
      // Persisted: the W3 quarantine, the J5 quarantine and the insert
      // all read it, and the pagos sheet should be parsed once
      val pagosAll = persisted(unionByNameSafe(
        dropDuplicateColumns(pagos1), dropDuplicateColumns(pagos2)))
      // W3: fecha_pago is required (config `pagos → [fecha_pago]`)
      val pagosClean = Load.requireColumns(pagosAll, Seq("fecha_pago"),
        s"$q/pagos_nulls")
      // J5: FK to matriculas vs warehouse state (post-insert, like the
      // reference's check against the DB after matriculas loaded)
      val pagosValid = Load.readTable(spark, s"$wh/matriculas") match {
        case Some(mat) =>
          Load.enforceFk(pagosClean, mat, "codigo_matricula", s"$q/pagos_fk")
        case None => pagosClean
      }
      val nPagos = Load.insert(spark, pagosValid, s"$wh/pagos",
        partitionDay = Some("fecha_pago"))

      // O4: surface the observed metrics (populated by the actions above)
      matObs.getAsJava.forEach((k, v) => log.info(s"[etl] matriculas_raw $k=$v"))
      EtlSummary(nCursos, nEst, nMat, nPagos)
    } finally cached.foreach(_.unpersist())
  }
}
