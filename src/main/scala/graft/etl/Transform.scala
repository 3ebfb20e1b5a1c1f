package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functions._
import graft.ops.Relational.dedupKeepLastPositional

/** The reference's five per-table transforms (SURVEY.md §2.3 P1–P5)
  * re-expressed as single wide projections of built-in Column
  * expressions — one whole-stage-codegen'd select each, no UDFs.
  */
object Transform {

  /** `cursos` (P1, etl/transform.py:14-38): 6-column projection. The
    * reference's keep-last dedup by PK runs in [[Load.upsert]]'s one
    * window, as for [[estudiantes]]: a second keep-last pass here would
    * only add a shuffle and a window stage to the day's plans.
    */
  def cursos(df: DataFrame): DataFrame =
    df.select(
      col("CÓDIGO_C").cast(StringType).as("codigo_curso"),
      col("NOMBRE_C").cast(StringType).as("nombre_curso"),
      col("I1").cast(IntegerType).as("numero_modulo"),
      isoDate(lenientTimestamp(col("FECHA DE INICIO"))).as("fecha_inicio"),
      firstToken(col("PROFESOR")).as("codigo_profesor"),
      col("HORARIOS").cast(StringType).as("horarios"))

  /** `estudiantes` (P5, etl/transform.py:283-354): strip/title/lower
    * normalizations + phone-prefix country detection (F10–F12).
    */
  def estudiantes(df: DataFrame): DataFrame =
    // phone digits staged in their own projection so the regexp runs
    // once per row, not once per prefix rule (see phoneInfoFromDigits)
    df.withColumn("__digits", digitsOnly(col("NUMERO_E")))
      .select(
        col("CODIGO_E").cast(StringType).as("codigo_estudiante"),
        initcap(trim(col("NOMBRES_E"))).as("nombres"),
        initcap(trim(col("APELLIDOS_E"))).as("apellidos"),
        lower(trim(col("CORREO_E"))).as("correo"),
        trim(col("NUMERO_E")).as("numero"),
        phoneInfoFromDigits(col("NUMERO_E"), col("__digits"))
          .getField("pais").as("pais"),
        col("GÉNERO_E").cast(StringType).as("genero"),
        col("RED DE CONTACTO_E").cast(StringType).as("red_contacto"),
        col("GRADO DE INSTRUCCIÓN_E").cast(StringType).as("nivel_educacion"))

  /** `matriculas` (P2, etl/transform.py:56-140): conditional course-code
    * extract (F2), conditional zeroing (F3), money coercion (P8),
    * keep-last dedup (A1), then the startswith-"P" filter (W2).
    */
  def matriculas(df: DataFrame): DataFrame = {
    val projected = df.select(
      col("Código de matrícula").cast(StringType).as("codigo_matricula"),
      courseCode(col("Cursos de matrícula")).as("codigo_curso"),
      numCursosFixed(col("Cursos de matrícula"), col("num cursos")).as("num_cursos"),
      isoDate(lenientTimestamp(col("Fecha de pago de la primera cuota")))
        .as("fecha_matricula"),
      col("Condición del alumno").cast(StringType).as("condicion_alumno"),
      col("Código de estudiante FINAL").cast(StringType).as("codigo_estudiante"),
      coerceMoney(col("Monto de Pago")).as("valor_matricula"))
    dedupKeepLastPositional(projected, Seq("codigo_matricula"))
      // W2: null-rejecting startswith, pandas str.startswith(na=False)
      .filter(col("codigo_curso").startsWith("P"))
  }

  /** `pagos` first-installment branch (P3, etl/transform.py:142-201). */
  def pagosPrimeraCuota(df: DataFrame): DataFrame =
    df.select(
      col("Código de matrícula").cast(StringType).as("codigo_matricula"),
      coerceMoney(col("Primera Cuota")).as("monto_pago"),
      accountNormalize(col("Método de Pago"), AccountMapPrimeraCuota)
        .as("metodo_pago"),
      col("Moneda").cast(StringType).as("moneda"),
      col("Encargado de Registro").cast(StringType).as("encargado"),
      isoDate(lenientTimestamp(col("Fecha de pago de la primera cuota")))
        .as("fecha_pago"))

  /** `pagos` regular branch (P4, etl/transform.py:205-280). Currency is
    * derived from the RAW method string, not the normalized one — a
    * reference quirk preserved verbatim (etl/transform.py:261-264).
    */
  def regularPagos(df: DataFrame): DataFrame =
    df.select(
      col("Código de matrícula").cast(StringType).as("codigo_matricula"),
      coerceMoney(col("Monto de Pago")).as("monto_pago"),
      accountNormalize(col("Método de Pago"), AccountMapRegular).as("metodo_pago"),
      currencyForMethod(col("Método de Pago")).as("moneda"),
      col("Encargado de Registro").cast(StringType).as("encargado"),
      isoDate(lenientTimestamp(col("Fecha de pago"))).as("fecha_pago"))

  /** Canonical empty `pagos` schema (etl/pipeline.py:226 fallback). */
  val PagosSchema: StructType = StructType(Seq(
    StructField("codigo_matricula", StringType),
    StructField("monto_pago", DoubleType),
    StructField("metodo_pago", StringType),
    StructField("moneda", StringType),
    StructField("encargado", StringType),
    StructField("fecha_pago", StringType)))
}
