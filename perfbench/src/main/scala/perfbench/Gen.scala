package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import graft.etl.{EtlPaths, EtlSummary}

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives byte-identical inputs, and the engine
  * sees only what is generated here.
  */
object Gen {

  /** A stream of random numbers keyed by (seed, salt, index), so one
    * item can be regenerated without replaying its predecessors.
    */
  def rng(seed: Long, salt: Long, i: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(salt * 0x9E3779B97F4A7C15L + i)))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `k` distinct picks from `xs`, in a seeded order. */
  def sample[T](r: SplittableRandom, xs: IndexedSeq[T], k: Int): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    val n = math.min(k, a.length)
    for (i <- 0 until n) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toIndexedSeq.map(_.asInstanceOf[T])
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] =
    sample(r, xs, xs.size)

  // ------------------------------------------------------------------
  // Sheet-shaped CSVs for the daily ETL
  // ------------------------------------------------------------------

  final case class SheetShape(days: Int, students: Int, courses: Int,
                              matriculasPerDay: Int, pagosPerDay: Int)

  /** The reference's sheets hold the whole history: ~10k students,
    * 200 courses, and a month of daily enrolments and payments (half
    * the 60 days of a full term, so a run can measure three days).
    */
  val DailyShape = SheetShape(days = 30, students = 10000, courses = 200,
    matriculasPerDay = 500, pagosPerDay = 1000)

  val FirstDay: LocalDate = LocalDate.of(2026, 1, 5)

  final case class Sheets(paths: Map[String, String],
                          expected: IndexedSeq[EtlSummary]) {
    def etlPaths(warehouse: String, quarantine: String): EtlPaths =
      EtlPaths(paths("cursos"), paths("estudiantes"), paths("matriculas"),
        paths("pagos"), warehouse, quarantine)
  }

  private def dmy(d: LocalDate) =
    s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"

  private val Methods = IndexedSeq("YAPE", "BCP", "PAYPAL", "Efectivo Tienda",
    "banco de la nación", "SCOTIABANK", "Banco de México", "INTERBANK")
  private val Staff = IndexedSeq("A. Torres", "B. Ramos", "C. Soto")

  /** The four sheets as CSV text, plus the per-day [[EtlSummary]] the
    * pipeline must report. Planted anomalies, each with a known fate:
    * duplicate master rows (keep-last, no growth), duplicate enrollment
    * rows (keep-last; both rows still emit a first-installment payment),
    * non-`P` courses (filtered), unknown students (FK quarantine),
    * payments for other days' or unknown enrollments (dropped by the
    * same-day semi-join) and payments with no date (quarantined).
    */
  def sheetText(seed: Long, shape: SheetShape): (Map[String, String], IndexedSeq[EtlSummary]) = {
    val r = rng(seed, 1)
    val cursos = new StringBuilder("REGISTRO DE CURSOS,,,,,,\n")
    cursos ++= "CÓDIGO_C,NOMBRE_C,I1,FECHA DE INICIO,FECHA DE TERMINO,PROFESOR,HORARIOS\n"
    val courseIds = (0 until shape.courses).map(i => f"P$i%03d")
    def courseRow(c: String, v: Int) = {
      val start = FirstDay.minusDays(30 + r.nextInt(60))
      s"$c,Curso $c v$v,${1 + r.nextInt(6)},${dmy(start)},${dmy(start.plusDays(90))}," +
        s"T${r.nextInt(40)} Docente,Lun-Mie ${18 + r.nextInt(4)}:00\n"
    }
    courseIds.foreach(c => cursos ++= courseRow(c, 1))
    sample(r, courseIds, shape.courses / 20).foreach(c => cursos ++= courseRow(c, 2))

    val est = new StringBuilder("REGISTRO DE ESTUDIANTES,,,,,,,\n")
    est ++= "CODIGO_E,NOMBRES_E,APELLIDOS_E,CORREO_E,NUMERO_E,GÉNERO_E," +
      "RED DE CONTACTO_E,GRADO DE INSTRUCCIÓN_E\n"
    val studentIds = (0 until shape.students).map(i => f"E$i%05d")
    val prefixes = IndexedSeq("+51 9", "+52 1", "+57 3", "+56 9", "")
    def studentRow(s: String) = {
      val phone = prefixes(r.nextInt(prefixes.size)) + (10000000 + r.nextInt(89999999))
      s"""$s,"  nombre ${r.nextInt(900)} ",apellido ${r.nextInt(900)}, """ +
        s"""${s.toLowerCase}@Mail.COM ,$phone,${if (r.nextBoolean()) "Femenino" else "Masculino"},""" +
        s"Facebook,Universitario\n"
    }
    studentIds.foreach(s => est ++= studentRow(s))
    sample(r, studentIds, shape.students / 200).foreach(s => est ++= studentRow(s))

    val mat = new StringBuilder("MATRICULAS,,,,,,,,,,,\n,,,,,,,,,,,\n")
    mat ++= "Marca temporal,Código de matrícula,Cursos de matrícula,num cursos," +
      "Fecha de pago de la primera cuota,Condición del alumno," +
      "Código de estudiante FINAL,Monto de Pago,Primera Cuota,Método de Pago," +
      "Moneda,Encargado de Registro\n"
    val pag = new StringBuilder("PAGOS REGULARES,,,,,\n,,,,,\n,,,,,\n,,,,,\n,,,,,\n")
    pag ++= "Marca temporal,Código de matrícula,Monto de Pago,Método de Pago," +
      "Fecha de pago,Encargado de Registro\n"

    var earlier = IndexedSeq.empty[String]
    val expected = (0 until shape.days).map { d =>
      val day = FirstDay.plusDays(d)
      def stamp() = s"${dmy(day)} ${7 + r.nextInt(14)}:${f"${r.nextInt(60)}%02d"}:00"
      // kind: 0 valid, 1 non-P course, 2 unknown student
      val rows = (0 until shape.matriculasPerDay).map { i =>
        val code = f"M-$d%02d-$i%04d"
        val u = r.nextInt(100)
        val kind = if (u < 5) 1 else if (u < 8) 2 else 0
        val course = if (kind == 1) "Taller libre" else
          s"${courseIds(r.nextInt(courseIds.size))} Curso"
        val student = if (kind == 2) f"E9${r.nextInt(9999)}%04d"
          else studentIds(r.nextInt(studentIds.size))
        (code, kind, course, student)
      }
      val dups = sample(r, rows, shape.matriculasPerDay / 50)
      def matRow(x: (String, Int, String, String)) = {
        val (code, _, course, student) = x
        s"${stamp()},$code,$course,${1 + r.nextInt(3)},${dmy(day)},Regular," +
          s"$student,${100 + r.nextInt(400)}.50,${50 + r.nextInt(100)}.00," +
          s"${Methods(r.nextInt(Methods.size))},PEN,${Staff(r.nextInt(Staff.size))}\n"
      }
      (rows ++ dups).foreach(x => mat ++= matRow(x))
      val valid = rows.filter(_._2 == 0).map(_._1)
      val validSet = valid.toSet
      val invalid = rows.filter(_._2 != 0).map(_._1)
      val rowsPerCode = (rows ++ dups).groupBy(_._1).map { case (k, v) => k -> v.size }
      val pagos1 = valid.map(rowsPerCode).sum

      var pagos2 = 0
      for (_ <- 0 until shape.pagosPerDay) {
        val u = r.nextInt(100)
        val code =
          if (u < 65 || (u < 80 && earlier.isEmpty)) valid(r.nextInt(valid.size))
          else if (u < 80) earlier(r.nextInt(earlier.size))
          else if (u < 90) invalid(r.nextInt(invalid.size))
          else f"M-XX-${r.nextInt(9999)}%04d"
        val dated = r.nextInt(100) >= 5
        if (dated && validSet(code)) pagos2 += 1
        pag ++= s"${stamp()},$code,${10 + r.nextInt(300)}.25," +
          s"${Methods(r.nextInt(Methods.size))},${if (dated) dmy(day) else ""}," +
          s"${Staff(r.nextInt(Staff.size))}\n"
      }
      earlier = earlier ++ valid
      EtlSummary(shape.courses.toLong, shape.students.toLong,
        valid.size.toLong, (pagos1 + pagos2).toLong)
    }
    (Map("cursos" -> cursos.toString, "estudiantes" -> est.toString,
      "matriculas" -> mat.toString, "pagos" -> pag.toString), expected)
  }

  def writeSheets(dir: Path, seed: Long, shape: SheetShape): Sheets = {
    Files.createDirectories(dir)
    val (text, expected) = sheetText(seed, shape)
    val paths = text.map { case (k, v) =>
      val p = dir.resolve(s"raw_$k.csv")
      Files.write(p, v.getBytes(UTF_8))
      k -> p.toString
    }
    Sheets(paths, expected)
  }

  // ------------------------------------------------------------------
  // Documents and vectors for the warehouses
  // ------------------------------------------------------------------

  /** The 30 words of the sf0.1 `documents` text, each about equally
    * frequent there (3.3% of tokens); the catalog's fixed BM25 terms
    * (spark, query, merge) are among them.
    */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** Rows of the sf0.1 `documents` table; a near-duplicate copies one of
    * these ids.
    */
  val SfDocs = 5000

  val Langs = IndexedSeq("en", "zh", "es", "fr", "de")

  /** Uniform words, 10 to 100 of them, as in sf0.1. */
  private def words(seed: Long, id: Long): String = {
    val r = rng(seed, 5, id)
    Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
  }

  /** Document `id`: (doc_id, text, lang, source), shaped like sf0.1: one
    * document in twenty is a near-duplicate (another document's text
    * plus " dup"), 41% are `en` and the rest split evenly over four
    * other languages, and the source cycles over twenty names.
    */
  def doc(seed: Long, id: Long): (Long, String, String, String) = {
    val r = rng(seed, 2, id)
    val text = if (r.nextInt(20) == 0) words(seed, r.nextInt(SfDocs)) + " dup"
      else words(seed, id)
    val lang = if (r.nextInt(100) < 41) Langs(0) else Langs(1 + r.nextInt(4))
    (id, text, lang, s"src${id % 20}")
  }

  def docs(seed: Long, ids: Seq[Long]): Seq[(Long, String, String, String)] =
    ids.map(doc(seed, _))

  val Dim = 64

  /** Vector `id`: (vec_id, embedding, label). As in sf0.1: a unit-norm
    * Gaussian direction in 64 dimensions (no cluster structure) and a
    * label uniform over ten values.
    */
  def vec(seed: Long, id: Long): (Long, Array[Float], Int) = {
    val r = rng(seed, 4, id)
    val g = Array.fill(Dim)(r.nextGaussian())
    val n = math.sqrt(g.map(x => x * x).sum)
    (id, g.map(x => (x / n).toFloat), r.nextInt(10))
  }

  /** A query of two distinct vocabulary words. */
  def queryTerms(r: SplittableRandom): Seq[String] = sample(r, Vocab, 2)
}
