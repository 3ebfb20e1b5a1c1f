package graft.queries

import java.nio.file.Files
import java.time.LocalDate

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.etl.{EtlPaths, Pipeline}
import graft.functions.Functions.{AccountMapPrimeraCuota, AccountMapRegular}
import graft.queries.RelationalQueries.{duckInitcap, duckMapCase, Q}

/** The reference's actual four-table pipeline under the DuckDB oracle
  * gate: q45 runs `graft.etl.Pipeline` end-to-end (positional-header
  * extract → five transforms → FK-checked load) over the checked-in CSV
  * fixtures and exposes all four warehouse tables as one tagged frame;
  * the oracle replays the same transforms in SQL over `read_csv` of the
  * same files (reference semantics: etl/pipeline.py:27-249).
  *
  * Everything is cast to string so the union is schema-uniform and the
  * driver's sort/hash compare stays type-simple.
  */
object PipelineQueries {

  /** Checked-in sheet fixtures (FIXTURES.md §A) — also used by
    * EtlPipelineSpec, so spec and oracle exercise identical bytes.
    * Resolved from SPARK_GRAFT_FIXTURE_DIR when set, else relative to
    * the process working directory (sbt runs from the repo root) and
    * made absolute, because the DuckDB oracle SQL embeds the literal
    * path — a hardcoded checkout location would break anywhere else.
    */
  val FixtureDir: String = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
    new java.io.File("src/test/resources/graft/etl").getAbsolutePath)

  /** Temp warehouse root, removed recursively at JVM exit. Bench's
    * three passes invoke q45/q95 once each per pass — without cleanup
    * every bench run leaks six warehouse trees into /tmp. Deletion
    * can't be eager: the returned DataFrame lazily reads the warehouse
    * parquet until the caller materializes it.
    */
  private[graft] def tempRoot(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      // Other shutdown hooks (Spark's executor/task teardown) can still
      // be writing into this tree while we delete it — a walk-then-
      // delete snapshot then hits DirectoryNotEmptyException on a dir
      // that gained a file after the walk, and one failed delete used
      // to abort the whole hook. Re-walk a few times, tolerating
      // individual failures; anything that survives a concurrent
      // writer's last gasp goes on the final best-effort pass. The walk
      // is lazy, so an entry vanishing mid-walk surfaces as an
      // UncheckedIOException, not an IOException: hence NonFatal.
      import scala.jdk.CollectionConverters._
      var attempt = 0
      var done = false
      while (!done && attempt < 3) {
        attempt += 1
        done = try {
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .reverse.foreach { f =>
              try java.nio.file.Files.deleteIfExists(f)
              catch { case NonFatal(_) => }
            }
          !java.nio.file.Files.exists(p)
        } catch { case NonFatal(_) => false }
      }
    }
    p.toString
  }

  private val TargetDay = LocalDate.of(2026, 8, 11)

  /** Lenient day-first parse ladder — DuckDB twin of
    * Functions.lenientTimestamp.
    */
  private def duckLenient(c: String): String =
    s"""try_strptime($c, ['%d/%m/%Y %H:%M:%S','%d/%m/%Y %H:%M',
       '%d/%m/%Y','%Y-%m-%d %H:%M:%S','%Y-%m-%d'])"""

  private def duckIso(c: String): String =
    s"strftime(${duckLenient(c)}, '%Y-%m-%d')"

  /** DuckDB twin of Functions.coerceMoney. */
  private def duckMoney(c: String): String =
    s"round(coalesce(TRY_CAST($c AS DOUBLE), 0.0), 2)"

  /** DuckDB twin of Functions.accountNormalize. */
  private def duckAccount(c: String, m: Map[String, String]): String =
    s"""CASE WHEN $c IS NULL OR $c = '' THEN NULL
       ELSE coalesce(${duckMapCase(s"upper(trim($c))", m, "NULL")},
         ${duckInitcap(c)}) END"""

  /** DuckDB twin of Functions.currencyForMethod (over the RAW string). */
  private def duckCurrency(c: String): String =
    s"""CASE WHEN $c IN ('Banco de México','Banco de Mexico',
         'Banco de México / P','Banco de Ecuador / P') THEN 'MXN'
       WHEN $c IN ('Banco de Ecuador','PAYPAL','Paypal') THEN 'USD'
       WHEN $c = 'Banco de Chile' THEN 'CLP' ELSE 'PEN' END"""

  /** DuckDB twin of Functions.phoneCountry over a digits expr `num`
    * (null raw value handled by the caller's CASE).
    */
  private val duckPhonePais =
    """CASE WHEN starts_with(num,'549') THEN 'Argentina'
       WHEN starts_with(num,'569') THEN 'Chile'
       WHEN starts_with(num,'51') THEN 'Perú'
       WHEN starts_with(num,'57') THEN 'Colombia'
       WHEN starts_with(num,'593') THEN 'Ecuador'
       WHEN starts_with(num,'591') THEN 'Bolivia'
       WHEN starts_with(num,'507') THEN 'Panamá'
       WHEN starts_with(num,'521') OR starts_with(num,'52') THEN 'México'
       WHEN starts_with(num,'55') THEN 'Brasil'
       WHEN length(num) = 11 AND starts_with(num,'1')
         THEN 'Estados Unidos / Puerto Rico'
       WHEN starts_with(num,'39') THEN 'Italia'
       WHEN starts_with(num,'34') THEN 'España'
       WHEN starts_with(num,'33') THEN 'Francia'
       WHEN starts_with(num,'49') THEN 'Alemania'
       ELSE 'Desconocido' END"""

  /** Tag a warehouse table and pad its stringified columns to c1..c9. */
  private def shape(name: String, df: DataFrame): DataFrame = {
    val cs = df.columns.toSeq.map(c => col(c).cast(StringType))
    val padded = cs ++ Seq.fill(9 - cs.size)(lit(null).cast(StringType))
    df.select(lit(name).as("tbl") +:
      padded.zipWithIndex.map { case (c, i) => c.as(s"c${i + 1}") }: _*)
  }

  val q45EtlPipeline = Q("q45_etl_pipeline",
    (s, _) => {
      // fresh warehouse per invocation: the pipeline's insert path
      // aborts on duplicate PKs by design, so reruns need a clean root
      val root = tempRoot("graft_q45")
      val paths = EtlPaths(
        rawCursos = s"$FixtureDir/raw_cursos.csv",
        rawEstudiantes = s"$FixtureDir/raw_estudiantes.csv",
        rawMatriculas = s"$FixtureDir/raw_matriculas.csv",
        rawPagos = s"$FixtureDir/raw_pagos.csv",
        warehouseDir = s"$root/warehouse",
        quarantineDir = s"$root/quarantine")
      Pipeline.run(s, paths, TargetDay)
      val wh = paths.warehouseDir
      // explicit column order per table: the physical parquet order is
      // an implementation detail (e.g. a USING-join floats its key to
      // the front) — the contract is the transform's declared order
      def tb(name: String, cols: String*) =
        shape(name, s.read.parquet(s"$wh/$name").select(cols.map(col): _*))
      tb("cursos", "codigo_curso", "nombre_curso", "numero_modulo",
        "fecha_inicio", "codigo_profesor", "horarios")
        .unionByName(tb("estudiantes", "codigo_estudiante", "nombres",
          "apellidos", "correo", "numero", "pais", "genero", "red_contacto",
          "nivel_educacion"))
        .unionByName(tb("matriculas", "codigo_matricula", "codigo_curso",
          "num_cursos", "fecha_matricula", "condicion_alumno",
          "codigo_estudiante", "valor_matricula"))
        .unionByName(tb("pagos", "codigo_matricula", "monto_pago",
          "metodo_pago", "moneda", "encargado", "fecha_pago"))
        .orderBy(col("tbl") +: (1 to 9).map(i => col(s"c$i")): _*)
    },
    Some {
      val F = FixtureDir
      // rn = file order: DuckDB preserves read_csv insertion order, the
      // positional stand-in for the reference's pandas row order (the
      // Spark side uses monotonically_increasing_id on the same single
      // -file scan)
      s"""WITH
      cur_raw AS (SELECT *, row_number() OVER () AS rn
        FROM read_csv('$F/raw_cursos.csv', skip=1, header=true, all_varchar=true)),
      cur_t AS (SELECT "CÓDIGO_C" AS codigo_curso, "NOMBRE_C" AS nombre_curso,
          CAST("I1" AS INTEGER) AS numero_modulo,
          ${duckIso("\"FECHA DE INICIO\"")} AS fecha_inicio,
          split_part("PROFESOR", ' ', 1) AS codigo_profesor,
          "HORARIOS" AS horarios, rn
        FROM cur_raw),
      cursos AS (SELECT codigo_curso, nombre_curso, numero_modulo,
          fecha_inicio, codigo_profesor, horarios
        FROM (SELECT *, row_number() OVER (PARTITION BY codigo_curso
                ORDER BY rn DESC) AS k FROM cur_t)
        WHERE k = 1),
      est_raw AS (SELECT *,
          regexp_replace(coalesce("NUMERO_E", ''), '\\D', '', 'g') AS num
        FROM read_csv('$F/raw_estudiantes.csv', skip=1, header=true, all_varchar=true)),
      est AS (SELECT "CODIGO_E" AS codigo_estudiante,
          ${duckInitcap("trim(\"NOMBRES_E\")")} AS nombres,
          ${duckInitcap("trim(\"APELLIDOS_E\")")} AS apellidos,
          lower(trim("CORREO_E")) AS correo,
          trim("NUMERO_E") AS numero,
          CASE WHEN "NUMERO_E" IS NULL THEN 'Desconocido'
               ELSE $duckPhonePais END AS pais,
          "GÉNERO_E" AS genero,
          "RED DE CONTACTO_E" AS red_contacto,
          "GRADO DE INSTRUCCIÓN_E" AS nivel_educacion
        FROM est_raw),
      mat_raw AS (SELECT *, row_number() OVER () AS rn
        FROM read_csv('$F/raw_matriculas.csv', skip=2, header=true, all_varchar=true)),
      mat_f AS (SELECT * FROM mat_raw
        WHERE CAST(${duckLenient("\"Marca temporal\"")} AS DATE) = DATE '2026-08-11'),
      mat_t AS (SELECT "Código de matrícula" AS codigo_matricula,
          CASE WHEN "Cursos de matrícula" IS NOT NULL
                 AND starts_with(trim("Cursos de matrícula"), 'P')
               THEN split_part(trim("Cursos de matrícula"), ' ', 1)
               ELSE "Cursos de matrícula" END AS codigo_curso,
          CASE WHEN "Cursos de matrícula" IS NOT NULL
                 AND starts_with(trim("Cursos de matrícula"), 'P')
               THEN coalesce(TRY_CAST("num cursos" AS INTEGER), 0)
               ELSE 0 END AS num_cursos,
          ${duckIso("\"Fecha de pago de la primera cuota\"")} AS fecha_matricula,
          "Condición del alumno" AS condicion_alumno,
          "Código de estudiante FINAL" AS codigo_estudiante,
          ${duckMoney("\"Monto de Pago\"")} AS valor_matricula, rn
        FROM mat_f),
      mat_valid AS (SELECT codigo_matricula, codigo_curso, num_cursos,
          fecha_matricula, condicion_alumno, codigo_estudiante, valor_matricula
        FROM (SELECT *, row_number() OVER (PARTITION BY codigo_matricula
                ORDER BY rn DESC) AS k FROM mat_t)
        WHERE k = 1 AND starts_with(codigo_curso, 'P')
          AND codigo_estudiante IN
            (SELECT codigo_estudiante FROM est WHERE codigo_estudiante IS NOT NULL)),
      p1 AS (SELECT "Código de matrícula" AS codigo_matricula,
          ${duckMoney("\"Primera Cuota\"")} AS monto_pago,
          ${duckAccount("\"Método de Pago\"", AccountMapPrimeraCuota)} AS metodo_pago,
          "Moneda" AS moneda,
          "Encargado de Registro" AS encargado,
          ${duckIso("\"Fecha de pago de la primera cuota\"")} AS fecha_pago
        FROM mat_f
        WHERE "Código de matrícula" IN (SELECT codigo_matricula FROM mat_valid)),
      pg_f AS (SELECT * FROM read_csv('$F/raw_pagos.csv', skip=5, header=true, all_varchar=true)
        WHERE CAST(${duckLenient("\"Marca temporal\"")} AS DATE) = DATE '2026-08-11'),
      p2 AS (SELECT "Código de matrícula" AS codigo_matricula,
          ${duckMoney("\"Monto de Pago\"")} AS monto_pago,
          ${duckAccount("\"Método de Pago\"", AccountMapRegular)} AS metodo_pago,
          ${duckCurrency("\"Método de Pago\"")} AS moneda,
          "Encargado de Registro" AS encargado,
          ${duckIso("\"fecha de pago\"")} AS fecha_pago
        FROM pg_f
        WHERE "Código de matrícula" IN (SELECT codigo_matricula FROM mat_valid)),
      pagos AS (SELECT * FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        WHERE fecha_pago IS NOT NULL
          AND codigo_matricula IN (SELECT codigo_matricula FROM mat_valid))
      SELECT * FROM (
        SELECT 'cursos' AS tbl, codigo_curso AS c1, nombre_curso AS c2,
          CAST(numero_modulo AS VARCHAR) AS c3, fecha_inicio AS c4,
          codigo_profesor AS c5, horarios AS c6,
          NULL AS c7, NULL AS c8, NULL AS c9 FROM cursos
        UNION ALL
        SELECT 'estudiantes', codigo_estudiante, nombres, apellidos, correo,
          numero, pais, genero, red_contacto, nivel_educacion FROM est
        UNION ALL
        SELECT 'matriculas', codigo_matricula, codigo_curso,
          CAST(num_cursos AS VARCHAR), fecha_matricula, condicion_alumno,
          codigo_estudiante, CAST(valor_matricula AS VARCHAR), NULL, NULL
          FROM mat_valid
        UNION ALL
        SELECT 'pagos', codigo_matricula, CAST(monto_pago AS VARCHAR),
          metodo_pago, moneda, encargado, fecha_pago, NULL, NULL, NULL
          FROM pagos)
      ORDER BY tbl, c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST,
        c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST,
        c8 NULLS FIRST, c9 NULLS FIRST"""
    })

  val q66SheetSource = Q("q66_sheet_source",
    // the graft.sheet DataSourceV2 under the oracle gate: both fixture
    // sheets read through spark.read.format("graft.sheet") (header-row
    // positioning, hostile-header renaming, numeric inference), checked
    // against DuckDB's own csv reader on the same bytes
    (s, _) => {
      val cur = s.read.format("graft.sheet")
        .option("headerRow", 2).option("inferNumeric", true)
        .load(s"$FixtureDir/raw_cursos.csv")
        .select(col("CÓDIGO_C").as("code"), col("NOMBRE_C").as("name"),
          col("I1").as("num"))
      val est = s.read.format("graft.sheet")
        .option("headerRow", 2)
        .load(s"$FixtureDir/raw_estudiantes.csv")
        .select(col("CODIGO_E").as("code"), col("NOMBRES_E").as("name"),
          lit(null).cast(LongType).as("num"))
      cur.unionByName(est).orderBy(col("code"), col("name"))
    },
    Some(s"""SELECT code, name, num FROM (
        SELECT "CÓDIGO_C" AS code, "NOMBRE_C" AS name,
          CAST("I1" AS BIGINT) AS num
        FROM read_csv('$FixtureDir/raw_cursos.csv', skip=1, header=true,
          all_varchar=true)
        UNION ALL
        SELECT "CODIGO_E" AS code, "NOMBRES_E" AS name, NULL AS num
        FROM read_csv('$FixtureDir/raw_estudiantes.csv', skip=1,
          header=true, all_varchar=true))
      ORDER BY code, name"""))

  val q95CdcApply = Q("q95_cdc_apply",
    // CDC batch apply against a live parquet warehouse (Load.applyCdc):
    // seed a dimension from `customer`, then one change batch carrying
    // updates (key % 7 = 0), deletes (key % 11 = 0, minus the update
    // overlap so each key has ONE change) and inserts — the oracle
    // restates the post-apply table in closed form. Exercises the
    // anti-join + union merge AND the crash-safe swap end-to-end.
    (s, d) => {
      val wh = tempRoot("graft_q95") + "/dim"
      val cust = graft.tables.Tables.customer(s, d)
      graft.etl.Load.upsert(s,
        cust.select(col("c_custkey"), col("c_mktsegment").as("segment")),
        wh, "c_custkey")
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          concat(col("c_mktsegment"), lit("_U")).as("segment"),
          lit("u").as("op"))
      val deletes = cust
        .filter(col("c_custkey") % 11 === 0 && col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), lit(null).cast(StringType).as("segment"),
          lit("d").as("op"))
      val inserts = graft.tables.Tables.nation(s, d).select(
        (col("n_nationkey").cast(LongType) + 20000000L).as("c_custkey"),
        lit("NEWSEG").as("segment"), lit("u").as("op"))
      graft.etl.Load.applyCdc(s,
        updates.unionByName(deletes).unionByName(inserts), wh, "c_custkey")
      s.read.parquet(wh).orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
        CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_U'
             ELSE c_mktsegment END AS segment
      FROM customer
      WHERE NOT (c_custkey % 11 = 0 AND c_custkey % 7 <> 0)
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT) + 20000000, 'NEWSEG' FROM nation
      ORDER BY c_custkey"""))

  val q111ScopedMerge = Q("q111_scoped_merge",
    // bucket-SCOPED merge (Load.upsertBucketed / applyCdcBucketed):
    // the 100 TB answer to q95's whole-table rewrite. The warehouse is
    // laid out as __bucket=K partition dirs (K = xxhash64(pk) mod 16),
    // so an update/CDC batch reads and rewrites ONLY the buckets its
    // keys hash into — merge I/O scales with the batch, not the table
    // (ScopedMergeSpec pins byte-identity of untouched buckets; the
    // Stress 'scoped merge' phase pins the cost scaling). Three-step
    // lifecycle under one oracle: bootstrap from orders, a scoped
    // price update (keys %97), then CDC deletes (%101) + inserts.
    (s, d) => {
      val wh = tempRoot("graft_q111") + "/fact"
      val ord = graft.tables.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.etl.Load.upsertBucketed(s, ord, wh, "o_orderkey", buckets = 16)
      val updates = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      graft.etl.Load.upsertBucketed(s, updates, wh, "o_orderkey", buckets = 16)
      val deletes = ord.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey"), lit(null).cast(LongType).as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"), lit("d").as("op"))
      val inserts = graft.tables.Tables.nation(s, d).select(
        (col("n_nationkey").cast(LongType) + 900000000L).as("o_orderkey"),
        col("n_nationkey").cast(LongType).as("o_custkey"),
        lit(42.5).as("o_totalprice"), lit("u").as("op"))
      graft.etl.Load.applyCdcBucketed(s, deletes.unionByName(inserts), wh,
        "o_orderkey", buckets = 16)
      s.read.parquet(wh)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 101 <> 0
      UNION ALL
      SELECT 900000000 + n_nationkey, CAST(n_nationkey AS BIGINT), 42.5
      FROM nation
      ORDER BY o_orderkey"""))

  val q114DayMerge = Q("q114_day_merge",
    // day-partition-SCOPED merge (Load.upsertPartitioned): the other
    // scoped-merge layout — time-partitioned facts where a correction
    // batch lands in known days and only those day= dirs are rewritten
    // (merge key day+pk; ScopedMergeSpec pins untouched-day byte
    // identity). Bootstrap orders day-partitioned by order MONTH
    // (bounded dir count at every SF), then a correction batch that
    // re-prices January 1995: exactly one partition dir is touched.
    (s, d) => {
      val wh = tempRoot("graft_q114") + "/fact"
      val ord = graft.tables.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("day"))
      graft.etl.Load.upsertPartitioned(s, ord, wh, "o_orderkey")
      val batch = ord.filter(col("day") === "1995-01")
        .withColumn("o_totalprice", col("o_totalprice") * lit(0.9))
      graft.etl.Load.upsertPartitioned(s, batch, wh, "o_orderkey")
      s.read.parquet(wh)
        .select(col("o_orderkey"), col("day"),
          col("o_totalprice").as("price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS day,
        CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-01'
             THEN o_totalprice * 0.9 ELSE o_totalprice END AS price
      FROM orders ORDER BY o_orderkey"""))

  val q118Retention = Q("q118_retention",
    // retention expiry (Scale.expirePartitions): the lifecycle
    // counterpart of the scoped merge — a day/month-partitioned table
    // ages out whole partition dirs with O(1) metadata deletes, no
    // data read or rewritten. Bootstrap orders month-partitioned
    // (the data spans 1995-01..2001-08), expire everything before
    // 1996-01, return the surviving rows; the require pins that ONLY
    // pre-cutoff months were dropped.
    (s, d) => {
      val wh = tempRoot("graft_q118") + "/fact"
      val ord = graft.tables.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("day"))
      graft.etl.Load.upsertPartitioned(s, ord, wh, "o_orderkey")
      val dropped = graft.ops.Scale.expirePartitions(s, wh, "day", "1996-01")
      require(dropped.nonEmpty && dropped.forall(_ < "1996-01"),
        s"expiry must drop exactly the pre-cutoff months, got $dropped")
      s.read.parquet(wh)
        .select(col("o_orderkey"), col("day"),
          col("o_totalprice").as("price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS day,
        o_totalprice AS price
      FROM orders WHERE strftime(o_orderdate, '%Y-%m') >= '1996-01'
      ORDER BY o_orderkey"""))

  /** Planted crawl record for q168, shared by bootstrap and batch:
    * url-duplicate keys + per-doc mojibake damage derived from the
    * SAME code in both engines. The url is messy (trailing slash, utm
    * param, fragment) but canonicalizes to the CLOSED FORM
    * `https://www.example{kk%7}.com/page/{kk}?id={kk}` — the oracle
    * constructs that form directly, so the hash compare additionally
    * pins canonicalizeUrl's output exactly. Duplicate rules: doc_id %
    * 20 == 7 shares kk with doc_id-4 (BOTH %4==3 — an in-batch dup);
    * doc_id % 10 == 9 shares kk with doc_id-1 (for %4==3 docs the
    * partner is %4==2 — a bootstrap collision the seen set rejects).
    */
  private val Q168MojiPlants: Seq[String] = {
    val m = graft.ops.Mojibake
    Seq(s"caf${m.mojibakeOf(0xE9)} menu du mus${m.mojibakeOf(0xE9)}e",
      s"${m.mojibakeOf(0x201C)}quoted${m.mojibakeOf(0x201D)} text")
  }

  private def q168Crawl(docs: DataFrame): DataFrame = {
    val kk = when(col("doc_id") % 20 === 7, col("doc_id") - 4)
      .when(col("doc_id") % 10 === 9, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val url = concat(lit("https://www.example"), kk % 7,
      lit(".com/page/"), kk,
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), kk,
      when(col("doc_id") % 2 === 0, lit("&utm_source=x"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit("#f"), col("doc_id")))
        .otherwise(lit("")))
    val plant = when(col("doc_id") % 2 === 0, lit(Q168MojiPlants(0)))
      .otherwise(lit(Q168MojiPlants(1)))
    // the title deliberately carries NO doc_id: extracted numerals
    // would act as per-doc id-memorization features in the NB vocab
    // (each id appears once with one label and a huge weight), which
    // crowds real language tokens out of the capped vocab and scores
    // every UNSEEN id negative — the classic train/serve leak this
    // fixture must not have
    val html = concat(
      lit("<html><head><title>Corpus page"),
      lit("</title><script>track();</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a></nav><p>"),
      col("text"), lit(" "), plant,
      lit("</p><footer><a href=\"/t\">Terms</a></footer></body></html>"))
    docs.select(col("doc_id"), col("source"), col("lang"),
      TextQueries.canonicalizeUrl(url).as("canon_url"), html.as("html"))
  }

  val q168IncrementalCorpus = Q("q168_incremental_corpus",
    // INCREMENTAL corpus ingest (ops/CorpusIngest) — the O(batch)
    // path after the bootstrap the q162 flagship runs: bootstrap on
    // 3/4 of the crawl trains + persists every model and records the
    // per-source DSIR admission thresholds and token high-water
    // marks; the remaining 1/4 then folds through APPLY-ONLY stages —
    // in-batch url dedup, seen-set rejection (broadcast-probe against
    // the stored URL column, zero corpus shuffle), HTML extract +
    // mojibake repair, NB gate and DSIR threshold admission under the
    // frozen models, BPE encode with the persisted merges, and
    // sequence packing that CONTINUES each source's token stream from
    // the bootstrap high-water mark. Exactly-once: the replayed
    // batch id is asserted a no-op in-run. The oracle replays the
    // ENTIRE ingest in DuckDB from the persisted artifacts alone
    // (models, urls/batch=0 seen set, corpus/batch=0 for thresholds
    // and high-water marks) and the query returns the batch=1 rows
    // READ BACK from the warehouse — so what's compared is the
    // persisted state itself.
    (s, d) => {
      val wh = s"${Catalog.root}/graft_corpus/q168"
      val docs = graft.tables.Tables.documents(s, d)
      // Bootstrap ONCE per fixture input (the marker records which
      // sfDir built the warehouse), then exercise the production
      // re-entrancy path on every later run: roll back to batch 0 and
      // re-ingest. Bootstrap itself fully wipes the dir, so a marker
      // mismatch (the driver's sf0.001→sf0.01 sequence) can never
      // resurrect a stale generation — and the bench stops charging
      // the train machinery to what is an INGEST query every pass.
      Catalog.buildOnce(s, s"$wh/fixture", d)(scala.util.Try(
          graft.ops.CorpusIngest.rollback(s, wh, 0L)).isFailure) {
        graft.ops.CorpusIngest.bootstrap(s,
          q168Crawl(docs.filter(col("doc_id") % 4 =!= 3)), wh,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 3 =!= 0,
          dsirTarget = col("lang") === "en",
          selectPct = 50)
      }
      val batch = q168Crawl(docs.filter(col("doc_id") % 4 === 3))
      require(graft.ops.CorpusIngest.ingest(s, batch, wh, 1L),
        "first ingest of batch 1 must land")
      require(!graft.ops.CorpusIngest.ingest(s, batch, wh, 1L),
        "replayed batch id must be a loud no-op")
      val landed = s.read.parquet(s"$wh/corpus")
        .filter(col("batch") === 1).count()
      require(landed > 0,
        "batch 1 landed zero rows — the gate fixture went vacuous")
      s.read.parquet(s"$wh/corpus").filter(col("batch") === 1)
        .select(col("doc_id"), col("source"), col("lang"),
          col("margin_micro"), col("lr_micro"), col("n_tokens"),
          col("tok_before"), col("start_seq"), col("end_seq"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""WITH RECURSIVE
        mm AS (SELECT rank, moji, fixed FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/mapping/*.parquet')),
        nw AS (SELECT token, weight_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/nb/weights/*.parquet')),
        nm AS (SELECT prior_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/nb/meta/*.parquet')),
        dm AS (SELECT bucket, lr_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/dsir/model/*.parquet')),
        bm AS (SELECT rank, left_sym, right_sym FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/merges/*.parquet')),
        u0 AS (SELECT canon_url FROM read_parquet(
          '${Catalog.root}/graft_corpus/q168/urls/batch=0/*.parquet')),
        c0 AS (SELECT source, min(lr_micro) AS thr,
            sum(n_tokens) AS hwm
          FROM read_parquet(
            '${Catalog.root}/graft_corpus/q168/corpus/batch=0/*.parquet')
          GROUP BY source),
        gmin AS (SELECT min(thr) AS g FROM c0),
        base AS (SELECT doc_id, source, lang, text,
            CASE WHEN doc_id % 20 = 7 THEN doc_id - 4
              WHEN doc_id % 10 = 9 THEN doc_id - 1
              ELSE doc_id END AS kk
          FROM documents WHERE doc_id % 4 = 3),
        b2 AS (SELECT doc_id, source, lang,
          'https://www.example' || (kk % 7) || '.com/page/' || kk
            || '?id=' || kk AS canon_url,
          '<html><head><title>Corpus page'
          || '</title><script>track();</script></head><body>'
          || '<nav><a href="/">Home</a></nav><p>'
          || text || ' '
          || (CASE WHEN doc_id % 2 = 0 THEN '${Q168MojiPlants(0)}'
              ELSE '${Q168MojiPlants(1)}' END)
          || '</p><footer><a href="/t">Terms</a></footer></body></html>'
          AS h FROM base),
        keepd AS (SELECT doc_id, source, lang, canon_url, h
          FROM (SELECT *, row_number() OVER (PARTITION BY canon_url
              ORDER BY doc_id) AS rn FROM b2) WHERE rn = 1),
        freshd AS (SELECT k.* FROM keepd k
          WHERE NOT EXISTS (SELECT 1 FROM u0
            WHERE u0.canon_url = k.canon_url)),
        ext AS (SELECT doc_id, source, lang,
          ${graft.ops.HtmlText.duckExtract("h")} AS raw_text FROM freshd),
        rec(doc_id, s2, r) AS (
          SELECT doc_id, raw_text, 0 FROM ext
          UNION ALL
          SELECT rec.doc_id, replace(rec.s2, mm.moji, mm.fixed), rec.r + 1
          FROM rec JOIN mm ON mm.rank = rec.r + 1),
        rep AS (SELECT e.doc_id, e.source, e.lang, rec.s2 AS text
          FROM rec JOIN ext e USING (doc_id)
          WHERE rec.r = (SELECT count(*) FROM mm)),
        ntk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM rep),
        ntf AS (SELECT doc_id, token FROM ntk WHERE length(token) > 0),
        nj AS (SELECT ntf.doc_id, nw.weight_micro
          FROM ntf LEFT JOIN nw USING (token)),
        na AS (SELECT doc_id, coalesce(sum(weight_micro), 0) AS wsum
          FROM nj GROUP BY doc_id),
        gated AS (SELECT p.doc_id, p.source, p.lang, p.text,
            CAST((SELECT prior_micro FROM nm) + coalesce(na.wsum, 0)
              AS BIGINT) AS margin_micro
          FROM rep p LEFT JOIN na USING (doc_id)
          WHERE (SELECT prior_micro FROM nm) + coalesce(na.wsum, 0) > 0),
        dt AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
          FROM gated),
        dfeat AS (SELECT doc_id, list_concat(t,
            CASE WHEN len(t) >= 2 THEN list_transform(
                generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])
              ELSE CAST([] AS VARCHAR[]) END) AS feats
          FROM dt),
        de AS (SELECT doc_id, unnest(feats) AS feat FROM dfeat),
        db AS (SELECT doc_id,
            CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 512
              AS bucket
          FROM de),
        da AS (SELECT doc_id, sum(dm.lr_micro) AS wsum
          FROM db JOIN dm USING (bucket) GROUP BY doc_id),
        dscore AS (SELECT g.doc_id, g.source, g.lang, g.text,
            g.margin_micro,
            CAST(coalesce(da.wsum, 0) AS BIGINT) AS lr_micro
          FROM gated g LEFT JOIN da USING (doc_id)),
        sel AS (SELECT d.* FROM dscore d LEFT JOIN c0 USING (source)
          WHERE d.lr_micro >= coalesce(c0.thr,
            (SELECT g FROM gmin))),
        bwords AS (SELECT DISTINCT word FROM (SELECT
            unnest(string_split(text, ' ')) AS word FROM sel)
          WHERE length(word) > 0),
        seg(word, s, r) AS (
          SELECT word,
            '  ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w>  ', 0
          FROM bwords
          UNION ALL
          SELECT seg.word,
            replace(seg.s, ' ' || bm.left_sym || '  ' || bm.right_sym || ' ',
                           ' ' || bm.left_sym || bm.right_sym || ' '),
            seg.r + 1
          FROM seg JOIN bm ON bm.rank = seg.r + 1),
        lex AS (SELECT word, string_split(trim(s), '  ') AS toks FROM seg
          WHERE r = (SELECT count(*) FROM bm)),
        bw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM sel),
        enc AS (SELECT b.doc_id, lex.toks FROM bw b
          JOIN lex USING (word) WHERE length(b.word) > 0),
        ba AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
          FROM enc GROUP BY doc_id),
        bt AS (SELECT s2.doc_id, s2.source, s2.lang, s2.margin_micro,
            s2.lr_micro, ba.n_tokens, coalesce(c0.hwm, 0) AS hwm
          FROM sel s2 JOIN ba USING (doc_id)
          LEFT JOIN c0 USING (source)),
        bc AS (SELECT *, CAST(hwm + coalesce(sum(n_tokens) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tok_before FROM bt)
      SELECT doc_id, source, lang, margin_micro, lr_micro, n_tokens,
        tok_before,
        CAST(tok_before // 2048 AS BIGINT) AS start_seq,
        CAST((tok_before + n_tokens - 1) // 2048 AS BIGINT) AS end_seq
      FROM bc ORDER BY doc_id"""))

  val q189IngestFunnel = Q("q189_ingest_funnel",
    // the q186 funnel report over the REAL production pipeline: per
    // source, how many of an ingest batch's documents survive each of
    // q168's ACTUAL warehouse stages — raw → in-batch url dedup →
    // seen-set rejection → NB gate → DSIR threshold admission — and
    // what landed as corpus/batch=1 (rows + tokens). The warehouse
    // bootstraps AND lands batch 1 ONCE per fixture input (q168's
    // marker pattern — the ingest lifecycle is q168's gate); each
    // pass then runs CorpusIngest.funnel, which replays stage
    // memberships under the PERSISTED artifacts alone — so the
    // DuckDB oracle re-derives
    // every count from the persisted models/urls/state/corpus tables
    // plus the raw documents (q168's replay CTEs, aggregated per
    // stage instead of packed). The n_admitted == n_landed invariant
    // is visible in the report rather than asserted away. At 100 TB:
    // each stage is one O(batch) aggregate; the report is
    // |sources|-sized.
    (s, d) => {
      val wh = s"${Catalog.root}/graft_corpus/q189"
      val docs = graft.tables.Tables.documents(s, d)
      // bootstrap AND the batch-1 ingest run once per fixture input:
      // the ingest lifecycle (rollback/replay/exactly-once) is q168's
      // gate — THIS query's gated content is the FUNNEL replay, so
      // repeat passes charge the audit, not a re-ingest. Exactly-once
      // ingest makes the landed batch deterministic either way.
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          graft.ops.CorpusIngest.lastBatch(s, wh) < 0L) {
        graft.ops.CorpusIngest.bootstrap(s,
          q168Crawl(docs.filter(col("doc_id") % 4 =!= 3)), wh,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 3 =!= 0,
          dsirTarget = col("lang") === "en",
          selectPct = 50)
      }
      val batch = q168Crawl(docs.filter(col("doc_id") % 4 === 3))
      if (graft.ops.CorpusIngest.lastBatch(s, wh) < 1L)
        require(graft.ops.CorpusIngest.ingest(s, batch, wh, 1L),
          "batch 1 must land")
      graft.ops.CorpusIngest.funnel(s, batch, wh, 1L)
        .orderBy(col("source"))
    },
    Some(raw"""WITH RECURSIVE
        mm AS (SELECT rank, moji, fixed FROM read_parquet(
          '${Catalog.root}/graft_corpus/q189/mapping/*.parquet')),
        nw AS (SELECT token, weight_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q189/nb/weights/*.parquet')),
        nm AS (SELECT prior_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q189/nb/meta/*.parquet')),
        dm AS (SELECT bucket, lr_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q189/dsir/model/*.parquet')),
        u0 AS (SELECT canon_url FROM read_parquet(
          '${Catalog.root}/graft_corpus/q189/urls/batch=0/*.parquet')),
        c0 AS (SELECT source, min(lr_micro) AS thr
          FROM read_parquet(
            '${Catalog.root}/graft_corpus/q189/corpus/batch=0/*.parquet')
          GROUP BY source),
        gmin AS (SELECT min(thr) AS g FROM c0),
        landed AS (SELECT source, count(*) AS n_landed,
            CAST(sum(n_tokens) AS BIGINT) AS tok_landed
          FROM read_parquet(
            '${Catalog.root}/graft_corpus/q189/corpus/batch=1/*.parquet')
          GROUP BY source),
        base AS (SELECT doc_id, source, lang, text,
            CASE WHEN doc_id % 20 = 7 THEN doc_id - 4
              WHEN doc_id % 10 = 9 THEN doc_id - 1
              ELSE doc_id END AS kk
          FROM documents WHERE doc_id % 4 = 3),
        b2 AS (SELECT doc_id, source, lang,
          'https://www.example' || (kk % 7) || '.com/page/' || kk
            || '?id=' || kk AS canon_url,
          '<html><head><title>Corpus page'
          || '</title><script>track();</script></head><body>'
          || '<nav><a href="/">Home</a></nav><p>'
          || text || ' '
          || (CASE WHEN doc_id % 2 = 0 THEN '${Q168MojiPlants(0)}'
              ELSE '${Q168MojiPlants(1)}' END)
          || '</p><footer><a href="/t">Terms</a></footer></body></html>'
          AS h FROM base),
        keepd AS (SELECT doc_id, source, lang, canon_url, h
          FROM (SELECT *, row_number() OVER (PARTITION BY canon_url
              ORDER BY doc_id) AS rn FROM b2) WHERE rn = 1),
        freshd AS (SELECT k.* FROM keepd k
          WHERE NOT EXISTS (SELECT 1 FROM u0
            WHERE u0.canon_url = k.canon_url)),
        ext AS (SELECT doc_id, source, lang,
          ${graft.ops.HtmlText.duckExtract("h")} AS raw_text FROM freshd),
        rec(doc_id, s2, r) AS (
          SELECT doc_id, raw_text, 0 FROM ext
          UNION ALL
          SELECT rec.doc_id, replace(rec.s2, mm.moji, mm.fixed), rec.r + 1
          FROM rec JOIN mm ON mm.rank = rec.r + 1),
        rep AS (SELECT e.doc_id, e.source, e.lang, rec.s2 AS text
          FROM rec JOIN ext e USING (doc_id)
          WHERE rec.r = (SELECT count(*) FROM mm)),
        ntk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM rep),
        ntf AS (SELECT doc_id, token FROM ntk WHERE length(token) > 0),
        nj AS (SELECT ntf.doc_id, nw.weight_micro
          FROM ntf LEFT JOIN nw USING (token)),
        na AS (SELECT doc_id, coalesce(sum(weight_micro), 0) AS wsum
          FROM nj GROUP BY doc_id),
        gated AS (SELECT p.doc_id, p.source, p.lang, p.text
          FROM rep p LEFT JOIN na USING (doc_id)
          WHERE (SELECT prior_micro FROM nm) + coalesce(na.wsum, 0) > 0),
        dt AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
          FROM gated),
        dfeat AS (SELECT doc_id, list_concat(t,
            CASE WHEN len(t) >= 2 THEN list_transform(
                generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])
              ELSE CAST([] AS VARCHAR[]) END) AS feats
          FROM dt),
        de AS (SELECT doc_id, unnest(feats) AS feat FROM dfeat),
        db AS (SELECT doc_id,
            CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 512
              AS bucket
          FROM de),
        da AS (SELECT doc_id, sum(dm.lr_micro) AS wsum
          FROM db JOIN dm USING (bucket) GROUP BY doc_id),
        sel AS (SELECT g.doc_id, g.source FROM gated g
          LEFT JOIN da USING (doc_id) LEFT JOIN c0 USING (source)
          WHERE CAST(coalesce(da.wsum, 0) AS BIGINT) >=
            coalesce(c0.thr, (SELECT g FROM gmin))),
        s_raw AS (SELECT source, count(*) AS n_raw FROM b2
          GROUP BY source),
        s_d1 AS (SELECT source, count(*) AS n_urldedup FROM keepd
          GROUP BY source),
        s_fr AS (SELECT source, count(*) AS n_fresh FROM freshd
          GROUP BY source),
        s_nb AS (SELECT source, count(*) AS n_nb FROM gated
          GROUP BY source),
        s_ad AS (SELECT source, count(*) AS n_admitted FROM sel
          GROUP BY source)
      SELECT r.source, r.n_raw,
        coalesce(s_d1.n_urldedup, 0) AS n_urldedup,
        coalesce(s_fr.n_fresh, 0) AS n_fresh,
        coalesce(s_fr.n_fresh, 0) AS n_langid,
        coalesce(s_nb.n_nb, 0) AS n_nb,
        coalesce(s_ad.n_admitted, 0) AS n_admitted,
        coalesce(landed.n_landed, 0) AS n_landed,
        coalesce(landed.tok_landed, 0) AS tok_landed
      FROM s_raw r
      LEFT JOIN s_d1 ON s_d1.source = r.source
      LEFT JOIN s_fr ON s_fr.source = r.source
      LEFT JOIN s_nb ON s_nb.source = r.source
      LEFT JOIN s_ad ON s_ad.source = r.source
      LEFT JOIN landed ON landed.source = r.source
      ORDER BY r.source"""))

  val q206LangidIngest = Q("q206_langid_ingest",
    // LANGUAGE ID WIRED INTO THE PRODUCTION INGEST (CorpusIngest
    // bootstrap/ingest/funnel with langid = true) — closing the gap
    // the q192 operator left: prediction existed but every pipeline
    // stage still consumed the crawl's PLANTED lang column. CCNet's
    // ordering is langid FIRST, then per-language quality — so the
    // bootstrap now trains the char-trigram multiclass NB on the
    // labeled bootstrap crawl, freezes it with a decision-margin
    // threshold, and every batch (this one carrying a language SIGNAL
    // planted in the text, with a no-signal subset that the margin
    // gate must handle) is stamped with pred_lang and gated BEFORE
    // the quality stages — the batch's own lang column is ignored.
    // The funnel gains the langid stage (n_langid). Fixture built
    // once (q189's pattern); every pass runs the funnel audit, whose
    // stage counts the oracle re-derives ENTIRELY from the persisted
    // artifacts: url seen-set, HTML extract, langid scoring from the
    // persisted per-class integer weights + the frozen margin
    // (q192's replay), NB gate from nb weights, DSIR admission from
    // the model + batch-0 thresholds, landed rows from the corpus
    // parquet. At 100 TB: the langid stamp is |classes| codegen
    // token-folds riding the batch scan — zero exchanges added.
    (s, d) => {
      val wh = s"${Catalog.root}/graft_corpus/q206"
      val docs = graft.tables.Tables.documents(s, d)
      def crawl(part: org.apache.spark.sql.DataFrame) = {
        val kk = when(col("doc_id") % 10 === 9, col("doc_id") - 1)
          .otherwise(col("doc_id"))
        // language signal: three per-class marker words; the %7==3
        // subset carries none (ambiguous text for the margin gate)
        val sig = when(col("doc_id") % 7 === 3, lit(""))
          .otherwise(concat(lit(" zz"), col("lang"), lit(" zz"),
            col("lang"), lit(" zz"), col("lang")))
        part.select(col("doc_id"), col("source"), col("lang"),
          concat(lit("https://q206.example/"), kk).as("canon_url"),
          concat(lit("<html><body><p>"), col("text"), sig,
            lit("</p></body></html>")).as("html"))
      }
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          graft.ops.CorpusIngest.lastBatch(s, wh) < 1L ||
          graft.etl.Load.readTable(s, s"$wh/langid/meta").isEmpty) {
        graft.ops.CorpusIngest.bootstrap(s,
          crawl(docs.filter(col("doc_id") % 4 =!= 3)), wh,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 3 =!= 0,
          dsirTarget = col("lang") === "en",
          selectPct = 50,
          langid = true, langidMinMargin = 100000L)
        require(graft.ops.CorpusIngest.ingest(s,
          crawl(docs.filter(col("doc_id") % 4 === 3)), wh, 1L),
          "batch 1 must land")
      }
      graft.ops.CorpusIngest.funnel(s,
        crawl(docs.filter(col("doc_id") % 4 === 3)), wh, 1L)
        .orderBy(col("source"))
    },
    Some(s"""WITH nw AS (SELECT token, weight_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/nb/weights/*.parquet')),
        nm AS (SELECT prior_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/nb/meta/*.parquet')),
        dm AS (SELECT bucket, lr_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/dsir/model/*.parquet')),
        lw AS (SELECT token, label, weight_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/langid/weights/*.parquet')),
        lm AS (SELECT label, prior_micro FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/langid/meta/*.parquet')),
        lcfg AS (SELECT min_margin FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/langidcfg/*.parquet')),
        u0 AS (SELECT canon_url FROM read_parquet(
          '${Catalog.root}/graft_corpus/q206/urls/batch=0/*.parquet')),
        c0 AS (SELECT source, min(lr_micro) AS thr
          FROM read_parquet(
            '${Catalog.root}/graft_corpus/q206/corpus/batch=0/*.parquet')
          GROUP BY source),
        gmin AS (SELECT min(thr) AS g FROM c0),
        landed AS (SELECT source, count(*) AS n_landed,
            CAST(sum(n_tokens) AS BIGINT) AS tok_landed
          FROM read_parquet(
            '${Catalog.root}/graft_corpus/q206/corpus/batch=1/*.parquet')
          GROUP BY source),
        base AS (SELECT doc_id, source, lang, text,
            CASE WHEN doc_id % 10 = 9 THEN doc_id - 1
              ELSE doc_id END AS kk
          FROM documents WHERE doc_id % 4 = 3),
        b2 AS (SELECT doc_id, source, lang,
          'https://q206.example/' || kk AS canon_url,
          '<html><body><p>' || text ||
          (CASE WHEN doc_id % 7 = 3 THEN ''
            ELSE ' zz' || lang || ' zz' || lang || ' zz' || lang END)
          || '</p></body></html>' AS h FROM base),
        keepd AS (SELECT doc_id, source, lang, canon_url, h
          FROM (SELECT *, row_number() OVER (PARTITION BY canon_url
              ORDER BY doc_id) AS rn FROM b2) WHERE rn = 1),
        freshd AS (SELECT k.* FROM keepd k
          WHERE NOT EXISTS (SELECT 1 FROM u0
            WHERE u0.canon_url = k.canon_url)),
        rep AS (SELECT doc_id, source,
          ${graft.ops.HtmlText.duckExtract("h")} AS text FROM freshd),
        ltk AS (SELECT doc_id,
            unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
              i -> substr(text, i, 3))) AS token
          FROM rep),
        lhits AS (SELECT t.doc_id, w.label,
            CAST(sum(w.weight_micro) AS BIGINT) AS hs
          FROM ltk t JOIN lw w ON w.token = t.token
          GROUP BY t.doc_id, w.label),
        lsc AS (SELECT r.doc_id, m.label,
            m.prior_micro + coalesce(h.hs, 0) AS score
          FROM rep r CROSS JOIN lm m
          LEFT JOIN lhits h ON h.doc_id = r.doc_id AND h.label = m.label),
        lrk AS (SELECT doc_id, label, score,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, label) AS rn FROM lsc),
        lid AS (SELECT b1.doc_id FROM
            (SELECT doc_id, score FROM lrk WHERE rn = 1) b1
          JOIN (SELECT doc_id, score AS s2 FROM lrk WHERE rn = 2) b2u
            USING (doc_id)
          WHERE b1.score - b2u.s2 >= (SELECT min_margin FROM lcfg)),
        lpool AS (SELECT r.* FROM rep r
          WHERE EXISTS (SELECT 1 FROM lid WHERE lid.doc_id = r.doc_id)),
        ntk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM lpool),
        ntf AS (SELECT doc_id, token FROM ntk WHERE length(token) > 0),
        nj AS (SELECT ntf.doc_id, nw.weight_micro
          FROM ntf LEFT JOIN nw USING (token)),
        na AS (SELECT doc_id, coalesce(sum(weight_micro), 0) AS wsum
          FROM nj GROUP BY doc_id),
        gated AS (SELECT p.doc_id, p.source, p.text
          FROM lpool p LEFT JOIN na USING (doc_id)
          WHERE (SELECT prior_micro FROM nm) + coalesce(na.wsum, 0) > 0),
        dt AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
          FROM gated),
        dfeat AS (SELECT doc_id, list_concat(t,
            CASE WHEN len(t) >= 2 THEN list_transform(
                generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])
              ELSE CAST([] AS VARCHAR[]) END) AS feats
          FROM dt),
        de AS (SELECT doc_id, unnest(feats) AS feat FROM dfeat),
        db AS (SELECT doc_id,
            CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 512
              AS bucket
          FROM de),
        da AS (SELECT doc_id, sum(dm.lr_micro) AS wsum
          FROM db JOIN dm USING (bucket) GROUP BY doc_id),
        sel AS (SELECT g.doc_id, g.source FROM gated g
          LEFT JOIN da USING (doc_id) LEFT JOIN c0 USING (source)
          WHERE CAST(coalesce(da.wsum, 0) AS BIGINT) >=
            coalesce(c0.thr, (SELECT g FROM gmin))),
        s_raw AS (SELECT source, count(*) AS n_raw FROM b2
          GROUP BY source),
        s_d1 AS (SELECT source, count(*) AS n_urldedup FROM keepd
          GROUP BY source),
        s_fr AS (SELECT source, count(*) AS n_fresh FROM freshd
          GROUP BY source),
        s_li AS (SELECT source, count(*) AS n_langid FROM lpool
          GROUP BY source),
        s_nb AS (SELECT source, count(*) AS n_nb FROM gated
          GROUP BY source),
        s_ad AS (SELECT source, count(*) AS n_admitted FROM sel
          GROUP BY source)
      SELECT r.source, r.n_raw,
        coalesce(s_d1.n_urldedup, 0) AS n_urldedup,
        coalesce(s_fr.n_fresh, 0) AS n_fresh,
        coalesce(s_li.n_langid, 0) AS n_langid,
        coalesce(s_nb.n_nb, 0) AS n_nb,
        coalesce(s_ad.n_admitted, 0) AS n_admitted,
        coalesce(landed.n_landed, 0) AS n_landed,
        coalesce(landed.tok_landed, 0) AS tok_landed
      FROM s_raw r
      LEFT JOIN s_d1 ON s_d1.source = r.source
      LEFT JOIN s_fr ON s_fr.source = r.source
      LEFT JOIN s_li ON s_li.source = r.source
      LEFT JOIN s_nb ON s_nb.source = r.source
      LEFT JOIN s_ad ON s_ad.source = r.source
      LEFT JOIN landed ON landed.source = r.source
      ORDER BY r.source"""))

  val q195CorpusAsof = Q("q195_corpus_asof",
    // corpus TIME-TRAVEL read (CorpusIngest.readAsOf, verdict #7) —
    // the reproducible-training snapshot lever: "train on the corpus
    // as of generation I" is a partition-pruned read of
    // corpus/batch<=I, O(1) thanks to the batch= layout (no copy, no
    // log replay), and exactly-once append-only ingest makes as-of(I)
    // BIT-IDENTICAL to what a reader saw before batch I+1 landed
    // (CorpusIngestSpec pins the equivalence through a live ingest;
    // an as-of beyond the high-water mark is refused loudly). The
    // warehouse bootstraps + lands batches 1 and 2 ONCE per fixture
    // input (the q189 marker pattern); each pass serves the as-of-1
    // snapshot while batch 2 exists on disk — pruned away, never
    // read — and the oracle replays the same cut from the persisted
    // corpus parquet alone.
    (s, d) => {
      val wh = s"${Catalog.root}/graft_corpus/q195"
      val docs = graft.tables.Tables.documents(s, d)
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          graft.ops.CorpusIngest.lastBatch(s, wh) < 0L) {
        graft.ops.CorpusIngest.bootstrap(s,
          q168Crawl(docs.filter(col("doc_id") % 4 <= 1)), wh,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 3 =!= 0,
          dsirTarget = col("lang") === "en",
          selectPct = 50)
      }
      if (graft.ops.CorpusIngest.lastBatch(s, wh) < 1L)
        require(graft.ops.CorpusIngest.ingest(s,
          q168Crawl(docs.filter(col("doc_id") % 4 === 2)), wh, 1L),
          "batch 1 must land")
      if (graft.ops.CorpusIngest.lastBatch(s, wh) < 2L)
        require(graft.ops.CorpusIngest.ingest(s,
          q168Crawl(docs.filter(col("doc_id") % 4 === 3)), wh, 2L),
          "batch 2 must land")
      graft.ops.CorpusIngest.readAsOf(s, wh, 1L)
        .select(col("doc_id"), col("source"), col("lang"),
          col("margin_micro"), col("lr_micro"), col("n_tokens"),
          col("tok_before"), col("start_seq"), col("end_seq"),
          col("batch").cast(LongType).as("batch"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""SELECT doc_id, source, lang, margin_micro, lr_micro,
        n_tokens, tok_before, start_seq, end_seq,
        CAST(batch AS BIGINT) AS batch
      FROM read_parquet(
        '${Catalog.root}/graft_corpus/q195/corpus/*/*.parquet',
        hive_partitioning = true)
      WHERE batch <= 1 ORDER BY doc_id"""))

  val q199CorpusDelete = Q("q199_corpus_delete",
    // TOMBSTONE DELETES over the packed TRAINING CORPUS
    // (CorpusIngest.delete/purge/read) — the takedown lever over the
    // training data itself, completing the delete story across all
    // three warehouse kinds (text index q197, vector q198). The
    // semantics a 100 TB packed corpus can afford: LOGICAL deletion
    // (epoch tombstones + the 1-row delmeta commit point; read/
    // readAsOf anti-join broadcast-side), the token stream keeps its
    // HOLES — every packed row carries absolute offsets, so nothing
    // repacks and the per-source high-water marks stay valid — and
    // the canonical URL stays in the seen set ON PURPOSE: a re-crawl
    // of taken-down content keeps being rejected (require-pinned: the
    // victim batch re-ingested under a fresh id lands ZERO rows).
    // purge() reclaims bytes physically with every surviving row
    // bit-identical (require-pinned). A second delete lands after the
    // purge so the final state holds live tombstones the oracle's
    // NOT-IN must actually apply. Fully-charged lifecycle (the
    // q190/q196 class): bootstrap → ingest → delete → replay-no-op →
    // historical-read exclusion → re-crawl rejection → purge →
    // delete again → serve. TombstoneSpec pins the crash window and
    // the rollback interplay.
    (s, d) => {
      val wh = s"${Catalog.root}/graft_corpus/q199"
      val docs = graft.tables.Tables.documents(s, d)
      val ci = graft.ops.CorpusIngest
      // the takedown lifecycle (bootstrap → ingest → deletes → purge)
      // runs ONCE per fixture input — the q192/q195 de-distortion
      // rule: deletes are deliberately irreversible (that is their
      // contract), so repeat passes charge the SERVING read, which is
      // what the oracle gates from the persisted state every pass.
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          ci.lastBatch(s, wh) < 2L) {
        ci.bootstrap(s, q168Crawl(docs.filter(col("doc_id") % 4 <= 1)), wh,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 3 =!= 0,
          dsirTarget = col("lang") === "en",
          selectPct = 50)
        require(ci.ingest(s,
          q168Crawl(docs.filter(col("doc_id") % 4 === 2)), wh, 1L),
          "batch 1 must land")
        // victims come FROM the warehouse (packed docs only)
        def victims(m: Long) = ci.read(s, wh)
          .filter(col("doc_id") % 5 === m).select(col("doc_id"))
        val v1 = victims(1L)
        require(ci.delete(s, wh, v1) > 0, "the delete batch must land")
        require(ci.delete(s, wh, v1) == 0L,
          "a replayed delete must be a 0-count no-op")
        require(ci.readAsOf(s, wh, 0L)
          .filter(col("doc_id") % 5 === 1).count() == 0L,
          "a takedown applies to historical snapshots too")
        // re-crawl rejection: the same crawl slice re-ingested under a
        // fresh id — every canonical URL is already seen, so nothing
        // (deleted content included) re-enters
        require(ci.ingest(s,
          q168Crawl(docs.filter(col("doc_id") % 4 === 2)), wh, 2L),
          "the re-crawl batch must fold")
        require(ci.read(s, wh)
          .filter(col("batch") === 2).count() == 0L,
          "a re-crawl of seen (incl. taken-down) URLs must land nothing")
        val beforePurge = ci.read(s, wh).orderBy(col("doc_id"))
          .collect().toSeq.map(_.toSeq)
        ci.purge(s, wh)
        require(s.read.parquet(s"$wh/corpus")
          .filter(col("doc_id") % 5 === 1).count() == 0L,
          "purge must reclaim tombstoned rows physically")
        require(ci.read(s, wh).orderBy(col("doc_id"))
          .collect().toSeq.map(_.toSeq) == beforePurge,
          "purge is physical only — every surviving row bit-identical")
        require(ci.delete(s, wh, victims(2L)) > 0,
          "the post-purge delete batch must land")
      }
      ci.read(s, wh)
        .select(col("doc_id"), col("source"), col("lang"),
          col("margin_micro"), col("lr_micro"), col("n_tokens"),
          col("tok_before"), col("start_seq"), col("end_seq"),
          col("batch").cast(LongType).as("batch"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""WITH m AS (SELECT del_epoch FROM read_parquet(
          '${Catalog.root}/graft_corpus/q199/delmeta/*.parquet')),
        tomb AS (SELECT DISTINCT t.doc_id FROM read_parquet(
            '${Catalog.root}/graft_corpus/q199/tombstones/*/*.parquet',
            hive_partitioning = true) t, m
          WHERE t.epoch <= m.del_epoch)
      SELECT doc_id, source, lang, margin_micro, lr_micro,
        n_tokens, tok_before, start_seq, end_seq,
        CAST(batch AS BIGINT) AS batch
      FROM read_parquet(
        '${Catalog.root}/graft_corpus/q199/corpus/*/*.parquet',
        hive_partitioning = true)
      WHERE doc_id NOT IN (SELECT doc_id FROM tomb)
      ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(q45EtlPipeline, q66SheetSource, q95CdcApply,
    q111ScopedMerge, q114DayMerge, q118Retention, q168IncrementalCorpus,
    q189IngestFunnel, q195CorpusAsof, q199CorpusDelete,
    q206LangidIngest)
}
