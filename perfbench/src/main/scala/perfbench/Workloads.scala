package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.etl.{Load, Pipeline}
import graft.ops.{AdcIngest, CorpusIngest, InvertedIndex, IvfPq, Pq, VectorOps}

/** One benchmark workload. `setup` builds the fixtures a cycle needs and
  * runs `setupReps` times (the last build is the one the cycles use);
  * `prepare` is the one-off warm-up after it; `cycle` is the measured
  * unit, made of [[Harness.op]] calls, and a run measures at least
  * `minCycles` of them; `finish` runs the checks that are too slow to
  * repeat, outside timing.
  */
trait Workload {
  def setupReps: Int
  def minCycles: Int
  def setup(h: Harness, rep: Int): Unit
  def prepare(h: Harness): Unit
  def cycle(h: Harness, i: Int): Unit
  def finish(h: Harness): Unit = ()
  /** (files, bytes on disk, input bytes) of the warehouse as the last
    * cycle left it; read after timing.
    */
  def disk(h: Harness): Option[(Long, Long, Long)] = None
}

object Workloads {
  val Names: Seq[String] = Seq("etl_daily", "warehouse")

  def apply(name: String): Workload = name match {
    case "etl_daily" => new EtlDaily
    case "warehouse" => new Warehouse
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  // ---- shared fixtures -------------------------------------------------

  def docsDf(h: Harness, ids: Seq[Long]): DataFrame = {
    val s = h.spark
    import s.implicits._
    Gen.docs(h.seed, ids).toDF("doc_id", "text", "lang", "source")
      .select("doc_id", "text")
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType, nullable = false)))

  def vecsDf(h: Harness, ids: Seq[Long]): DataFrame = {
    val rows = ids.map { id =>
      val (v, e, l) = Gen.vec(h.seed, id)
      org.apache.spark.sql.Row(v, e.toSeq, l)
    }
    h.spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, VecSchema)
  }

  /** The crawl schema `CorpusIngest` reads, over generated documents.
    * One doc in twenty re-uses an earlier URL, so the seen-set and
    * in-batch dedup stages have work.
    */
  def crawlDf(h: Harness, ids: Seq[Long]): DataFrame = {
    val s = h.spark
    import s.implicits._
    Gen.docs(h.seed, ids).map { case (id, text, lang, src) =>
      val url = if (id % 20 == 7) s"https://ex.org/p/${id / 40}" else s"https://ex.org/p/u$id"
      (id, src, lang, url,
        s"<html><head><title>t$id</title></head><body><p>$text</p></body></html>")
    }.toDF("doc_id", "source", "lang", "canon_url", "html")
  }

  def range(from: Long, until: Long): Seq[Long] = (from until until).toSeq
}

// ---------------------------------------------------------------------
// etl_daily: Pipeline.run for consecutive target days
// ---------------------------------------------------------------------

final class EtlDaily extends Workload {
  private var sheets: Gen.Sheets = _
  private var root: String = _
  private var day = 0

  private def runDay(h: Harness, d: Int): Unit = {
    val got = Pipeline.run(h.spark,
      sheets.etlPaths(s"$root/warehouse", s"$root/quarantine"),
      Gen.FirstDay.plusDays(d))
    h.check(got == sheets.expected(d),
      s"etl day $d: got $got, planted ${sheets.expected(d)}")
  }

  /** Rows of one table's day partition, through the engine's reader. */
  private def dayRows(h: Harness, table: String, d: Int): Long =
    Load.readTable(h.spark, s"$root/warehouse/$table").get
      .filter(col("day") === Gen.FirstDay.plusDays(d).toString).count()

  /** Reads back day `d`'s enrolment and payment partitions, which must
    * hold the planted counts.
    */
  private def readBack(h: Harness, d: Int): Unit = {
    val (m, p) = h.read("etl.readback", "etl.Load")(
      (dayRows(h, "matriculas", d), dayRows(h, "pagos", d)))
    val want = sheets.expected(d)
    h.check(m == want.matriculas && p == want.pagos,
      s"etl day $d read back ($m, $p) rows, planted (${want.matriculas}, ${want.pagos})")
  }

  val setupReps = 3
  /** A day is one slow op: two per run halve the variance of one. */
  val minCycles = 2

  /** The fixture: the four sheets, written afresh. */
  def setup(h: Harness, rep: Int): Unit = {
    root = h.dir("etl", s"r$rep")
    sheets = Gen.writeSheets(h.work.resolve("etl").resolve(s"r$rep").resolve("sheets"),
      h.seed, Gen.DailyShape)
  }

  /** Day 0 loads an empty warehouse (the upsert bootstrap of the master
    * tables), so every measured day is incremental.
    */
  def prepare(h: Harness): Unit = {
    runDay(h, 0)
    day = 1
  }

  def cycle(h: Harness, i: Int): Unit = {
    if (day >= sheets.expected.size) {
      setup(h, 100 + i)
      prepare(h)
    }
    val d = day
    // the previous day is read back again before this day's run, so the
    // read's samples lie apart in time and its median rejects a stall
    readBack(h, d - 1)
    h.op("etl.day", "etl.Pipeline")(runDay(h, d))
    readBack(h, d)
    day += 1
  }
}


// ---------------------------------------------------------------------
// warehouse: lifecycle verbs and serving reads on one warehouse
// ---------------------------------------------------------------------

object Warehouse {
  /** Documents in the stored table, as in sf0.1; the text index starts
    * from the first `BaseDocs` and each cycle adds the next `DocBatch`.
    */
  val StoredDocs: Long = Gen.SfDocs.toLong
  val BaseDocs = 2000L
  val DocBatch = 100L
  val BaseVecs = 1000L
  val VecBatch = 100L
  /** Vectors in the stored table, as in sf0.1: every id a run can
    * append.
    */
  val StoredVecs = 2000L
  val CorpusBoot = 300L
  val CorpusBatch = 60L
  val K = 10
  val Probes = 3
  val TopC = 24
  /** Read-only catalog queries over the generated documents and
    * embeddings; each cycle runs all of them, twice, in a seeded order.
    */
  val CatalogQueries: Seq[String] = Seq("q144_bm25_rank", "q34_ann_topk")
}

/** One warehouse (inverted index, ADC vector index, corpus) under a
  * steady write load: every cycle adds a batch to each store and deletes
  * as many live items as it added, and between those writes serves one
  * text search three times, one vector nearest-neighbour read once before
  * and twice after the tiered compaction (which must not change it), and
  * two passes over the catalog queries.
  */
final class Warehouse extends Workload {
  import Warehouse._
  import Workloads._

  private var root: Path = _
  private def idx = root.resolve("idx").toString
  private def adc = root.resolve("adc").toString
  private def corpus = root.resolve("corpus").toString
  private var liveDocs = Vector.empty[Long]
  private var liveVecs = Vector.empty[Long]
  private var nextDoc = 0L
  private var nextVec = 0L
  private var batch = 0L
  private val checksums = scala.collection.mutable.HashMap.empty[String, String]

  override def disk(h: Harness): Option[(Long, Long, Long)] = {
    val inputBytes = Gen.docs(h.seed, liveDocs).map(_._2.getBytes("UTF-8").length.toLong).sum +
      liveVecs.size.toLong * Gen.Dim * 4
    val (files, bytes) = Harness.diskUsage(root.resolve("idx"))
    val (vf, vb) = Harness.diskUsage(root.resolve("adc"))
    Some((files + vf, bytes + vb, inputBytes))
  }

  val setupReps = 3
  val minCycles = 1

  private def norm(a: org.apache.spark.sql.Column) =
    sqrt(graft.functions.VectorExpressions.vecDot(a, a))

  /** The fixture: the documents and embeddings tables, written afresh. */
  def setup(h: Harness, rep: Int): Unit = {
    val s = h.spark
    import s.implicits._
    root = h.work.resolve("warehouse").resolve(s"r$rep")
    Gen.docs(h.seed, range(0, StoredDocs)).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast(LongType))
      .write.parquet(s"$tablesDir/documents.parquet")
    vecsDf(h, range(0, StoredVecs)).write.parquet(s"$tablesDir/embeddings.parquet")
  }

  private def tablesDir = root.resolve("tables").toString

  /** Runs a catalog query and forces it with a checksum over every row:
    * the row count and the sum of the full-row `xxhash64`s (as a decimal,
    * which cannot overflow).
    */
  private def catalog(h: Harness, name: String): String = {
    val df = graft.SparkEntry.queries(name)(h.spark, tablesDir)
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toIndexedSeq.map(col): _*)
      .cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** The warm-up: the three stores bootstrapped, then one batch into
    * the vector store (so each cycle's batch lands next to an
    * equal-sized generation, a pair the tiered compaction merges), with
    * a replay of it refused; and one pass over the catalog queries,
    * recording each checksum.
    */
  def prepare(h: Harness): Unit = {
    val s = h.spark
    InvertedIndex.build(s, docsDf(h, range(0, BaseDocs)), idx)
    AdcIngest.bootstrap(s, vecsDf(h, range(0, BaseVecs)), adc, k = 16, m = 8, ks = 16,
      meta = Seq("label"))
    CorpusIngest.bootstrap(s, crawlDf(h, range(0, CorpusBoot)), corpus,
      nbLabel = col("lang") === "en", nbSplit = lit(true),
      dsirTarget = col("lang") === "en", selectPct = 50, bpeMerges = 2, dsirFast = true)
    liveDocs = range(0, BaseDocs).toVector
    liveVecs = range(0, BaseVecs + VecBatch).toVector
    val vecs = vecsDf(h, range(BaseVecs, BaseVecs + VecBatch))
    h.check(AdcIngest.append(s, vecs, adc, 1L, meta = Seq("label")), "vector batch 1 did not land")
    h.check(!AdcIngest.append(s, vecs, adc, 1L, meta = Seq("label")), "vector replay landed")
    nextDoc = BaseDocs
    nextVec = BaseVecs + VecBatch
    batch = 0L
    checksums.clear()
    CatalogQueries.foreach(q => checksums(q) = catalog(h, q))
  }

  /** The q201 serving path: probe-route, LUT ADC top-C over the index,
    * exact rerank against the stored vectors.
    */
  private def ann(h: Harness, qid: Long): DataFrame = {
    val s = h.spark
    import s.implicits._
    val e = graft.tables.Tables.embeddings(s, tablesDir)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val cdf = VectorOps.loadCentroids(s, s"$adc/centroids").toSeq
      .toDF("cluster_id", "ce")
      .withColumn("cluster_id", col("cluster_id").cast(LongType))
      .withColumn("cn", norm(col("ce")))
    val cb = Pq.collectCodebook(Load.readTable(s, s"$adc/codebooks").get)
    val q = vecsDf(h, Seq(qid)).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val pl = Pq.probeLuts(IvfPq.probeRoute(q, cdf, nprobe = Probes), cdf, cb)
    IvfPq.rerank(Pq.adcSearch(AdcIngest.index(s, adc), pl, topC = TopC), e, topK = K)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  def cycle(h: Harness, i: Int): Unit = {
    val s = h.spark
    import s.implicits._
    val r = Gen.rng(h.seed, 10, i)
    val docVictims = Gen.sample(r, liveDocs, DocBatch.toInt)
    val vecVictims = Gen.sample(r, liveVecs, VecBatch.toInt)
    val terms = Gen.queryTerms(r)
    val qid = 9000000L + r.nextInt(1000)
    val catalogOrder = Gen.shuffle(r, CatalogQueries.toIndexedSeq)

    // Each read runs three times (the catalog pass twice), spread over the
    // cycle between writes that leave its answer unchanged: every repeat
    // must return the first answer, and a stall that hits one sample does
    // not move the read's median.
    var searched = Seq.empty[String]
    def search(): Unit = {
      val got = h.read("serve.search", "bench")(h.rows(InvertedIndex.search(s, idx, terms, K)))
      if (searched.isEmpty) searched = got
      h.check(got.nonEmpty && got == searched,
        s"cycle $i: search $terms returned nothing, or other rows when repeated")
    }
    var nearestRows = Seq.empty[String]
    def nearest(): Unit = {
      val got = h.read("serve.ann", "bench")(h.rows(ann(h, qid)))
      if (nearestRows.isEmpty) nearestRows = got
      h.check(got.nonEmpty && got == nearestRows,
        s"cycle $i: nearest neighbours of $qid returned nothing, or differ across compaction")
    }
    def catalogPass(): Unit = catalogOrder.foreach { q =>
      val got = h.read(s"catalog.$q", "bench", group = "catalog.query")(catalog(h, q))
      h.check(got == checksums(q), s"cycle $i: $q checksum $got, warm-up ${checksums(q)}")
    }

    // one batch into each store under the next batch id, and as many deletes
    batch += 1
    val docs = range(nextDoc, nextDoc + DocBatch)
    val vecs = range(nextVec, nextVec + VecBatch)
    val crawl = crawlDf(h, range(2000000L + batch * CorpusBatch, 2000000L + (batch + 1) * CorpusBatch))
    nextDoc += DocBatch
    nextVec += VecBatch
    liveDocs = (liveDocs ++ docs).filterNot(docVictims.toSet)
    liveVecs = (liveVecs ++ vecs).filterNot(vecVictims.toSet)
    val text = docsDf(h, docs)
    h.check(h.op("invidx.addBatch", "ops.InvertedIndex")(
      InvertedIndex.addBatch(s, text, idx, batch)),
      s"cycle $i: text batch $batch did not land")
    // the vector store took one warm-up batch: its ids run one ahead
    h.check(h.op("adc.append", "ops.AdcIngest")(
      AdcIngest.append(s, vecsDf(h, vecs), adc, batch + 1, meta = Seq("label"))),
      s"cycle $i: vector batch ${batch + 1} did not land")
    val nd = h.op("invidx.delete", "ops.InvertedIndex")(
      InvertedIndex.delete(s, idx, docVictims.toDF("doc_id")))
    h.check(nd == docVictims.size, s"cycle $i: deleted $nd docs, planted ${docVictims.size}")
    search()
    h.check(h.op("corpus.ingest", "ops.CorpusIngest")(
      CorpusIngest.ingest(s, crawl, corpus, batch)),
      s"cycle $i: corpus batch $batch did not land")
    if (i == 0) {
      // replays are refused without touching the warehouse
      h.check(!InvertedIndex.addBatch(s, text, idx, batch), "text replay landed")
      h.check(!CorpusIngest.ingest(s, crawl, corpus, batch), "corpus replay landed")
    }
    search()
    val nv = h.op("adc.delete", "ops.AdcIngest")(
      AdcIngest.delete(s, adc, vecVictims.toDF("vec_id")))
    h.check(nv == vecVictims.size, s"cycle $i: deleted $nv vectors, planted ${vecVictims.size}")
    nearest()
    catalogPass()
    search()
    // the tiered compaction must not change the nearest neighbours
    h.op("adc.tieredCompact", "ops.SegmentCompaction")(
      AdcIngest.tieredCompact(s, adc, minMerge = 2))
    nearest()
    catalogPass()
    nearest()
  }

  /** The q197 contract, once: serving the mutated index equals serving
    * an index rebuilt from the live documents alone.
    */
  override def finish(h: Harness): Unit = {
    val rebuilt = root.resolve("rebuilt").toString
    InvertedIndex.build(h.spark, docsDf(h, liveDocs), rebuilt)
    val r = Gen.rng(h.seed, 11)
    val q = Gen.queryTerms(r)
    val a = h.rows(InvertedIndex.search(h.spark, idx, q, K))
    val b = h.rows(InvertedIndex.search(h.spark, rebuilt, q, K))
    h.check(a.nonEmpty && a == b, s"search $q on the mutated index differs from a rebuild")
  }
}
