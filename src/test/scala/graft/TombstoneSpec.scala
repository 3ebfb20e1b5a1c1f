package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Load
import graft.ops.{AdcIngest, CorpusIngest, InvertedIndex, SegmentCompaction, WarehouseStats}

/** Tombstone deletes (InvertedIndex.delete / AdcIngest.delete) — the
  * takedown/opt-out lever of the warehouse-index family: logical
  * deletion through epoch generations, the served-equals-rebuilt
  * equivalence across EVERY search path, exactly-once replays, the
  * crash window between the tombstone write and the commit row,
  * physical purge on compaction, and the rollback interplay
  * (tombstones survive — rollback rewinds the ingest stream, not the
  * delete requests).
  */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private def docs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit("w"), pmod(hash(col("id") * 29 + j), lit(500)))): _*)
        .as("text"))

  private def vecs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), j =>
        (pmod(hash(col("id") * 13 + j), lit(1000)).cast(DoubleType) / 100.0)
          .cast(FloatType)).as("embedding"))

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/w"

  private def hadoopFs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def idsDf(ids: Seq[Long]) = ids.toDF("doc_id")

  private def searchRows(dir: String): Seq[Seq[Any]] =
    InvertedIndex.search(spark, dir, Seq("w17", "w42", "w133"), 50)
      .collect().toSeq.map(_.toSeq)

  private def corpusRow(dir: String): Seq[Any] =
    Load.readTable(spark, s"$dir/corpus").get
      .select("n_docs", "sum_dl", "del_epoch").head().toSeq

  // ---- inverted index ----

  test("invidx delete: every search path bit-equal to an index " +
      "rebuilt without the deleted docs") {
    val dir = tmp("tomb_ix")
    val rebuilt = tmp("tomb_ix_rebuild")
    val victims = Seq(5L, 17L, 310L, 365L)
    InvertedIndex.build(spark, docs(0, 300), dir)
    InvertedIndex.addBatch(spark, docs(300, 360), dir, 1L)
    InvertedIndex.addBatch(spark, docs(360, 420), dir, 2L)
    val before = searchRows(dir)
    assert(InvertedIndex.delete(spark, dir, idsDf(victims)) == 4L)
    assert(searchRows(dir) != before, "delete must change what serves")
    // ground truth: a from-scratch index on the live docs only
    InvertedIndex.build(spark,
      docs(0, 420).filter(!col("doc_id").isin(victims: _*)), rebuilt)
    // globals (incl. avgdl inputs) identical
    assert(Load.readTable(spark, s"$dir/corpus").get
        .select("n_docs", "sum_dl").head().toSeq ==
      Load.readTable(spark, s"$rebuilt/corpus").get
        .select("n_docs", "sum_dl").head().toSeq)
    // plain BM25
    assert(searchRows(dir) == searchRows(rebuilt))
    // MaxScore-pruned path (stats/θ/df all from live rows)
    def ms(d: String) = InvertedIndex
      .maxScoreSearch(spark, d, Seq("w17", "w42", "w133"), 20)
      .collect().toSeq.map(_.toSeq)
    assert(ms(dir) == ms(rebuilt))
    // batched path
    val q = Seq((1L, "w17"), (1L, "w42"), (2L, "w133"), (2L, "w42"))
      .toDF("query_id", "term")
    def sb(d: String) = InvertedIndex.searchBatch(spark, d, q, 10)
      .collect().toSeq.map(_.toSeq)
    assert(sb(dir) == sb(rebuilt))
    // positional paths — phrase taken from a LIVE doc so non-vacuous
    val w = docs(6, 7).select(split(col("text"), " ")).head()
      .getSeq[String](0)
    def ph(d: String) = InvertedIndex
      .phraseSearch(spark, d, Seq(w(0), w(1))).collect().toSeq.map(_.toSeq)
    assert(ph(dir).nonEmpty && ph(dir) == ph(rebuilt))
    def px(d: String) = InvertedIndex
      .proximitySearch(spark, d, Seq(w(0), w(1), "w42"), 20)
      .collect().toSeq.map(_.toSeq)
    assert(px(dir) == px(rebuilt))
    // a deleted doc's phrase finds nothing
    val vw = docs(5, 6).select(split(col("text"), " ")).head()
      .getSeq[String](0)
    assert(!InvertedIndex.phraseSearch(spark, dir, Seq(vw(0), vw(1)))
      .collect().map(_.getLong(0)).contains(5L))
  }

  test("invidx delete: exactly-once — replay and unknown ids are " +
      "0-count no-ops that do not advance the epoch") {
    val dir = tmp("tomb_ix_once")
    InvertedIndex.build(spark, docs(0, 200), dir)
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(3L, 9L))) == 2L)
    val c1 = corpusRow(dir)
    assert(c1(2) == 1L)
    // replayed ids: nothing new
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(3L, 9L))) == 0L)
    // unknown ids: validated against the docs/ sidecar, count zero
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(9999L))) == 0L)
    assert(corpusRow(dir) == c1, "no-op deletes must not move the row")
    // mixed: only the genuinely new id counts, globals move once
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(3L, 4L))) == 1L)
    assert(corpusRow(dir)(2) == 2L)
  }

  test("invidx delete writes each epoch to its OWN dir — prior epochs' " +
      "files byte-untouched, no overwrite of the tombstones root") {
    val dir = tmp("tomb_ix_epochdir")
    InvertedIndex.build(spark, docs(0, 200), dir)
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(3L, 9L))) == 2L)
    val stamps1 = graft.ops.SegmentCompaction.fileStamps(
      spark, s"$dir/tombstones/epoch=1")
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(4L))) == 1L)
    // epoch 1's files are bit-for-bit the ones the first delete wrote:
    // a root overwrite (the old dynamic-overwrite path) would have
    // rewritten or — with the dynamic option lost — wiped them
    assert(graft.ops.SegmentCompaction.fileStamps(
      spark, s"$dir/tombstones/epoch=1") == stamps1,
      "a later delete must never rewrite a prior epoch's files")
    val fs = hadoopFs(dir)
    assert(fs.exists(new Path(s"$dir/tombstones/epoch=2")))
    assert(searchRows(dir) ==
      { val r = tmp("tomb_ix_epochdir_rb")
        InvertedIndex.build(spark,
          docs(0, 200).filter(!col("doc_id").isin(3L, 9L, 4L)), r)
        searchRows(r) },
      "served results must equal a rebuild without all deleted docs")
  }

  test("invidx delete crash window: a half-landed epoch is inert and " +
      "heals on the next delete") {
    val dir = tmp("tomb_ix_crash")
    InvertedIndex.build(spark, docs(0, 200), dir)
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(3L))) == 1L)
    val served = searchRows(dir)
    val c1 = corpusRow(dir)
    // simulate a delete that crashed between the tombstone write and
    // the corpus-row commit: epoch=2 exists on disk, del_epoch says 1
    docs(10, 12).select(col("doc_id"), lit(10L).as("dl"))
      .write.parquet(s"$dir/tombstones/epoch=2")
    assert(searchRows(dir) == served,
      "an uncommitted epoch must never serve")
    assert(corpusRow(dir) == c1)
    // the next delete heals the remnant and lands its own epoch 2
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(5L))) == 1L)
    assert(corpusRow(dir)(2) == 2L)
    val t = spark.read.parquet(s"$dir/tombstones")
      .select(col("epoch").cast(LongType), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t == Set((1L, 3L), (2L, 5L)),
      "the crashed remnant (docs 10, 11) must be gone")
    // docs 10/11 still serve — they were never committed deletes
    assert(spark.read.parquet(s"$dir/docs").count() == 200L)
  }

  test("invidx compact purges tombstoned rows physically; search " +
      "identical across the purge") {
    val dir = tmp("tomb_ix_purge")
    val victims = Seq(5L, 150L, 210L)
    InvertedIndex.build(spark, docs(0, 200), dir)
    InvertedIndex.addBatch(spark, docs(200, 260), dir, 1L)
    assert(InvertedIndex.delete(spark, dir, idsDf(victims)) == 3L)
    val before = searchRows(dir)
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(victims: _*)).count() > 0,
      "victims physically present before the purge")
    InvertedIndex.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(victims: _*)).count() == 0L,
      "full compaction must purge tombstoned rows")
    assert(searchRows(dir) == before)
    // tombstones retained: the replayed delete is still a no-op
    assert(InvertedIndex.delete(spark, dir, idsDf(victims)) == 0L)
  }

  test("invidx tieredCompact purges only the merged tail; settled " +
      "generations keep bytes AND stay filtered") {
    val dir = tmp("tomb_ix_tier")
    InvertedIndex.build(spark, docs(0, 4000), dir)
    InvertedIndex.addBatch(spark, docs(4000, 4200), dir, 1L)
    InvertedIndex.addBatch(spark, docs(4200, 4400), dir, 2L)
    // one victim in the settled bootstrap, one in the mergeable tail
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(7L, 4100L))) == 2L)
    val before = searchRows(dir)
    val bootstrapStamps = graft.ops.SegmentCompaction
      .fileStamps(spark, s"$dir/postings/batch=0")
    assert(InvertedIndex.tieredCompact(spark, dir, ratio = 4.0) ==
      Seq(1L, 2L))
    assert(graft.ops.SegmentCompaction
      .fileStamps(spark, s"$dir/postings/batch=0") == bootstrapStamps,
      "settled tree untouched even while holding tombstoned rows")
    val remaining = spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(7L, 4100L))
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(remaining == Set(7L),
      "tail victim purged by the merge; settled victim still on disk")
    assert(searchRows(dir) == before,
      "both victims stay logically deleted either way")
  }

  test("invidx rollback with deletes: tombstones survive, globals " +
      "rebuilt over live docs, re-ingest restores the exact state") {
    val dir = tmp("tomb_ix_rb")
    InvertedIndex.build(spark, docs(0, 300), dir)
    InvertedIndex.addBatch(spark, docs(300, 360), dir, 1L)
    InvertedIndex.addBatch(spark, docs(360, 420), dir, 2L)
    // one victim per generation
    assert(InvertedIndex.delete(spark, dir,
      idsDf(Seq(5L, 310L, 365L))) == 3L)
    val before = searchRows(dir)
    val cBefore = corpusRow(dir)
    InvertedIndex.rollback(spark, dir, 1L)
    // rebuilt globals: docs 0..359 minus the two live tombstones
    // (358 docs × dl 10)
    assert(corpusRow(dir) == Seq(358L, 3580L, 1L))
    // the rolled-back generation's tombstone is inert but retained
    assert(spark.read.parquet(s"$dir/tombstones").count() == 3L)
    // re-ingest the rolled-back batch: bit-identical to never having
    // rolled back — the batch re-enters minus its tombstoned doc
    assert(InvertedIndex.addBatch(spark, docs(360, 420), dir, 2L))
    assert(searchRows(dir) == before)
    assert(corpusRow(dir) == cBefore)
  }

  test("booleanSearch gates exactly; deleteByQuery's match set is the " +
      "gate set and feeds the tombstone path") {
    val dir = tmp("tomb_bool")
    InvertedIndex.build(spark, docs(0, 400), dir)
    val w6 = docs(6, 7).select(split(col("text"), " ")).head()
      .getSeq[String](0)
    val w7 = docs(7, 8).select(split(col("text"), " ")).head()
      .getSeq[String](0)
    val (wa, wb) = (w6(0), w6(1))
    val wd = w7.find(x => !w6.contains(x)).get // MUST_NOT keeps doc 6
    val expected = docs(0, 400)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(array_contains(col("t"), wa) && array_contains(col("t"), wb)
        && !array_contains(col("t"), wd))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(expected.contains(6L), "fixture must keep doc 6")
    val got = InvertedIndex.booleanSearch(spark, dir,
      Seq(wa, wb), Seq("w42"), Seq(wd), 1000).collect().toSeq
    assert(got.map(_.getLong(0)).toSet == expected,
      "the boolean gate set must match brute force over the texts")
    // scores ≡ plain search over the score terms, restricted to the
    // gate set (SHOULD adds score, never filters)
    val full = InvertedIndex.search(spark, dir, Seq(wa, wb, "w42"), 100000)
      .collect().toSeq.map(_.toSeq)
      .filter(r => expected.contains(r.head.asInstanceOf[Long]))
    assert(got.map(_.toSeq) == full)
    // delete-by-query deletes exactly the gate set, exactly once
    assert(InvertedIndex.deleteByQuery(spark, dir, Seq(wa, wb), Seq(wd))
      == expected.size.toLong)
    assert(InvertedIndex.booleanSearch(spark, dir,
      Seq(wa, wb), Seq("w42"), Seq(wd), 1000).count() == 0L)
    assert(InvertedIndex.deleteByQuery(spark, dir, Seq(wa, wb), Seq(wd))
      == 0L)
  }

  test("invidx delete refuses an index that predates delete support") {
    val dir = tmp("tomb_ix_old")
    InvertedIndex.build(spark, docs(0, 100), dir)
    hadoopFs(dir).delete(new Path(s"$dir/docs"), true)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.delete(spark, dir, idsDf(Seq(1L)))
    }
    assert(e.getMessage.contains("predates delete support"))
  }

  test("streaming takedown maintainer: waves fold, replays no-op, a " +
      "FRESH checkpoint over the same request log is safe") {
    val src = Files.createTempDirectory("tomb_stream_src").toString
    val dir = tmp("tomb_stream_ix")
    val ckpt = Files.createTempDirectory("tomb_stream_ck").toString
    InvertedIndex.build(spark, docs(0, 200), dir)
    def wave(ids: Seq[Long]): Unit =
      ids.toDF("doc_id").coalesce(1).write.mode("append").parquet(src)
    def run(ck: String): Unit = graft.streaming.StreamingJobs
      .runDeleteStreamAvailableNow(spark, src, dir, ck, "invidx")
      .awaitTermination()
    wave(Seq(3L, 9L)); run(ckpt)
    assert(corpusRow(dir) == Seq(198L, 1980L, 1L))
    wave(Seq(9L, 15L)); run(ckpt) // 9 is a replayed request
    assert(corpusRow(dir) == Seq(197L, 1970L, 2L))
    // restart with nothing new: no epoch advances
    run(ckpt)
    assert(corpusRow(dir) == Seq(197L, 1970L, 2L))
    // deletes are content-idempotent, so a FRESH checkpoint replaying
    // the WHOLE request log is safe (unlike the append maintainers)
    run(Files.createTempDirectory("tomb_stream_ck2").toString)
    assert(corpusRow(dir) == Seq(197L, 1970L, 2L))
    val servedDocs = searchRows(dir).map(_.head.asInstanceOf[Long])
    assert(!servedDocs.exists(Set(3L, 9L, 15L)))
  }

  // ---- vector warehouse ----

  private def vidsDf(ids: Seq[Long]) = ids.toDF("vec_id")

  private def servedIds(dir: String): Set[Long] =
    AdcIngest.index(spark, dir).select(col("vec_id")).as[Long]
      .collect().toSet

  test("adc delete: served index excludes victims exactly; replay " +
      "and unknown ids count zero; readAsOf excludes too") {
    val dir = tmp("tomb_adc")
    AdcIngest.bootstrap(spark, vecs(0, 400), dir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(400, 500), dir, 1L)
    val before = AdcIngest.index(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.toSeq).toMap
    assert(AdcIngest.delete(spark, dir, vidsDf(Seq(3L, 450L))) == 2L)
    assert(servedIds(dir) == before.keySet -- Set(3L, 450L))
    // surviving rows byte-identical (codes/vn untouched by deletion)
    assert(AdcIngest.index(spark, dir).collect()
      .forall(r => before(r.getAs[Long]("vec_id")) == r.toSeq))
    // exactly-once + validation
    assert(AdcIngest.delete(spark, dir, vidsDf(Seq(3L))) == 0L)
    assert(AdcIngest.delete(spark, dir, vidsDf(Seq(99999L))) == 0L)
    // deletes are NOT time-traveled: the takedown applies to
    // historical reads as well
    assert(!AdcIngest.readAsOf(spark, dir, 0L).select(col("vec_id"))
      .as[Long].collect().toSet.contains(3L))
  }

  test("adc delete crash window heals; compact purges physically; " +
      "rollback + re-append keeps the tombstone applied") {
    val dir = tmp("tomb_adc_life")
    AdcIngest.bootstrap(spark, vecs(0, 400), dir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(400, 500), dir, 1L)
    assert(AdcIngest.delete(spark, dir, vidsDf(Seq(7L, 410L))) == 2L)
    val served = servedIds(dir)
    // half-landed epoch above the committed mark: inert, then healed
    Seq(20L, 21L).toDF("vec_id")
      .write.parquet(s"$dir/tombstones/epoch=2")
    assert(servedIds(dir) == served)
    assert(AdcIngest.delete(spark, dir, vidsDf(Seq(30L))) == 1L)
    assert(servedIds(dir) == served - 30L)
    assert(spark.read.parquet(s"$dir/tombstones")
      .select(col("vec_id")).as[Long].collect().toSet ==
      Set(7L, 410L, 30L), "the crashed remnant (20, 21) must be gone")
    // physical purge on full compaction, serving unchanged
    val beforeCompact = servedIds(dir)
    AdcIngest.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/index")
      .filter(col("vec_id").isin(7L, 410L, 30L)).count() == 0L)
    assert(servedIds(dir) == beforeCompact)
    // rollback rewinds the ingest stream, not the deletes — but a
    // cut into the compacted tree is refused, so exercise rollback on
    // a fresh two-generation warehouse instead
    val dir2 = tmp("tomb_adc_rb")
    AdcIngest.bootstrap(spark, vecs(0, 400), dir2, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(400, 500), dir2, 1L)
    assert(AdcIngest.delete(spark, dir2, vidsDf(Seq(7L, 410L))) == 2L)
    val want = servedIds(dir2)
    AdcIngest.rollback(spark, dir2, 0L)
    assert(!servedIds(dir2).contains(7L),
      "surviving generation's tombstone still applies after rollback")
    assert(AdcIngest.append(spark, vecs(400, 500), dir2, 1L))
    assert(servedIds(dir2) == want,
      "re-append after rollback restores the exact served set")
  }

  // ---- packed corpus ----

  private val Good = "alpha beta gamma delta epsilon"
  private val Bad = "zork xult yarp qwop"

  private def crawl(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "source", "key")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 100 === 99, lit("xx")).otherwise(lit("en"))
          .as("lang"),
        concat(lit("https://ex.com/"), col("key")).as("canon_url"),
        concat(lit("<html><body><p>"),
          when(col("doc_id") % 100 === 99, lit(Bad)).otherwise(lit(Good)),
          lit("</p></body></html>")).as("html"))

  private def bootCorpus(dir: String): Unit = {
    // docs 99/199 are the NB negative class (gate-rejected); the rest
    // pack — lang drives both the label and the text
    CorpusIngest.bootstrap(spark,
      crawl(Seq((0L, "A", "a0"), (1L, "A", "a1"), (2L, "B", "b2"),
        (3L, "B", "b3"), (99L, "A", "a99"))), dir,
      nbLabel = col("lang") === "en", nbSplit = lit(true),
      dsirTarget = col("lang") === "en", selectPct = 100)
    assert(CorpusIngest.ingest(spark,
      crawl(Seq((10L, "A", "a10"), (11L, "B", "b11"))), dir, 1L))
  }

  private def corpusIds(dir: String): Set[Long] =
    CorpusIngest.read(spark, dir).select(col("doc_id")).as[Long]
      .collect().toSet

  test("corpus delete: read/readAsOf exclude victims, offsets keep " +
      "their holes, URL stays seen, purge is physical-only") {
    val dir = tmp("tomb_corpus")
    bootCorpus(dir)
    assert(corpusIds(dir) == Set(0L, 1L, 2L, 3L, 10L, 11L))
    val rowsBefore = CorpusIngest.read(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(1L, 10L))) == 2L)
    assert(corpusIds(dir) == Set(0L, 2L, 3L, 11L))
    // survivors byte-identical: the token stream keeps its holes, no
    // repack (doc 11 still starts where the deleted 10 ended)
    assert(CorpusIngest.read(spark, dir).collect()
      .forall(r => rowsBefore(r.getAs[Long]("doc_id")) == r.toSeq))
    // historical snapshots excluded too
    assert(!CorpusIngest.readAsOf(spark, dir, 0L)
      .select(col("doc_id")).as[Long].collect().contains(1L))
    // exactly-once + validation
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(1L))) == 0L)
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(999L))) == 0L)
    // the deleted doc's URL stays seen: a re-crawl of the same
    // canonical URL (fresh doc_id) lands nothing
    assert(CorpusIngest.ingest(spark,
      crawl(Seq((20L, "A", "a10"))), dir, 2L))
    assert(corpusIds(dir) == Set(0L, 2L, 3L, 11L),
      "taken-down content must not re-enter through a re-crawl")
    // physical purge: bytes reclaimed, serving bit-identical
    val served = CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq)
    CorpusIngest.purge(spark, dir)
    assert(spark.read.parquet(s"$dir/corpus")
      .filter(col("doc_id").isin(1L, 10L)).count() == 0L)
    assert(CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq) == served)
    // tombstones retained: replays still no-ops after the purge
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(1L, 10L))) == 0L)
  }

  test("corpus purge is generation-scoped and retainable: untouched " +
      "generations stay byte-identical; a retained purge serves both " +
      "views and publishes at vacuum") {
    val dir = tmp("tomb_corpus_ret")
    bootCorpus(dir) // gen 0 = docs {0,1,2,3}, gen 1 = docs {10,11}
    // debt concentrated in generation 1
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(10L))) == 1L)
    val served = CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq)
    val reader = CorpusIngest.read(spark, dir) // pinned pre-purge
    val gen0 = SegmentCompaction.fileStamps(spark, s"$dir/corpus/batch=0")
    // retained: ONLY generation 1 commits (hidden); both gens serve on
    assert(CorpusIngest.purge(spark, dir,
      retainMs = 24L * 3600 * 1000) == Seq(1L))
    assert(SegmentCompaction.pendings(spark, s"$dir/corpus")
      .map(_.ids) == Seq(Seq(1L)))
    assert(SegmentCompaction.fileStamps(spark, s"$dir/corpus/batch=0")
      == gen0)
    assert(reader.orderBy(col("doc_id")).collect().toSeq.map(_.toSeq)
      == served)
    // vacuum publishes: bytes reclaimed, gen 0 still byte-identical,
    // serving unchanged (pure physical filter)
    assert(CorpusIngest.vacuum(spark, dir) == Seq(1L))
    assert(SegmentCompaction.fileStamps(spark, s"$dir/corpus/batch=0")
      == gen0)
    assert(spark.read.parquet(s"$dir/corpus")
      .filter(col("doc_id") === 10L).count() == 0L)
    assert(CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq) == served)
    // immediate-mode purge is generation-scoped too: deleting a gen-0
    // doc rewrites only gen 0 (gen 1's files stay byte-identical)
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(0L))) == 1L)
    val gen1 = SegmentCompaction.fileStamps(spark, s"$dir/corpus/batch=1")
    assert(CorpusIngest.purge(spark, dir) == Seq(0L))
    assert(SegmentCompaction.fileStamps(spark, s"$dir/corpus/batch=1")
      == gen1)
    assert(spark.read.parquet(s"$dir/corpus")
      .filter(col("doc_id") === 0L).count() == 0L)
  }

  test("warehouse stats: exact integers, purge backlog drains, the " +
      "tiered policy signal matches mergeSet") {
    // corpus kind over the planted fixture (closed-form numbers)
    val cd = tmp("stats_corpus")
    bootCorpus(cd)
    assert(CorpusIngest.delete(spark, cd, idsDf(Seq(1L, 10L))) == 2L)
    def statRow(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.head().toSeq
    // fence_token counts the mutations so far (bootstrap, ingest,
    // delete = 3); lease_held must be 0 — no mutator leaks its lease
    assert(statRow(WarehouseStats.corpus(spark, cd)) ==
      Seq("corpus", 1L, 1L, 2L, 6L, 2L, 2L, 0L, 3L, 0L, 0L, 0L))
    CorpusIngest.purge(spark, cd)
    assert(statRow(WarehouseStats.corpus(spark, cd)) ==
      Seq("corpus", 1L, 1L, 2L, 4L, 2L, 0L, 0L, 4L, 0L, 0L, 0L),
      "purge must drain the backlog; the ledger stays")
    // invidx kind: generations/tombstones/merge signal
    val ix = tmp("stats_ix")
    InvertedIndex.build(spark, docs(0, 4000), ix)
    InvertedIndex.addBatch(spark, docs(4000, 4200), ix, 1L)
    InvertedIndex.addBatch(spark, docs(4200, 4400), ix, 2L)
    assert(InvertedIndex.delete(spark, ix, idsDf(Seq(5L, 4100L))) == 2L)
    val r = WarehouseStats.invidx(spark, ix).head()
    assert(r.getAs[String]("kind") == "invidx" &&
      r.getAs[Long]("generations") == 3L &&
      r.getAs[Long]("tombstoned_docs") == 2L &&
      r.getAs[Long]("merge_candidates") == 2L)
    assert(r.getAs[Long]("purge_backlog_rows") > 0L)
    // the merge fires, the signal clears, backlog shrinks by exactly
    // the merged tail's tombstoned rows
    assert(InvertedIndex.tieredCompact(spark, ix, ratio = 4.0) ==
      Seq(1L, 2L))
    val r2 = WarehouseStats.invidx(spark, ix).head()
    assert(r2.getAs[Long]("generations") == 2L &&
      r2.getAs[Long]("merge_candidates") == 0L &&
      r2.getAs[Long]("tombstoned_docs") == 2L)
    assert(r2.getAs[Long]("purge_backlog_rows") <
      r.getAs[Long]("purge_backlog_rows"),
      "the merged tail's tombstoned rows must leave the backlog")
  }

  test("purgeDebt: only indebted generations rewrite (others " +
      "byte-identical), backlog drains, search identical, crash heals") {
    val dir = tmp("tomb_debt")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 900), dir, 1L)
    // delete 60% of generation 1's docs — debt concentrated there
    assert(InvertedIndex.delete(spark, dir,
      idsDf((800L until 860L))) == 60L)
    val served = searchRows(dir)
    val gen0 = graft.ops.SegmentCompaction.fileStamps(
      spark, s"$dir/postings/batch=0")
    assert(InvertedIndex.purgeDebt(spark, dir, tau = 0.5) == Seq(1L),
      "only the indebted generation purges")
    assert(graft.ops.SegmentCompaction.fileStamps(
      spark, s"$dir/postings/batch=0") == gen0,
      "a below-threshold generation must never be opened or rewritten")
    assert(searchRows(dir) == served, "purge is a pure physical filter")
    // gen1's dead rows are physically gone; backlog fully drains
    // (the deletes were gen1-only)
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("batch") === 1)
      .join(idsDf((800L until 860L)), Seq("doc_id"), "left_semi")
      .count() == 0L)
    assert(WarehouseStats.invidx(spark, dir).head()
      .getAs[Long]("purge_backlog_rows") == 0L)
    // replays stay no-ops; re-running the purge is a no-op too
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(800L))) == 0L)
    assert(InvertedIndex.purgeDebt(spark, dir, tau = 0.5).isEmpty)
    // crash window: a purge dying inside its commit leaves the
    // generation only in the aside dir; it heals on the next entry
    crashMidCommit(s"$dir/postings", Seq(1L))
    assert(searchRows(dir) == served,
      "a crashed generation commit must heal before serving")
    assert(!hadoopFs(dir).exists(new Path(s"$dir/postings.__tiered_old")))
    // the vector twin: same contract
    val vdir = tmp("tomb_debt_adc")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 340), vdir, 1L)
    assert(AdcIngest.delete(spark, vdir,
      (300L until 325L).toDF("vec_id")) == 25L)
    val vgen0 = graft.ops.SegmentCompaction.fileStamps(
      spark, s"$vdir/index/batch=0")
    assert(AdcIngest.purgeDebt(spark, vdir, tau = 0.5) == Seq(1L))
    assert(graft.ops.SegmentCompaction.fileStamps(
      spark, s"$vdir/index/batch=0") == vgen0)
    assert(spark.read.parquet(s"$vdir/index")
      .filter(col("batch") === 1).count() == 15L,
      "generation 1 holds exactly its live rows after the purge")
    assert(AdcIngest.index(spark, vdir).count() == 315L)
  }

  test("corpus purge crash window: a mid-swap crash heals on every " +
      "entry point — reads serve the full tree, ingest loses nothing") {
    val dir = tmp("tomb_corpus_swap")
    bootCorpus(dir)
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(1L, 10L))) == 2L)
    val view = CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq)
    // simulate purge dying inside its commit of generation 0: the
    // generation sits only in corpus.__tiered_old
    def crash(): Unit = crashMidCommit(s"$dir/corpus", Seq(0L))
    crash()
    assert(CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq) == view,
      "read must heal the crashed commit and serve the full tree")
    // the write path: ingest after the same crash state must heal
    // FIRST — landing its batch beside a tree missing generation 0
    // would lose it once the aside dir is discarded
    crash()
    assert(CorpusIngest.ingest(spark,
      crawl(Seq((30L, "A", "a30"))), dir, 2L))
    assert(corpusIds(dir) == Set(0L, 2L, 3L, 11L, 30L),
      "no generation may be lost across the crash-then-ingest window")
  }

  test("corpus delete crash window heals; rollback keeps tombstones " +
      "and hole-aware state, re-ingest restores the exact view") {
    val dir = tmp("tomb_corpus_rb")
    bootCorpus(dir)
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(1L, 10L))) == 2L)
    // half-landed epoch above the committed mark: inert, healed next
    Seq((2L, 0L)).toDF("doc_id", "pad").select(col("doc_id"))
      .write.parquet(s"$dir/tombstones/epoch=2")
    assert(corpusIds(dir) == Set(0L, 2L, 3L, 11L),
      "an uncommitted epoch must never serve")
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(3L))) == 1L)
    assert(spark.read.parquet(s"$dir/tombstones")
      .select(col("doc_id")).as[Long].collect().toSet ==
      Set(1L, 10L, 3L), "the crashed remnant (doc 2) must be gone")
    val view = CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq)
    val stateBefore = Load.readTable(spark, s"$dir/state").get
      .orderBy(col("source")).collect().toSeq.map(_.toSeq)
    // rollback rewinds the ingest stream; tombstones survive, and the
    // state rebuild counts tombstoned rows' tokens (their packed
    // slots exist whether served or not)
    CorpusIngest.rollback(spark, dir, 0L)
    assert(corpusIds(dir) == Set(0L, 2L))
    assert(CorpusIngest.ingest(spark,
      crawl(Seq((10L, "A", "a10"), (11L, "B", "b11"))), dir, 1L))
    assert(CorpusIngest.read(spark, dir).orderBy(col("doc_id"))
      .collect().toSeq.map(_.toSeq) == view,
      "re-ingest after rollback must restore the exact served view")
    assert(Load.readTable(spark, s"$dir/state").get
      .orderBy(col("source")).collect().toSeq.map(_.toSeq) == stateBefore,
      "hole-aware hwm: state identical to never having rolled back")
  }

  test("corpus rollback discards a retained purge: no purged copy of a " +
      "cut generation comes back on the next read or re-ingest") {
    val dir = tmp("tomb_corpus_rb_ret")
    bootCorpus(dir) // gen 0 = docs {0,1,2,3}, gen 1 = docs {10,11}
    assert(CorpusIngest.delete(spark, dir, idsDf(Seq(10L))) == 1L)
    // the retained purge parks a hidden rewrite of generation 1
    assert(CorpusIngest.purge(spark, dir,
      retainMs = 24L * 3600 * 1000) == Seq(1L))
    CorpusIngest.rollback(spark, dir, 0L)
    assert(corpusIds(dir) == Set(0L, 1L, 2L, 3L))
    val names = hadoopFs(dir).listStatus(new Path(s"$dir/corpus"))
      .map(_.getPath.getName).toSeq
    assert(!names.exists(_.startsWith(".merged-")),
      s"the rolled-back generation's pending purge must be discarded: $names")
    val last = CorpusIngest.lastBatch(spark, dir)
    assert(names.filter(_.startsWith("batch="))
      .forall(_.stripPrefix("batch=").toLong <= last),
      s"no generation above last_batch $last may remain: $names")
    // a re-ingest of the cut id whose fresh set is empty (a re-crawl of
    // a seen URL) writes nothing — the rolled-back rows stay gone
    assert(CorpusIngest.ingest(spark, crawl(Seq((20L, "A", "a0"))), dir, 1L))
    assert(corpusIds(dir) == Set(0L, 1L, 2L, 3L),
      "rolled-back rows must not be served again")
  }

  // ---- one commit and one read for the generation tree ----

  private def adcRows(dir: String): Seq[(Long, Long, Seq[Int], Double)] =
    AdcIngest.index(spark, dir).collect().toSeq.map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[scala.collection.Seq[Int]]("codes").toSeq,
        r.getAs[Double]("vn"))
    }.sortBy(_._1)

  test("re-adding a generation cut by a retained rollback serves only " +
      "its new rows") {
    val dir = tmp("land_clear")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 900), dir, 1L)
    InvertedIndex.rollback(spark, dir, 0L, retainMs = 24L * 3600 * 1000)
    assert(InvertedIndex.addBatch(spark, docs(5000, 5002), dir, 1L))
    // the new batch touches a handful of the 64 bucket dirs; the cut
    // rows in every other bucket must be gone, not served again
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("batch") <= 1)
      .join(idsDf(800L until 900L), Seq("doc_id"), "left_semi")
      .count() == 0L, "rolled-back postings survived the re-landing")
    assert(SegmentCompaction.retired(spark, s"$dir/postings").isEmpty)
    val terms = Seq("w17", "w42", "w133", "w250", "w301")
    def top(d: String) = InvertedIndex.search(spark, d, terms, 1000)
      .collect().toSeq.map(_.toSeq)
    val fresh = tmp("land_clear_fresh")
    InvertedIndex.build(spark, docs(0, 800), fresh)
    InvertedIndex.addBatch(spark, docs(5000, 5002), fresh, 1L)
    assert(top(dir) == top(fresh))
    assert(corpusRow(dir) == corpusRow(fresh))
    // the vector twin lands the same way
    val vdir = tmp("land_clear_adc")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 340), vdir, 1L)
    AdcIngest.rollback(spark, vdir, 0L, retainMs = 24L * 3600 * 1000)
    assert(AdcIngest.append(spark, vecs(500, 510), vdir, 1L))
    assert(adcRows(vdir).map(_._1) == ((0L until 300L) ++ (500L until 510L)))
    assert(SegmentCompaction.retired(spark, s"$vdir/index").isEmpty)
  }

  test("tieredCompact over an all-tombstoned tail commits an empty " +
      "generation; the next call is a no-op") {
    val dir = tmp("tomb_tail")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 850), dir, 1L)
    InvertedIndex.addBatch(spark, docs(850, 900), dir, 2L)
    assert(InvertedIndex.delete(spark, dir, idsDf(800L until 900L)) == 100L)
    val served = searchRows(dir)
    assert(InvertedIndex.tieredCompact(spark, dir) == Seq(1L, 2L))
    assert(searchRows(dir) == served)
    assert(SegmentCompaction.genSizes(spark, s"$dir/postings")
      .map(_._1) == Seq(0L), "the merged tail holds no rows")
    assert(InvertedIndex.tieredCompact(spark, dir).isEmpty)
    assert(searchRows(dir) == served)
    val vdir = tmp("tomb_tail_adc")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 320), vdir, 1L)
    AdcIngest.append(spark, vecs(320, 340), vdir, 2L)
    assert(AdcIngest.delete(spark, vdir,
      (300L until 340L).toDF("vec_id")) == 40L)
    val vServed = adcRows(vdir)
    assert(AdcIngest.tieredCompact(spark, vdir) == Seq(1L, 2L))
    assert(adcRows(vdir) == vServed)
    assert(AdcIngest.tieredCompact(spark, vdir).isEmpty)
    assert(adcRows(vdir) == vServed)
  }

  test("a retained compact after generation 0 was purged empty " +
      "publishes the live rows") {
    val vdir = tmp("tomb_empty_gen0")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 340), vdir, 1L)
    assert(AdcIngest.delete(spark, vdir,
      (0L until 300L).toDF("vec_id")) == 300L)
    assert(AdcIngest.purgeDebt(spark, vdir, tau = 0.5) == Seq(0L))
    val served = adcRows(vdir)
    assert(served.map(_._1) == (300L until 340L))
    AdcIngest.compact(spark, vdir, retainMs = 3600 * 1000L)
    assert(SegmentCompaction.pending(spark, s"$vdir/index").map(_.ids) ==
      Some(Seq(0L, 1L)))
    assert(adcRows(vdir) == served)
    assert(AdcIngest.vacuum(spark, vdir) == Seq(0L, 1L))
    assert(adcRows(vdir) == served)
    assert(AdcIngest.segmentCount(spark, vdir) == 1)
  }

  test("each tombstone epoch lands as one data file (invidx and adc)") {
    def filesPerEpoch(root: String): Seq[Int] =
      hadoopFs(root).listStatus(new Path(root)).toSeq
        .filter(_.getPath.getName.startsWith("epoch="))
        .map(e => hadoopFs(root).listStatus(e.getPath)
          .count(f => !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
    val dir = tmp("tomb_one_file")
    InvertedIndex.build(spark, docs(0, 300), dir)
    InvertedIndex.addBatch(spark, docs(300, 360), dir, 1L)
    // victims in both generations: the docs sidecar scan spans files
    assert(InvertedIndex.delete(spark, dir,
      idsDf(Seq(5L, 17L, 150L, 310L, 350L))) == 5L)
    assert(InvertedIndex.delete(spark, dir, idsDf(Seq(6L, 320L))) == 2L)
    assert(filesPerEpoch(s"$dir/tombstones") == Seq(1, 1))
    val vdir = tmp("tomb_one_file_adc")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 340), vdir, 1L)
    assert(AdcIngest.delete(spark, vdir,
      Seq(3L, 150L, 299L, 305L, 330L).toDF("vec_id")) == 5L)
    assert(filesPerEpoch(s"$vdir/tombstones") == Seq(1))
  }

  test("a tiered run spans an emptied generation, so a rollback " +
      "inside the run is refused") {
    val dir = tmp("tomb_tail_gap")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 850), dir, 1L)
    InvertedIndex.addBatch(spark, docs(850, 900), dir, 2L)
    InvertedIndex.addBatch(spark, docs(900, 950), dir, 3L)
    assert(InvertedIndex.delete(spark, dir, idsDf(850L until 900L)) == 50L)
    assert(InvertedIndex.purgeDebt(spark, dir, tau = 0.5) == Seq(2L))
    val served = searchRows(dir)
    // generation 2 holds no rows, so the size policy sees only 1 and 3;
    // the merged dir must still cover the whole run 1..3
    assert(InvertedIndex.tieredCompact(spark, dir) == Seq(1L, 2L, 3L))
    assert(searchRows(dir) == served)
    // batch=1 now holds generation 3's rows: a cut at 1 is inside it
    intercept[IllegalArgumentException](InvertedIndex.rollback(spark, dir, 1L))
    assert(searchRows(dir) == served)
  }
}
