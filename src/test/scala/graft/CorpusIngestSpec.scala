package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Load, WriterLease}
import graft.ops.CorpusIngest

/** A writer-lease takeover fired from inside a running ingest: the spec
  * arms it, and a UDF in the ingested batch fires it (once) the first
  * time the batch is evaluated — a usurper landing mid-ingest.
  */
private object MidIngestTakeover {
  @volatile private var armed: Option[() => WriterLease.Lease] = None
  @volatile var taken: Option[WriterLease.Lease] = None

  def arm(takeover: () => WriterLease.Lease): Unit = {
    taken = None
    armed = Some(takeover)
  }

  def fire(): Unit = synchronized {
    armed.foreach(t => taken = Some(t()))
    armed = None
  }
}

/** Incremental corpus warehouse: the O(batch) ingest contract —
  * in-batch dedup, seen-set rejection, frozen-model gates, per-source
  * packing continuation from the high-water mark, new-source admission
  * at the global minimum threshold, and exactly-once replay semantics.
  *
  * The fixture is engineered for determinism: every "good" doc carries
  * the SAME en text, so all good docs share one token count and (with
  * DSIR target ≡ raw on the gated pool) one importance score of 0 —
  * the admission threshold is exactly 0 and every arithmetic assertion
  * below is closed-form.
  */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private val Good = "alpha beta gamma delta epsilon"
  private val Bad = "zork xult yarp qwop"

  private def crawl(rows: Seq[(Long, String, String, String, Boolean)])
      : DataFrame =
    rows.toDF("doc_id", "source", "lang", "key", "good")
      .select(col("doc_id"), col("source"), col("lang"),
        concat(lit("https://ex.com/"), col("key")).as("canon_url"),
        concat(lit("<html><head><title>t</title></head><body><p>"),
          when(col("good"), lit(Good)).otherwise(lit(Bad)),
          lit("</p></body></html>")).as("html"))

  private val bootCrawl = crawl(Seq(
    (0L, "A", "en", "a0", true),
    (1L, "A", "xx", "a1", false),
    (2L, "A", "en", "a2", true),
    (4L, "A", "en", "a4", true),
    (6L, "B", "en", "b6", true),
    (7L, "B", "xx", "b7", false),
    (8L, "B", "en", "b8", true)))

  private val batch = crawl(Seq(
    (10L, "A", "en", "c10", true),  // unique fresh url -> lands
    (11L, "A", "en", "a0", true),   // bootstrap url -> seen-rejected
    (12L, "A", "en", "dup", true),  // in-batch pair: 12 kept,
    (13L, "A", "en", "dup", true),  //                13 dropped
    (14L, "A", "xx", "c14", false), // NB gate rejects
    (15L, "N", "en", "n15", true))) // unseen source -> globalMin

  private def boot(dir: String): Unit =
    CorpusIngest.bootstrap(spark, bootCrawl, dir,
      nbLabel = col("lang") === "en", nbSplit = lit(true),
      dsirTarget = col("lang") === "en", selectPct = 100)

  private def state(dir: String): Map[String, (Long, Long, Long)] =
    Load.readTable(spark, s"$dir/state").get.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("lr_min_micro"), r.getAs[Long]("tok_hwm"),
          r.getAs[Long]("last_batch")))).toMap

  private def tmp() = Files.createTempDirectory("corpusingest").toString + "/w"

  test("bootstrap gates, packs, and records thresholds + high-water marks") {
    val dir = tmp()
    boot(dir)
    val c0 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // NB gate keeps exactly the en docs; selectPct=100 keeps all gated
    assert(c0.keySet == Set(0L, 2L, 4L, 6L, 8L))
    // identical good text -> identical token counts; packing is the
    // per-source running sum in doc_id order
    val t = c0(0L).getAs[Long]("n_tokens")
    assert(t > 0 && c0.values.forall(_.getAs[Long]("n_tokens") == t))
    assert(c0(0L).getAs[Long]("tok_before") == 0)
    assert(c0(2L).getAs[Long]("tok_before") == t)
    assert(c0(4L).getAs[Long]("tok_before") == 2 * t)
    assert(c0(6L).getAs[Long]("tok_before") == 0)
    // target == raw on the gated pool -> every lr is exactly 0, so the
    // frozen admission threshold is 0 for both sources
    val s0 = state(dir)
    assert(s0 == Map("A" -> ((0L, 3 * t, 0L)), "B" -> ((0L, 2 * t, 0L))))
    // seen set carries every bootstrapped canonical url
    val u0 = spark.read.parquet(s"$dir/urls")
      .select(col("canon_url")).collect().map(_.getString(0)).toSet
    assert(u0 == Set("a0", "a1", "a2", "a4", "b6", "b7", "b8")
      .map("https://ex.com/" + _))
  }

  test("ingest folds a batch at O(batch): dedup, gates, continuation") {
    val dir = tmp()
    boot(dir)
    val t = state(dir)("A")._2 / 3
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    val c1 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 11 seen-rejected, 13 in-batch loser, 14 NB-rejected
    assert(c1.keySet == Set(10L, 12L, 15L))
    // packing CONTINUES source A from the bootstrap high-water mark;
    // the new source N starts at 0
    assert(c1(10L).getAs[Long]("tok_before") == 3 * t)
    assert(c1(12L).getAs[Long]("tok_before") == 4 * t)
    assert(c1(15L).getAs[Long]("tok_before") == 0)
    // state fold: A advanced by two docs, B untouched, N admitted at
    // the global-minimum threshold with its own stream
    assert(state(dir) == Map(
      "A" -> ((0L, 5 * t, 1L)),
      "B" -> ((0L, 2 * t, 1L)),
      "N" -> ((0L, t, 1L))))
    // the seen set grew by exactly the FRESH urls (gate-rejected docs
    // included: a re-crawl of a known-bad url must not reprocess)
    val u1 = spark.read.parquet(s"$dir/urls/batch=1")
      .select(col("canon_url")).collect().map(_.getString(0)).toSet
    assert(u1 == Set("c10", "dup", "c14", "n15").map("https://ex.com/" + _))
  }

  test("langid = true: the prediction replaces the planted lang, the " +
      "margin gate drops unidentifiable docs, the funnel reports it") {
    val dir = tmp()
    val en = "alpha beta gamma delta"
    val fr = "rouge bleu vert jaune"
    val badEn = "zork xult yarp zzen zzen"
    val badFr = "zork xult yarp zzfr zzfr"
    val zz = "m1m n2n o3o" // trigrams unseen in training -> margin 0
    def mk(rows: Seq[(Long, String, String, String)]): DataFrame =
      rows.toDF("doc_id", "lang", "key", "txt")
        .select(col("doc_id"), lit("A").as("source"), col("lang"),
          concat(lit("https://ex.com/"), col("key")).as("canon_url"),
          concat(lit("<html><head><title>t</title></head><body><p>"),
            col("txt"), lit("</p></body></html>")).as("html"))
    // equal class sizes -> equal priors -> a signal-free doc's margin
    // is exactly 0 (prior difference), deterministically under the gate
    CorpusIngest.bootstrap(spark, mk(Seq(
        (0L, "en", "a0", en), (1L, "en", "a1", en),
        (2L, "fr", "a2", fr), (3L, "fr", "a3", fr),
        (4L, "en", "a4", badEn), (5L, "fr", "a5", badFr))), dir,
      nbLabel = !col("text").contains("zork"), nbSplit = lit(true),
      dsirTarget = lit(true), selectPct = 100,
      langid = true, langidMinMargin = 1L)
    // bootstrap corpus carries PREDICTED langs (signal texts classify
    // perfectly; the bad docs survive langid but fall at the NB gate)
    val c0 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("lang")).toMap
    assert(c0 == Map(0L -> "en", 1L -> "en", 2L -> "fr", 3L -> "fr"))
    // the batch plants GARBAGE lang values — ingest must ignore them
    val batch1 = mk(Seq(
      (10L, "xx", "c10", en),   // predicted en, lands
      (11L, "xx", "c11", fr),   // predicted fr, lands
      (12L, "xx", "c12", zz),   // margin 0 < 1 -> langid-dropped
      (13L, "xx", "c13", badEn))) // survives langid, NB-rejected
    assert(CorpusIngest.ingest(spark, batch1, dir, 1L))
    val c1 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("lang")).toMap
    assert(c1 == Map(10L -> "en", 11L -> "fr"),
      "landed rows must carry the PREDICTION, not the planted column")
    // the funnel reports the langid stage: 4 fresh -> 3 past langid
    // -> 2 past NB
    val f = CorpusIngest.funnel(spark, batch1, dir, 1L).head()
    assert(Seq("n_raw", "n_urldedup", "n_fresh", "n_langid", "n_nb",
      "n_admitted", "n_landed").map(f.getAs[Long]) ==
      Seq(4L, 4L, 4L, 3L, 2L, 2L, 2L))
    // exactly-once replay survives the langid path
    assert(!CorpusIngest.ingest(spark, batch1, dir, 1L))
  }

  test("funnel reports every stage's closed-form per-source counts") {
    val dir = tmp()
    boot(dir)
    val t = state(dir)("A")._2 / 3
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    val f = CorpusIngest.funnel(spark, batch, dir, 1L).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // A: 5 raw → 4 after in-batch dup (13 drops) → 3 after seen-set
    // (11 rejects) → 2 after NB (14 rejects) → 2 admitted == 2 landed
    val a = f("A")
    assert(Seq("n_raw", "n_urldedup", "n_fresh", "n_langid", "n_nb",
      "n_admitted", "n_landed").map(a.getAs[Long]) ==
      Seq(5L, 4L, 3L, 3L, 2L, 2L, 2L),
      "n_langid == n_fresh on a warehouse without the langid model")
    assert(a.getAs[Long]("tok_landed") == 2 * t)
    // N: the unseen source survives every stage
    val nrow = f("N")
    assert(Seq("n_raw", "n_urldedup", "n_fresh", "n_langid", "n_nb",
      "n_admitted", "n_landed").map(nrow.getAs[Long]) ==
      Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L))
    assert(nrow.getAs[Long]("tok_landed") == t)
    // the audit invariant the report exists to surface
    assert(f.values.forall(r =>
      r.getAs[Long]("n_admitted") == r.getAs[Long]("n_landed")))
  }

  test("streaming maintainer: waves land exactly-once, fresh checkpoint refused") {
    val dir = tmp()
    val src = Files.createTempDirectory("ci_src").toString
    val ckpt = Files.createTempDirectory("ci_ckpt").toString
    boot(dir)
    val t = state(dir)("A")._2 / 3
    def run(ck: String = ckpt): Unit = graft.streaming.StreamingJobs
      .runCorpusIngestAvailableNow(spark, src, dir, ck).awaitTermination()
    // wave 1 = the batch fixture -> warehouse batch 1, same folds as
    // the direct-ingest test
    batch.coalesce(1).write.mode("append").parquet(src)
    run()
    assert(state(dir) == Map(
      "A" -> ((0L, 5 * t, 1L)),
      "B" -> ((0L, 2 * t, 1L)),
      "N" -> ((0L, t, 1L))))
    // restart with nothing new: a no-op
    run()
    assert(state(dir)("A") == ((0L, 5 * t, 1L)))
    // wave 2: one fresh doc on A -> warehouse batch 2, hwm advances
    crawl(Seq((20L, "A", "en", "w20", true)))
      .coalesce(1).write.mode("append").parquet(src)
    run()
    assert(state(dir)("A") == ((0L, 6 * t, 2L)))
    assert(spark.read.parquet(s"$dir/corpus").filter(col("batch") === 2)
      .select(col("tok_before")).head().getLong(0) == 5 * t)
    // a FRESH checkpoint against the maintained warehouse must refuse
    crawl(Seq((21L, "A", "en", "w21", true)))
      .coalesce(1).write.mode("append").parquet(src)
    val ckpt2 = Files.createTempDirectory("ci_ckpt2").toString
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(ckpt2))
    assert(err.getMessage.contains("checkpoint") ||
      Option(err.getCause).exists(_.getMessage.contains("checkpoint")))
    assert(state(dir)("A") == ((0L, 6 * t, 2L)))
  }

  test("re-bootstrap into a dirty dir resurrects nothing") {
    // the driver's reality: Verify at sf0.001 then sf0.01 re-runs the
    // q168 lifecycle at the SAME fixed path without manual cleanup. A
    // bootstrap that only dynamic-overwrites batch=0 leaves the old
    // generation's batch>=1 subtrees alive — their urls cover the next
    // ingest's batch as "seen" and the warehouse serves the DEAD rows.
    val dir = tmp()
    boot(dir)
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    boot(dir) // generation two, same path
    val batches = spark.read.parquet(s"$dir/corpus")
      .select(col("batch").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(batches == Set(0L), s"stale batches survived: $batches")
    val urls = spark.read.parquet(s"$dir/urls")
      .select(col("canon_url")).collect().map(_.getString(0)).toSet
    assert(urls == Set("a0", "a1", "a2", "a4", "b6", "b7", "b8")
      .map("https://ex.com/" + _), "stale seen-set urls survived")
    assert(CorpusIngest.lastBatch(spark, dir) == 0L)
    // and the new generation's first ingest lands the full fresh set
    val t = state(dir)("A")._2 / 3
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    val c1 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(c1 == Set(10L, 12L, 15L))
    assert(state(dir) == Map(
      "A" -> ((0L, 5 * t, 1L)),
      "B" -> ((0L, 2 * t, 1L)),
      "N" -> ((0L, t, 1L))))
  }

  test("a crash between the urls write and the state swap heals on replay") {
    // reference run: what a clean ingest lands
    val ref = tmp()
    boot(ref)
    assert(CorpusIngest.ingest(spark, batch, ref, 1L))
    val want = spark.read.parquet(s"$ref/corpus")
      .filter(col("batch") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_before"), r.getAs[Long]("n_tokens")))).toMap
    // crashed run: both data writes landed, the state swap did not —
    // simulated by restoring the pre-ingest state table afterwards
    val dir = tmp()
    boot(dir)
    val s0 = state(dir)
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    Load.replaceTable(spark,
      s0.toSeq.sortBy(_._1).map { case (src, (lr, hwm, lb)) =>
        (src, lr, hwm, lb)
      }.toDF("source", "lr_min_micro", "tok_hwm", "last_batch"),
      s"$dir/state")
    // the replay must NOT see the crashed attempt's own urls/batch=1
    // as "seen" — it recomputes the identical batch and folds the
    // identical state, as if the crash never happened
    assert(CorpusIngest.ingest(spark, batch, dir, 1L),
      "replay of the crashed batch must land, not no-op")
    val got = spark.read.parquet(s"$dir/corpus")
      .filter(col("batch") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_before"), r.getAs[Long]("n_tokens")))).toMap
    assert(got == want)
    assert(state(dir) == state(ref))
  }

  test("rollback truncates batches and rebuilds state bit-identically") {
    val dir = tmp()
    boot(dir)
    val s0 = state(dir)
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    val s1 = state(dir)
    val batch2 = crawl(Seq(
      (20L, "A", "en", "r20", true),
      (21L, "C", "en", "r21", true))) // C first seen in batch 2
    assert(CorpusIngest.ingest(spark, batch2, dir, 2L))
    val s2 = state(dir)
    val c2 = spark.read.parquet(s"$dir/corpus").filter(col("batch") === 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("tok_before")).toMap
    // roll to 1: batch 2 gone from both trees, state == post-batch-1
    CorpusIngest.rollback(spark, dir, 1L)
    assert(state(dir) == s1)
    assert(spark.read.parquet(s"$dir/corpus")
      .select(col("batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(spark.read.parquet(s"$dir/urls")
      .select(col("batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet == Set(0L, 1L))
    // the rolled-back id re-ingests to the identical rows and fold
    assert(CorpusIngest.ingest(spark, batch2, dir, 2L))
    assert(state(dir) == s2)
    assert(spark.read.parquet(s"$dir/corpus").filter(col("batch") === 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("tok_before")).toMap == c2)
    // roll to 0: back to the bootstrap state exactly
    CorpusIngest.rollback(spark, dir, 0L)
    assert(state(dir) == s0)
    assert(CorpusIngest.lastBatch(spark, dir) == 0L)
  }

  test("replays are loud no-ops and ids must stay contiguous") {
    val dir = tmp()
    boot(dir)
    assert(CorpusIngest.ingest(spark, batch, dir, 1L))
    val before = state(dir)
    assert(!CorpusIngest.ingest(spark, batch, dir, 1L))
    assert(state(dir) == before)
    val e = intercept[IllegalArgumentException](
      CorpusIngest.ingest(spark, batch, dir, 3L))
    assert(e.getMessage.contains("contiguous"))
    assert(state(dir) == before)
  }

  test("readAsOf(I) is bit-identical to the pre-(I+1) corpus") {
    val dir = tmp()
    boot(dir)
    CorpusIngest.ingest(spark, batch, dir, 1L)
    def full(): Seq[String] = spark.read.parquet(s"$dir/corpus")
      .collect().map(_.toString).sorted.toSeq
    val preBatch2 = full()
    // a second batch lands on top...
    CorpusIngest.ingest(spark, crawl(Seq(
      (20L, "A", "en", "z20", true),
      (21L, "B", "en", "z21", true))), dir, 2L)
    def asOf(i: Long): Seq[String] = CorpusIngest.readAsOf(spark, dir, i)
      .collect().map(_.toString).sorted.toSeq
    // ...and the as-of-1 snapshot is exactly what a reader saw before
    assert(asOf(1L) == preBatch2)
    assert(asOf(2L) == full())
    // the snapshot is a strict prefix, not a filter artifact
    assert(asOf(0L).size < preBatch2.size)
    // beyond history: loud refusal, never a silently-empty frame
    val ex = intercept[IllegalArgumentException] {
      CorpusIngest.readAsOf(spark, dir, 3L)
    }
    assert(ex.getMessage.contains("high-water mark"))
    // and the cut reaches the scan as a PARTITION filter — newer
    // generations are pruned at file-listing time, never read
    val scanned = CorpusIngest.readAsOf(spark, dir, 1L)
      .queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters") && scanned.contains("batch"))
  }

  test("an ingest fenced out mid-run releases every frame it persisted") {
    val dir = tmp()
    boot(dir)
    MidIngestTakeover.arm { () =>
      Thread.sleep(5) // the ingest's lease heartbeat is older than 1 ms
      WriterLease.acquire(spark, dir, "usurper", ttlMs = 1L)
    }
    val fire = udf { (id: Long) => MidIngestTakeover.fire(); id }
    val fenced = batch.withColumn("doc_id", fire(col("doc_id")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.ingest(spark, fenced, dir, 1L)
    }
    MidIngestTakeover.taken.foreach(WriterLease.release(spark, _))
    assert(e.getMessage.contains("superseded"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    assert(CorpusIngest.lastBatch(spark, dir) == 0L,
      "a fenced-out ingest must not commit its state fold")
  }
}
