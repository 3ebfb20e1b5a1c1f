package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Load
import graft.ops.InvertedIndex

/** Inverted-index lifecycle: incremental append ≡ from-scratch build,
  * df correctness under appends, hand-checked BM25 micro scores, and
  * the bucket-pruned search scan.
  */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("invidx").toString + "/ix"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val corpus = Seq(
    1L -> "spark merge spark", 2L -> "query plan", 3L -> "spark query",
    4L -> "merge batch", 5L -> "window sort")

  private def postingsOf(d: String) = spark.read.parquet(s"$d/postings")
    .select(col("term"), col("doc_id"), col("tf"), col("dl"),
      concat_ws(",", col("positions").cast("array<string>")).as("p"))
    .as[(String, Long, Long, Int, String)]
    .collect().toSet

  test("incremental addBatch equals the from-scratch build") {
    val (a, b) = (tmp(), tmp())
    InvertedIndex.build(spark, docs(corpus: _*), a)
    InvertedIndex.build(spark, docs(corpus.take(3): _*), b)
    InvertedIndex.addBatch(spark, docs(corpus.drop(3): _*), b, batchId = 1L)
    def posts(d: String) = spark.read.parquet(s"$d/postings")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        concat_ws(",", col("positions").cast("array<string>")).as("p"))
      .as[(String, Long, Long, Int, String)]
      .collect().toSet
    assert(posts(a) == posts(b))
    def stats(d: String) = Load.readTable(spark, s"$d/corpus").get
      .select("n_docs", "sum_dl").as[(Long, Long)].head()
    assert(stats(a) == ((5L, 11L)) && stats(b) == stats(a))
    val sa = InvertedIndex.search(spark, a, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    val sb = InvertedIndex.search(spark, b, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    assert(sa == sb && sa.nonEmpty)
  }

  test("BM25 micro scores match the closed form; df counts the term's postings") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus: _*), dir)
    // closed form for term 'spark': N=5, df=2 (docs 1 and 3),
    // avgdl=11/5=2.2
    def ts(tf: Long, dl: Long, df: Double): Long = {
      val idf = (5.0 - df + 0.5) / (df + 0.5)
      math.round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.2)) * 1e6)
    }
    val got = InvertedIndex.search(spark, dir, Seq("spark"), 10)
      .select("doc_id", "bm25_micro").as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> ts(2, 3, 2.0), 3L -> ts(1, 2, 2.0)))
  }

  test("addBatch is exactly-once: replays no-op, crash between steps heals") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus.take(3): _*), dir)
    assert(InvertedIndex.addBatch(spark, docs(corpus.drop(3): _*), dir, 1L))
    val posts = spark.read.parquet(s"$dir/postings").count()
    // replay of the same id: loud no-op, nothing duplicated
    assert(!InvertedIndex.addBatch(spark, docs(corpus.drop(3): _*), dir, 1L))
    assert(spark.read.parquet(s"$dir/postings").count() == posts)
    assert(InvertedIndex.lastBatch(spark, dir) == 1L)
    // crash window: batch 2's postings landed but the corpus swap
    // didn't — the replay rewrites the same subtree and folds once
    val b2 = docs(6L -> "spark again", 7L -> "merge again")
    InvertedIndex.postings(b2).withColumn("batch", lit(2L))
      .repartition(col("bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket").parquet(s"$dir/postings")
    assert(InvertedIndex.addBatch(spark, b2, dir, 2L))
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id") >= 6L).count() == 4) // 2 docs × 2 terms, once
    assert(InvertedIndex.lastBatch(spark, dir) == 2L)
    // a gap over the high-water mark is refused loudly
    assertThrows[IllegalArgumentException] {
      InvertedIndex.addBatch(spark, b2, dir, 9L)
    }
  }

  test("streaming runner: two waves == from-scratch build, restart replays no-op") {
    val src = Files.createTempDirectory("invidx_src").toString
    val (dir, ckpt) = (tmp(), Files.createTempDirectory("invidx_ck").toString)
    def wave(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
    InvertedIndex.build(spark, docs(corpus.take(2): _*), dir)
    wave(corpus.slice(2, 4))
    graft.streaming.StreamingJobs
      .runInvertedIndexAvailableNow(spark, src, dir, ckpt)
      .awaitTermination()
    wave(corpus.drop(4))
    graft.streaming.StreamingJobs
      .runInvertedIndexAvailableNow(spark, src, dir, ckpt)
      .awaitTermination()
    // restart with nothing new: replays must not double anything
    graft.streaming.StreamingJobs
      .runInvertedIndexAvailableNow(spark, src, dir, ckpt)
      .awaitTermination()
    val scratch = tmp()
    InvertedIndex.build(spark, docs(corpus: _*), scratch)
    def posts(d: String) = spark.read.parquet(s"$d/postings")
      .select("term", "doc_id", "tf", "dl").as[(String, Long, Long, Int)]
      .collect().toSet
    assert(posts(dir) == posts(scratch))
    def search(d: String) = InvertedIndex
      .search(spark, d, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    assert(search(dir) == search(scratch) && search(dir).nonEmpty)
    // a FRESH checkpoint against the maintained index must refuse
    val ckpt2 = Files.createTempDirectory("invidx_ck2").toString
    wave(Seq(8L -> "late new doc"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StreamingJobs
        .runInvertedIndexAvailableNow(spark, src, dir, ckpt2)
        .awaitTermination()
    }
    assert(err.getMessage.contains("checkpoint") ||
      Option(err.getCause).exists(_.getMessage.contains("checkpoint")))
  }

  test("search reads only the query terms' bucket partitions") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus: _*), dir)
    val plan = InvertedIndex.search(spark, dir, Seq("spark"), 10)
      .queryExecution.executedPlan.toString
    // partition pruning on the bucket literal must reach the scan
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    val bucketDirs = new java.io.File(s"$dir/postings/batch=0").listFiles()
      .count(_.getName.startsWith("bucket="))
    // 8 distinct terms can't exceed 8 buckets, and pruning to one term
    // must touch exactly its single bucket — visible as one dir in the
    // pruned scan's partition count
    assert(bucketDirs >= 1)
    val scanned = "bucket=\\d+".r.findAllIn(
      InvertedIndex.search(spark, dir, Seq("spark"), 10)
        .queryExecution.executedPlan.toString).toSet
    assert(scanned.size <= 1 || plan.contains("bucket#"))
  }

  test("phrase search: positional intersect, overlap, and order sensitivity") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(
      1L -> "x batch batch batch y",   // "batch batch" starts at 2 and 3
      2L -> "batch x batch",           // non-adjacent: no match
      3L -> "a batch batch",           // one match
      4L -> "spark merge"), dir)
    val got = InvertedIndex.phraseSearch(spark, dir, Seq("batch", "batch"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
    // order matters: "merge spark" is not in doc 4 ("spark merge" is)
    assert(InvertedIndex.phraseSearch(spark, dir, Seq("merge", "spark"))
      .count() == 0)
    assert(InvertedIndex.phraseSearch(spark, dir, Seq("spark", "merge"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((4L, 1L)))
    // three-word phrase through the same slots fold
    assert(InvertedIndex.phraseSearch(spark, dir,
      Seq("batch", "batch", "batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 1L)))
  }

  test("phrase search joins rarest term first even when the phrase leads with a stopword") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(
      1L -> "the zebra runs", 2L -> "the cat sat on the mat",
      3L -> "the dog saw the zebra", 4L -> "the end of the day",
      5L -> "all the things"), dir)
    val res = InvertedIndex.phraseSearch(spark, dir, Seq("the", "zebra"))
    // correctness first: only docs 1 and 3 contain "the zebra"
    assert(res.select("doc_id", "n_matches").as[(Long, Long)]
      .collect().toMap == Map(1L -> 1L, 3L -> 1L))
    // plan shape: left-deep reduce means the FIRST-joined slot's
    // filter prints first (left subtree precedes right in the plan
    // dump) — it must be the rare term, df('zebra')=2 < df('the')=5,
    // not the phrase-order stopword
    val plan = res.queryExecution.optimizedPlan.toString
    val (iz, it) = (plan.indexOf("= zebra"), plan.indexOf("= the"))
    assert(iz >= 0 && it >= 0 && iz < it,
      s"join order is not rarest-first:\n$plan")
  }

  test("compact: generations collapse to one, results bit-equal, lifecycle continues") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus.take(2): _*), dir)
    InvertedIndex.addBatch(spark, docs(corpus.slice(2, 4): _*), dir, 1L)
    InvertedIndex.addBatch(spark, docs(corpus.drop(4): _*), dir, 2L)
    assert(InvertedIndex.segmentCount(spark, dir) == 3)
    def search() = InvertedIndex.search(spark, dir, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    def phrase() = InvertedIndex.phraseSearch(spark, dir, Seq("spark", "query"))
      .collect().toSeq.map(_.toSeq)
    def posts() = spark.read.parquet(s"$dir/postings")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        concat_ws(",", col("positions").cast("array<string>")).as("p"))
      .as[(String, Long, Long, Int, String)].collect().toSet
    val (preS, preP, prePost) = (search(), phrase(), posts())
    InvertedIndex.compact(spark, dir)
    // one generation; postings rows, BM25 results, and the positional
    // payload all bit-identical — compaction is a pure physical move
    assert(InvertedIndex.segmentCount(spark, dir) == 1)
    assert(posts() == prePost)
    assert(search() == preS && phrase() == preP)
    // the exactly-once high-water mark survives: a replay of batch 2
    // is still a loud no-op, and the NEXT id still lands
    assert(InvertedIndex.lastBatch(spark, dir) == 2L)
    assert(!InvertedIndex.addBatch(spark, docs(corpus.drop(4): _*), dir, 2L))
    assert(InvertedIndex.addBatch(spark, docs(6L -> "spark anew"), dir, 3L))
    assert(InvertedIndex.segmentCount(spark, dir) == 2)
    assert(search().map(_.head).contains(6L))
    // the policy hook: at/below the threshold it must not touch the
    // tree; above it, it compacts
    assert(!InvertedIndex.compactIfNeeded(spark, dir, maxSegments = 2))
    assert(InvertedIndex.segmentCount(spark, dir) == 2)
    assert(InvertedIndex.compactIfNeeded(spark, dir, maxSegments = 1))
    assert(InvertedIndex.segmentCount(spark, dir) == 1)
  }

  test("streaming runner auto-compacts past maxSegments, results unchanged") {
    val src = Files.createTempDirectory("invidx_src").toString
    val (dir, ckpt) = (tmp(), Files.createTempDirectory("invidx_ck").toString)
    InvertedIndex.build(spark, docs(corpus.take(2): _*), dir)
    corpus.drop(2).grouped(1).foreach { w =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
    }
    graft.streaming.StreamingJobs
      .runInvertedIndexAvailableNow(spark, src, dir, ckpt,
        maxSegments = Some(1))
      .awaitTermination()
    // every appended generation was folded away behind the policy
    assert(InvertedIndex.segmentCount(spark, dir) == 1)
    val scratch = tmp()
    InvertedIndex.build(spark, docs(corpus: _*), scratch)
    def search(d: String) = InvertedIndex
      .search(spark, d, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    assert(search(dir) == search(scratch) && search(dir).nonEmpty)
  }

  test("maxScoreSearch: essential-prefix rule is minimal and safe") {
    import InvertedIndex.essentialPrefix
    // θ=0 (seed underfilled): no pruning, every term essential
    assert(essentialPrefix(Seq(100L, 10L, 5L), 0L) == 3)
    // suffix after the first term = 15 < 20 = θ → only term 0 essential
    assert(essentialPrefix(Seq(100L, 10L, 5L), 20L) == 1)
    // suffix after term 0 = 15 ≥ 12, after term 1 = 5 < 12 → two
    assert(essentialPrefix(Seq(100L, 10L, 5L), 12L) == 2)
    // θ above everything still caps at |terms|
    assert(essentialPrefix(Seq(100L, 10L, 5L), 1L) == 3)
    assert(essentialPrefix(Seq.empty, 7L) == 0)
  }

  test("maxScoreSearch equals search bit-exactly, pruned and fallback") {
    val dir = tmp()
    // 40 docs all holding the stopword; 4 also hold the rare term
    val rows = (1L to 40L).map { i =>
      i -> (if (i % 10 == 0) "the zebra filler" else "the filler words")
    }
    InvertedIndex.build(spark, docs(rows: _*), dir)
    def both(terms: Seq[String], k: Int) = {
      val a = InvertedIndex.search(spark, dir, terms, k)
        .collect().toSeq.map(_.toSeq)
      val b = InvertedIndex.maxScoreSearch(spark, dir, terms, k)
        .collect().toSeq.map(_.toSeq)
      (a, b)
    }
    // pruned path: seed 'zebra' (df 4 ≥ k) makes 'the' non-essential
    val (a1, b1) = both(Seq("the", "zebra"), 3)
    assert(a1 == b1 && b1.nonEmpty)
    // the final pass's candidate filter carries ONLY the essential
    // term — the stopword's docs never reach the doc-keyed exchange
    val plan = InvertedIndex.maxScoreSearch(spark, dir, Seq("the", "zebra"), 3)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("= zebra") && !plan.contains("= the"),
      s"essential filter should be {zebra} alone:\n$plan")
    // fallback: k above the seed term's df → θ=0 → identical, unpruned
    val (a2, b2) = both(Seq("the", "zebra"), 10)
    assert(a2 == b2 && b2.size == 10)
    // single-term and k > corpus edge
    val (a3, b3) = both(Seq("zebra"), 50)
    assert(a3 == b3 && b3.size == 4)
  }

  test("searchBatch: single-query batch == search; shared terms fan out per query") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus: _*), dir)
    val single = Seq((7L, "spark"), (7L, "query")).toDF("query_id", "term")
    val batched = InvertedIndex.searchBatch(spark, dir, single, 10)
      .select("doc_id", "n_terms", "bm25_micro")
      .collect().toSeq.map(_.toSeq)
    val direct = InvertedIndex.search(spark, dir, Seq("spark", "query"), 10)
      .collect().toSeq.map(_.toSeq)
    assert(batched == direct && batched.nonEmpty)
    // two queries sharing a term: each gets its own isolated ranking
    val multi = Seq((1L, "spark"), (2L, "spark"), (2L, "merge"))
      .toDF("query_id", "term")
    val got = InvertedIndex.searchBatch(spark, dir, multi, 10)
      .select("query_id", "rank", "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val q1 = got.filter(_._1 == 1L).map(t => (t._2, t._3)).toSeq
    val q2 = got.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq
    val ref1 = InvertedIndex.search(spark, dir, Seq("spark"), 10)
      .collect().zipWithIndex.map { case (r, i) => (i + 1, r.getLong(0)) }.toSeq
    val ref2 = InvertedIndex.search(spark, dir, Seq("spark", "merge"), 10)
      .collect().zipWithIndex.map { case (r, i) => (i + 1, r.getLong(0)) }.toSeq
    assert(q1 == ref1 && q2 == ref2)
    // duplicate (query_id, term) rows must collapse — search dedups
    // repeated terms via isin, so a batch carrying ("spark","query",
    // "spark") must equal the deduped one (no double-counted n_terms
    // or bm25_micro)
    val dup = Seq((7L, "spark"), (7L, "query"), (7L, "spark"))
      .toDF("query_id", "term")
    val deduped = InvertedIndex.searchBatch(spark, dir, dup, 10)
      .select("doc_id", "n_terms", "bm25_micro")
      .collect().toSeq.map(_.toSeq)
    assert(deduped == direct,
      "duplicate (query_id, term) rows double-counted the scores")
  }

  test("addBatch after a crashed compaction swap loses no generations") {
    // a full compact dying inside its commit leaves every generation in
    // postings.__tiered_old and no live batch=0; the next addBatch must
    // heal first, or the batch lands beside a tree missing every prior
    // generation while the corpus row still claims they landed
    val dir = tmp()
    InvertedIndex.build(spark, docs(corpus.take(3): _*), dir)
    assert(InvertedIndex.addBatch(spark, docs(corpus.drop(3): _*), dir, 1L))
    crashMidCommit(s"$dir/postings", Seq(0L, 1L))
    assert(InvertedIndex.addBatch(spark,
      docs(10L -> "fresh crash batch"), dir, 2L))
    val dir2 = tmp()
    InvertedIndex.build(spark,
      docs(corpus :+ (10L -> "fresh crash batch"): _*), dir2)
    assert(postingsOf(dir) == postingsOf(dir2),
      "prior generations lost after crashed-swap addBatch")
    assert(!new java.io.File(s"$dir/postings.__tiered_old").exists())
  }

  test("proximity search: sort-based min pair distance boosts BM25 exactly") {
    val dir = tmp()
    InvertedIndex.build(spark, docs(
      1L -> "spark query here",             // adjacent -> min_dist 1
      2L -> "spark alpha beta gamma query", // min_dist 4
      3L -> "spark only doc",               // one distinct term: no boost
      4L -> "filler words here"), dir)
    val got = InvertedIndex
      .proximitySearch(spark, dir, Seq("spark", "query"), 10)
      .select("doc_id", "min_dist", "prox_micro")
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2)))
      .toMap
    assert(got == Map(
      1L -> (Some(1L), 1000000L),
      2L -> (Some(4L), 250000L),
      3L -> (None, 0L)))
    // boost dominates ties: doc 1 must outrank doc 2 which outranks 3
    val order = InvertedIndex
      .proximitySearch(spark, dir, Seq("spark", "query"), 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(order.indexOf(1L) < order.indexOf(2L) &&
      order.indexOf(2L) < order.indexOf(3L))
  }
}
