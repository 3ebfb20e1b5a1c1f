package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Graph
import graft.ops.Relational.dedupKeepLast
import graft.ops.Scale
import graft.streaming.StreamingJobs

/** Scale stress: drives the core operator shapes at 10–100× the bench
  * row counts on self-generated data (never touches the correctness
  * testdata) and prints per-op wall times. The point is shape, not
  * absolute speed: linear scans, one-shuffle aggregations/dedups, no
  * driver-side materialization — if any op is accidentally quadratic
  * or collect-bound it shows up here long before a cluster does.
  *
  * Usage: sbt "runMain graft.tools.Stress [rows] [phaseFilter]"
  * (default 10M rows, all phases; phaseFilter = comma-separated label
  * prefixes, e.g. "asof" — for isolating one op's A/B on a quiet
  * machine without paying the full sweep)
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val only: Option[Seq[String]] =
      if (args.length > 1) Some(args(1).split(",").toSeq) else None
    def wanted(label: String): Boolean =
      only.forall(_.exists(label.startsWith))
    val spark = LocalSpark.session()

    def time(label: String)(f: => Long): Unit = if (wanted(label)) {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $label%-28s rows=$n%12d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // force FULL materialization (count() lets Catalyst prune computed
    // columns the row count doesn't reference)
    def force(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); df.count()
    }

    // deterministic synthetic event stream: ~90 days, zipf-ish user skew
    val ev = spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 777667L).as("ts"),
      pmod(hash(col("id") * 31L), lit(100000)).cast(LongType).as("user_id"),
      element_at(typedLit(Seq("view", "click", "purchase", "error", "signup")),
        pmod(hash(col("id")), lit(5)).cast(IntegerType) + 1).as("event_type"),
      (pmod(hash(col("id") + 7L), lit(100000)) / 100.0).as("value"))

    val dir = "/tmp/graft_stress"
    // the events table feeds every phase: when a phase filter skips the
    // timed write, still (re)build it if it's not already on disk AT
    // THIS ROW COUNT — a _GRAFT_ROWS marker pins the scale the dataset
    // was generated at, so a stale table from a prior run at a
    // different [rows] never silently feeds the filtered phases
    val marker = new java.io.File(s"$dir/events/_GRAFT_ROWS")
    def writeEvents(): Unit = {
      Scale.writePartitionedByDay(ev, col("ts"), s"$dir/events")
      java.nio.file.Files.write(marker.toPath,
        rows.toString.getBytes("UTF-8"))
    }
    val haveEvents = new java.io.File(s"$dir/events/_SUCCESS").exists &&
      marker.exists &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim == rows.toString
    if (wanted("write parquet (partitioned)"))
      time("write parquet (partitioned)") { writeEvents(); rows }
    else if (!haveEvents) writeEvents()
    val t = spark.read.parquet(s"$dir/events")

    time("partition-pruned day scan") {
      t.filter(col("day") === "2024-01-15").count()
    }
    time("groupBy agg (5 groups)") {
      force(t.groupBy("event_type")
        .agg(count(lit(1)), sum("value"), avg("value")))
    }
    time("groupBy agg (100k groups)") {
      force(t.groupBy("user_id").agg(sum("value"), count(lit(1))))
    }
    time("dedup keep-last by user") {
      force(dedupKeepLast(t, Seq("user_id"), Seq(col("ts"), col("event_id"))))
    }
    time("window running total") {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      force(t.withColumn("rt", sum("value").over(
        w.rowsBetween(Window.unboundedPreceding, 0))))
    }
    time("semi-join vs 1M keys") {
      val keys = spark.range(1000000).select(col("id").as("event_id"))
      t.join(keys, Seq("event_id"), "left_semi").count()
    }
    time("salted agg (hot key)") {
      val skew = t.withColumn("user_id",
        when(col("event_id") % 10 =!= 0, 7L).otherwise(col("user_id")))
      force(Scale.saltedSumCount(skew, Seq("user_id"), "value", 32))
    }
    time("tumbling daily agg (batch)") {
      force(StreamingJobs.dailyAgg(t.select("ts", "event_type", "value")))
    }
    time("topk 100") {
      t.orderBy(col("value").desc, col("event_id")).limit(100).count()
    }

    // ---- as-of join (q61 shape): custom ordered-merge exec vs the ----
    // ---- union+window encoding, 10M left x 1M right.             ----
    val asofRight = spark.range(rows / 10).select(
      pmod(hash(col("id") * 17L), lit(100000)).cast(LongType)
        .as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 7776670L)
        .as("rt"),
      col("id").as("order_id"))
    // custom exec FIRST: any residual cache warm-up favours whatever
    // runs second, so ordering the baseline encoding last biases the
    // comparison AGAINST the custom exec — a recorded win is then
    // conservative. noop-only sink (force() would re-execute the whole
    // plan a second time for the count and double-charge both variants).
    def noop(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); rows
    }
    time("asof join (custom exec)") {
      noop(graft.plans.AsofJoin.asof(
        t.select("event_id", "user_id", "ts"), asofRight,
        Seq("user_id"), Seq("user_id"), "ts", "rt",
        rightTieBreak = Seq("order_id")))
    }
    time("asof join (union+window)") {
      noop(graft.plans.AsofJoin.asofUnionWindow(
        t.select("event_id", "user_id", "ts"), "user_id", "ts", "event_id",
        asofRight, "user_id", "rt", "order_id"))
    }
    // the rest of the merge_asof matrix through the SAME exec: forward
    // rides the negated-time encoding, nearest adds the one-row
    // lookahead, tolerance is the post-merge null-out (q119) — all
    // must stay O(1)-state single-pass merges, so their wall times
    // should track the backward run, not blow up
    time("asof join (forward)") {
      noop(graft.plans.AsofJoin.asof(
        t.select("event_id", "user_id", "ts"), asofRight,
        Seq("user_id"), Seq("user_id"), "ts", "rt",
        rightTieBreak = Seq("order_id"), direction = "forward"))
    }
    time("asof join (nearest)") {
      noop(graft.plans.AsofJoin.asof(
        t.select("event_id", "user_id", "ts"), asofRight,
        Seq("user_id"), Seq("user_id"), "ts", "rt",
        rightTieBreak = Seq("order_id"), direction = "nearest"))
    }
    time("asof join (tolerance 1h)") {
      noop(graft.plans.AsofJoin.asof(
        t.select("event_id", "user_id", "ts"), asofRight,
        Seq("user_id"), Seq("user_id"), "ts", "rt",
        rightTieBreak = Seq("order_id"))
        .withColumn("order_id",
          when(col("rt") >= col("ts") - expr("INTERVAL 1 HOUR"),
            col("order_id"))))
    }

    // ---- scoped merge (q111 shape): merge cost must scale with the ----
    // ---- BATCH, not the table. A/B: day-partition-scoped and       ----
    // ---- bucket-scoped upsert vs the whole-table rewrite, same     ----
    // ---- batches. Expect the scoped sides flat-cheap and the whole ----
    // ---- sides paying the full table rewrite every time.           ----
    if (Seq("scoped", "bucketed", "whole").exists(p =>
        only.forall(_.exists(p.startsWith)) || wanted(p))) {
      val fsRoot = new org.apache.hadoop.fs.Path(dir)
      val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("merge_day", "merge_whole", "merge_bucket").foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$d"), true))
      val pdir = s"$dir/merge_day"
      val wdir = s"$dir/merge_whole"
      val bdir = s"$dir/merge_bucket"
      time("scoped bootstrap day-partitioned") {
        graft.etl.Load.upsertPartitioned(spark, t, pdir, "event_id")
      }
      time("whole bootstrap plain") {
        graft.etl.Load.upsert(spark, t.drop("day"), wdir, "event_id")
      }
      // pick a day that exists at ANY [rows] scale: the stream spans
      // ~rows/111k days from 2024-01-01, so a fixed mid-January pick
      // is empty below ~1.5M rows and the merge would fail on an
      // empty batch (1-row collect; this is harness setup, not the op)
      // (day is DATE via partition-dir inference — stringify generically)
      val day0 = t.agg(min(col("day")).cast("string")).head().getString(0)
      val oneDay = t.filter(col("day").cast("string") === day0).limit(10000)
        .withColumn("value", lit(0.0)).cache()
      oneDay.count()
      time("scoped merge one-day 10k batch") {
        graft.etl.Load.upsertPartitioned(spark, oneDay, pdir, "event_id")
      }
      time("whole merge same 10k batch") {
        graft.etl.Load.upsert(spark, oneDay.drop("day"), wdir, "event_id")
      }
      time("bucketed bootstrap (1024 buckets)") {
        graft.etl.Load.upsertBucketed(spark, t.drop("day"), bdir,
          "event_id", 1024)
      }
      // 32 keys touch ≤32/1024 buckets (~3% of files); 1000 keys ≤63%
      // — cost follows the touched-bucket count, never the table
      for (b <- Seq(32, 1000)) {
        val batch = t.drop("day").limit(b).withColumn("value", lit(-1.0))
        time(s"bucketed merge $b-key batch") {
          graft.etl.Load.upsertBucketed(spark, batch, bdir, "event_id", 1024)
        }
      }
      oneDay.unpersist()
    }

    // ---- connected components (q80 shape): dup-cluster graphs are ----
    // ---- many small components; pointer jumping must converge in  ----
    // ---- O(log diameter) rounds with bounded plans (localCheckpoint ----
    // ---- truncates lineage — without it analysis OOMs ~20 rounds). ----
    time("connected components 1M/2M") {
      val n = math.min(rows / 10, 1000000L)
      val nodes = spark.range(n).select(col("id").as("node"))
      // ring-of-10 clusters (diameter 5 after symmetrize) + a few
      // long chains to exercise the pointer-jumping path
      val ring = spark.range(n).select(col("id").as("a"),
        (col("id") - col("id") % 10 + (col("id") + 1) % 10).as("b"))
        .filter(col("b") < n) // the last ring may be partial: no phantom node n
      val chain = spark.range(1000).select(
        (lit(n) - 1000 + col("id")).as("a"),
        (lit(n) - 1000 + col("id") + 1).as("b"))
        .filter(col("b") < n)
      val labels = Graph.connectedComponents(nodes, ring.union(chain))
      // checkpoint blocks are reclaimed by the ContextCleaner once
      // `labels` goes out of scope (Dataset.unpersist would be a no-op
      // on localCheckpoint storage)
      labels.select(col("lbl")).distinct().count()
    }

    // ---- connected components at 10M nodes / 20M edges with the   ----
    // ---- RELIABLE checkpoint path active (HDFS-style durability:   ----
    // ---- rounds survive executor loss; localCheckpoint above would ----
    // ---- not). Two intra-ring strides double the edge count; a 5k  ----
    // ---- chain forces genuine pointer-jumping depth.               ----
    time("connected components 10M/20M reliable") {
      val n = 10000000L
      spark.sparkContext.setCheckpointDir(s"$dir/ckpt")
      try {
        val nodes = spark.range(n).select(col("id").as("node"))
        def ring(stride: Long) = spark.range(n).select(col("id").as("a"),
          (col("id") - col("id") % 10 + (col("id") + stride) % 10).as("b"))
          .filter(col("b") < n)
        val chain = spark.range(5000).select(
          (lit(n) - 5000 + col("id")).as("a"),
          (lit(n) - 5000 + col("id") + 1).as("b"))
          .filter(col("b") < n)
        val labels = Graph.connectedComponents(nodes,
          ring(1).union(ring(3)).union(chain),
          reliableCheckpoint = Some(true))
        labels.select(col("lbl")).distinct().count()
      } finally spark.sparkContext.setCheckpointDir(null)
    }

    // ---- tiled all-pairs cosine (q33 shape): no driver collect, ----
    // ---- per-task memory bounded by tile size.  Pair-evaluation  ----
    // ---- work is inherently N² — what must stay flat is memory   ----
    // ---- per task and shuffle volume per vector (= tiles copies) ----
    val dim = 64
    def vecs(n: Long) = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        k => (pmod(hash(col("id") * lit(dim) + k), lit(1000)) / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    for (n <- Seq(50000L, 100000L, 200000L)) {
      // tiles sized so a tile holds ~2×12.5k vectors (~6 MB) at any n
      val tiles = math.max(8, (n / 12500L).toInt)
      time(s"tiled cosine all-pairs ${n / 1000}k (B=$tiles)") {
        graft.queries.VectorQueries
          .cosinePairsTiled(vecs(n), tiles, 0.995).count()
      }
    }

    // ---- inverted-index join with df cap (q31 shape): a planted  ----
    // ---- stop-shingle with df=rows/10 would alone emit (rows/10)² ----
    // ---- join rows (10¹² at 100M docs); the cap prunes it before ----
    // ---- the self-join so the output is bounded by df_cap² per key ----
    time("posting self-join, hot key capped") {
      val dfCap = 64L
      // rows postings: 10% share one hot shingle hash, the rest are
      // near-unique (df ≤ ~2)
      val inst = spark.range(rows).select(
        col("id").as("doc_id"),
        when(col("id") % 10 === 0, lit(0L))
          .otherwise(pmod(hash(col("id")), lit(rows / 2))).as("h"))
      val hot = inst.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select(col("h"))
      val pruned = inst.join(broadcast(hot), Seq("h"), "left_anti")
      pruned.as("a").join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .count()
    }
    // ---- chunk dedup (q115 shape): corpus-wide chunk-frequency    ----
    // ---- join over 1M docs × 3 chunks; boilerplate planted in 10% ----
    // ---- of docs is struck from every one of them. One shuffle on ----
    // ---- the chunk text — the same scale shape as exact dedup.    ----
    time("chunk dedup 1M docs") {
      val nDocs = 1000000L
      def uniq(seed: Int) = concat_ws(" ", (0 until 10).map(k =>
        concat(lit("w"), pmod(hash(col("doc_id") * 131 + lit(seed * 17 + k)),
          lit(1000000000)))): _*)
      val boiler = (1 to 10).map(i => s"boiler$i").mkString(" ")
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("doc_id") % 10 === 0, lit(boiler)).otherwise(uniq(1)),
          uniq(2), uniq(3)).as("text"))
      val out = graft.queries.TextQueries.chunkDedup(docs, 10, 2)
      // boilerplate must be gone: planted docs keep 2 of 3 chunks
      val planted = out.filter(col("doc_id") % 10 === 0)
        .filter(col("n_kept") =!= 2).count()
      require(planted == 0, s"$planted planted docs kept boilerplate")
      out.count()
    }

    // ---- substring span-removal rewrite (q146 shape): [rows] docs ----
    // ---- × 30 tokens, a 10-token span planted VERBATIM in 10% of  ----
    // ---- docs. Only the pure span window repeats across docs      ----
    // ---- (boundary windows mix doc-unique tokens), so planted     ----
    // ---- docs must lose exactly those 10 positions and clean docs ----
    // ---- none — correctness asserted in-run, wall time reported.  ----
    // The phase also reports total shuffle-write RECORDS: the census
    // exchange carries docs×(len−winLen+1) fingerprint rows — the
    // row-inflation watch item (VERDICT r6 #2) — so the count is the
    // evidence for linear-vs-blowup at 10M (`Stress 10000000 substr`).
    val substrShuffleRecs = new java.util.concurrent.atomic.AtomicLong(0)
    val substrListener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        substrShuffleRecs.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    if (wanted("substr")) spark.sparkContext.addSparkListener(substrListener)
    time(s"substr rewrite ${rows / 1000000}M docs") {
      val nDocs = rows
      // xxhash64 token ids: a 1e9 token space collides a few times
      // across 100k planted docs (birthday) and window 2 of a planted
      // pair then duplicates too — 64-bit ids make that ~1e-10
      def uniqTok(seed: Int) = (0 until 10).map(k =>
        concat(lit("w"), xxhash64(col("doc_id") * 131 + lit(seed * 17 + k))))
      val span = (1 to 10).map(i => s"span$i").mkString(" ")
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 10 === 0, lit(span))
            .otherwise(concat_ws(" ", uniqTok(1): _*)) +:
          (uniqTok(2) ++ uniqTok(3)): _*).as("text"))
      val out = graft.queries.TextQueries.substringDedupRewrite(docs, 10)
      val wrong = out.filter(
        (col("doc_id") % 10 === 0 && col("n_removed") =!= 10) ||
        (col("doc_id") % 10 =!= 0 && col("n_removed") =!= 0)).count()
      require(wrong == 0, s"$wrong docs removed the wrong span count")
      out.count()
    }
    if (wanted("substr")) {
      Thread.sleep(2000) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(substrListener)
      println(f"[stress] substr shuffle-write records total: " +
        f"${substrShuffleRecs.get()}%,d (census exchange ≈ docs×21 " +
        f"fingerprint rows at 30-token docs, winLen=10)")
    }

    // ---- LSH band buckets with cap (q30 shape): 10⁵ planted       ----
    // ---- near-identical docs land in the SAME bucket of all 4     ----
    // ---- bands; uncapped that is 4×(10⁵ choose 2) ≈ 2·10¹⁰        ----
    // ---- candidate rows through one key. The cap drops the hot    ----
    // ---- buckets whole, so the join completes in seconds.         ----
    // earlier phases (tiled cosine, CC checkpoints) leave cached
    // blocks behind; drop them so the remaining phases measure their
    // own work instead of a GC-pressured JVM (the full-sweep incdedup
    // signature pass ran 9x slower than isolated before this)
    spark.catalog.clearCache()

    // ---- incremental near-dup dedup (q136 shape): a daily batch   ----
    // ---- probing the PERSISTED band index vs rebuilding the LSH    ----
    // ---- join over the whole corpus. The bootstrap is one-time;    ----
    // ---- the recurring cost to compare is probe vs rebuild — the   ----
    // ---- probe must scale with the batch (10k docs), the rebuild   ----
    // ---- with the corpus (1M), so expect ~corpus/batch separation. ----
    // The production cost structure this A/B mirrors: the corpus TEXT
    // lives on disk and is orders of magnitude bigger than the band
    // index (4 short rows per doc), and signature computation (one md5
    // per shingle × 12 permutations) dominates — so a rebuild re-pays
    // the full corpus scan + signature pass every day, while the probe
    // pays it only for the batch. 100 shingles/doc ≈ a few-hundred-
    // word document. The merge-back rewrites every touched bucket —
    // at 10k docs × 4 bands a batch touches ALL buckets, so it is a
    // full INDEX rewrite; that stays cheap precisely because the index
    // is small, which is the point of persisting signatures instead of
    // re-deriving them.
    val corpusN = 1000000L
    val shPerDoc = 100
    def dedupDocs(from: Long, until: Long, grp: org.apache.spark.sql.Column) =
      spark.range(from, until).withColumn("grp", grp)
        .select(col("id").as("doc_id"),
          transform(sequence(lit(0), lit(shPerDoc - 1)),
            k => concat(lit("s"), col("grp") * shPerDoc + k)).as("sh"))
    val idir = s"$dir/incdedup_index"
    val cdir = s"$dir/incdedup_corpus"
    if (only.isEmpty || only.exists(_.exists(_.startsWith("incdedup")))) {
      val ip = new org.apache.hadoop.fs.Path(idir)
      ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ip, true)
      // corpus: docs 0,1 mod 20 are planted near-dup pairs (~100k)
      dedupDocs(0L, corpusN,
        when(col("id") % 20 < 2, col("id") - col("id") % 2)
          .otherwise(col("id")))
        .write.mode("overwrite").parquet(cdir)
    }
    lazy val corpusDocs = spark.read.parquet(cdir)
    // batch: 10k new docs, every 10th re-using a corpus doc's shingles
    lazy val batchDocs = dedupDocs(corpusN, corpusN + 10000L,
      when(col("id") % 10 === 0,
        pmod(hash(col("id")), lit(corpusN)).cast(LongType))
        .otherwise(col("id")))
    time("incdedup index bootstrap 1M") {
      graft.ops.IncrementalDedup.mergeSignatures(spark,
        graft.ops.IncrementalDedup.bandRows(
          graft.ops.IncrementalDedup.signatures(corpusDocs)), idir, 256)
    }
    // probe-then-merge: materialize first (the merge swaps the very
    // bucket dirs a lazy probe plan would later re-read)
    lazy val batchRows = graft.ops.Relational.eager(
      graft.ops.IncrementalDedup.bandRows(
        graft.ops.IncrementalDedup.signatures(batchDocs)))
    time("incdedup batch probe 10k") {
      graft.ops.IncrementalDedup.probe(spark, batchRows, idir, 256).count()
    }
    time("incdedup batch merge-back 10k") {
      graft.ops.IncrementalDedup.mergeSignatures(spark, batchRows, idir, 256)
    }
    time("incdedup full rebuild 1M+10k") {
      // the non-incremental alternative: q30's capped band join over
      // corpus ∪ batch, restricted to pairs touching the batch
      graft.queries.TextQueries.cappedBandCandidates(
        graft.ops.IncrementalDedup.bandRows(
          graft.ops.IncrementalDedup.signatures(
            corpusDocs.unionByName(batchDocs))), 64L)
        .filter(col("db") >= corpusN).count()
    }

    // ---- vocab tokenization at adversarial scale (q134/q137 shape): ----
    // ---- 1M docs × 30 tokens under a Zipf head (one hot word is    ----
    // ---- ~30% of all tokens — the natural-language worst case) and ----
    // ---- a 200k surface vocabulary. The encode join must stay      ----
    // ---- BROADCAST (the vocab is top-V small by construction) and  ----
    // ---- the per-doc reassembly groupBy must be the ONLY wide      ----
    // ---- exchange — a hot WORD never becomes a hot KEY because     ----
    // ---- nothing ever shuffles on the word.                        ----
    // docs go through PARQUET (a range source would satisfy the
    // groupBy distribution by its contiguous-id partitioning and hide
    // the reassembly shuffle the real corpus scan pays)
    val vdocsDir = s"$dir/stress_vocab_docs"
    val vdir = s"$dir/stress_vocab"
    if (Seq("vocab train 1M docs (Zipf)", "vocab encode 1M docs (Zipf)",
        "bpe train corpus-invariance", "bpe encode 1M docs")
        .exists(wanted)) {
      spark.range(1000000L).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(k =>
          when(pmod(hash(col("id") * 31L + lit(k)), lit(10)) < 3, lit("the"))
            .otherwise(concat(lit("w"),
              pmod(hash(col("id") * 131L + lit(k * 7)), lit(200000))))): _*)
          .as("text"))
        .write.mode("overwrite").parquet(vdocsDir)
    }
    lazy val vocabDocs = spark.read.parquet(vdocsDir)
    time("vocab train 1M docs (Zipf)") {
      graft.ops.Vocab.train(spark, vocabDocs, vdir, 50000)
    }
    time("vocab encode 1M docs (Zipf)") {
      val enc = graft.ops.Vocab.encode(vocabDocs,
        graft.etl.Load.readTable(spark, vdir).get)
      // run first (the adaptive plan only materializes its final form
      // on execution), then pin the plan shape
      enc.queryExecution.toRdd.foreach(_ => ())
      val plan = enc.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        "vocab encode join must broadcast the vocab:\n" + plan)
      val wide = "Exchange hashpartitioning".r
        .findAllMatchIn(plan.split("== Initial Plan ==")(0)).length
      require(wide == 1,
        s"vocab encode must have exactly 1 wide exchange (the per-doc " +
          s"reassembly), found $wide:\n" + plan)
      1000000L
    }

    // ---- BPE train/apply (q149 shape): the train-cost claim under ----
    // ---- test is "merge rounds scale with the VOCABULARY, not the ----
    // ---- corpus" — the corpus is shuffled once (word counts) and  ----
    // ---- every round aggregates the cached distinct-word frame.   ----
    // ---- Evidence: train on 1M docs vs a 100k-doc slice with the  ----
    // ---- SAME word surface — the 10× corpus should cost only the  ----
    // ---- one bootstrap shuffle more, nowhere near 10×.            ----
    lazy val bpeMerges = {
      val t0 = System.nanoTime()
      val m = graft.ops.Bpe.train(spark, vocabDocs, numMerges = 16)
      println(f"[stress] bpe train 1M docs           rounds=16  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
      m
    }
    time("bpe train corpus-invariance") {
      val full = bpeMerges
      val t0 = System.nanoTime()
      val small = graft.ops.Bpe.train(spark,
        vocabDocs.filter(col("doc_id") % 10 === 0), numMerges = 16)
      val tSmall = (System.nanoTime() - t0) / 1e9
      println(f"[stress] bpe train 100k-doc slice    rounds=16  $tSmall%8.2f s")
      // same Zipf word surface → merge rounds see (nearly) the same
      // distinct-word frame; a corpus-scaling trainer would be ~10×
      require(small.nonEmpty && full.nonEmpty, "bpe training produced no merges")
      full.length.toLong
    }
    time("bpe train 64-merge rounds") {
      val t0 = System.nanoTime()
      val m = graft.ops.Bpe.train(spark, vocabDocs, numMerges = 64)
      val dt = (System.nanoTime() - t0) / 1e9
      // flat-round evidence: with the incremental state column, 4× the
      // merge rounds should cost ~4× (per-round ~constant); the re-fold
      // shape paid O(rounds²) string work and would show per-round cost
      // growing with the round number
      println(f"[stress] bpe per-round at 64 merges: ${dt / 64}%.3f s/round " +
        f"(vs 16-merge per-round above)")
      m.length.toLong
    }
    time("bpe encode 1M docs") {
      val lex = graft.ops.Bpe.lexicon(
        graft.ops.Bpe.wordCounts(vocabDocs).select(col("word")), bpeMerges)
      force(graft.ops.Bpe.encode(vocabDocs, lex, bpeMerges)
        .select(col("doc_id"), col("n_tokens")))
    }

    // ---- IVF-PQ quantized search (q150 shape) at 1M vectors:      ----
    // ---- planted 64-center structure, trained (iters=2) coarse    ----
    // ---- model, int8-residual index. The A/B under test: coarse   ----
    // ---- search reads the QUANTIZED table only (on-disk ratio     ----
    // ---- printed — the "index that fits in executor memory"), and ----
    // ---- the exact re-rank touches C rows per query — against the ----
    // ---- brute-force float scan of all 1M rows per query batch.   ----
    // ---- Recall of the quantized path vs brute-force is asserted  ----
    // ---- in-run.                                                  ----
    val pqVecDir = s"$dir/stress_pq_vecs"
    val pqIdxDir = s"$dir/stress_pq_index"
    val pqLabels = Seq("ivfpq index 1M vecs", "ivfpq search 1M vecs",
      "ivfpq brute 1M vecs")
    if (pqLabels.exists(wanted)) {
      // high-entropy floats (~2M distinct center values, ~1M distinct
      // noise values): real embeddings don't dictionary-encode, and a
      // low-entropy synthetic float table would flatter the float side
      // of the on-disk comparison
      val dim = 32
      spark.range(1000000L).select(col("id").as("vec_id"),
        array((0 until dim).map { j =>
          ((pmod(hash(pmod(col("id"), lit(64)) * 1009L + lit(j)),
              lit(2000003)) / 1000001.0 - 1.0) +
            pmod(hash(col("id") * 31L + lit(j * 7 + 1)), lit(1000003))
              / 10000030.0)
            .cast(FloatType)
        }: _*).as("embedding"))
        .write.mode("overwrite").parquet(pqVecDir)
    }
    import graft.functions.VectorExpressions.vecDot
    def vnorm(c: org.apache.spark.sql.Column) = sqrt(vecDot(c, c))
    lazy val pqVecs = spark.read.parquet(pqVecDir)
    // 5% training sample, CONTIGUOUS ids: kmeansFit seeds from the k
    // lowest vec_ids, and a strided sample (% 20) steps the planted
    // 64-center cycle with period lcm(20,64)/20 = 16 — the 64 seeds
    // then cover only 16 distinct centers, clusters merge, and the
    // residuals the quantizers compress go bimodal-large (the
    // per-vector-scaled int8 path shrugs that off; shared PQ
    // codewords cannot)
    lazy val pqModel = graft.ops.VectorOps.kmeansFit(
      pqVecs.filter(col("vec_id") < 50000), k = 64, iters = 2)
    lazy val pqCdf = {
      import spark.implicits._
      pqModel.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", vnorm(col("ce")))
    }
    time("ivfpq index 1M vecs") {
      val assigned = graft.ops.VectorOps.assignClusters(pqVecs, pqModel)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
      // store WITHOUT the centroid column (it re-joins from the
      // broadcast model at search), and with the residual codes PACKED
      // to one byte each (codegen'd pack_int8 — array<int> would
      // serialize at 4 B/code): (vec_id, cluster_id, maxabs, qrb)
      graft.ops.IvfPq.quantizeIndex(assigned, pqCdf)
        .select(col("vec_id"), col("cluster_id"), col("maxabs"),
          graft.functions.VectorExpressions.packInt8(col("qr")).as("qrb"))
        .write.mode("overwrite").parquet(pqIdxDir)
      def dirBytes(p: String): Long = {
        val d = new java.io.File(p)
        Option(d.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(0L)
      }
      println(f"[stress] ivfpq on-disk bytes: quantized=${dirBytes(pqIdxDir)}%,d " +
        f"float=${dirBytes(pqVecDir)}%,d " +
        f"ratio=${dirBytes(pqIdxDir).toDouble / dirBytes(pqVecDir)}%.2f")
      spark.read.parquet(pqIdxDir).count()
    }
    lazy val pqQueries = pqVecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        vnorm(col("embedding")).as("qn"))
    time("ivfpq search 1M vecs") {
      val idx = spark.read.parquet(pqIdxDir)
        .withColumn("qr",
          graft.functions.VectorExpressions.unpackInt8(col("qrb")))
        .join(broadcast(pqCdf.select(col("cluster_id"), col("ce"))),
          Seq("cluster_id"))
      val probes = graft.ops.IvfPq.probeRoute(pqQueries, pqCdf, nprobe = 4)
      val cand = graft.ops.IvfPq.coarseSearch(idx, probes, topC = 32)
      val e = pqVecs.select(col("vec_id"), col("embedding"),
        vnorm(col("embedding")).as("nrm"))
      graft.ops.IvfPq.rerank(cand, e, topK = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .write.mode("overwrite").parquet(s"$dir/stress_pq_topk")
      spark.read.parquet(s"$dir/stress_pq_topk").count()
    }
    time("ivfpq brute 1M vecs") {
      val wB = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val brute = pqVecs
        .select(col("vec_id"), col("embedding"),
          vnorm(col("embedding")).as("nrm"))
        .crossJoin(broadcast(pqQueries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (vecDot(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("cosine"))
        .withColumn("rank", row_number().over(wB))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      val pq = spark.read.parquet(s"$dir/stress_pq_topk")
        .select(col("query_id"), col("neighbor_id"))
      val hit = pq.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = 8L * 10L
      println(f"[stress] ivfpq recall@10 vs brute force: $hit/$total " +
        f"(${hit * 100.0 / total}%.1f%%)")
      require(hit >= (total * 7) / 10,
        s"quantized-path recall@10 degraded: $hit/$total")
      total
    }

    // ---- TRUE product quantization A/B (ops/Pq, q163 shape) on    ----
    // ---- the same 1M vectors: m=16 subspaces × ks=256 codewords   ----
    // ---- (dsub=2: the synthetic residual is UNCORRELATED uniform  ----
    // ---- noise, the worst case for PQ — real embeddings carry     ----
    // ---- subspace structure; 2-dim cells keep the quantization    ----
    // ---- error well under the noise scale so ranking survives)    ----
    // ---- trained on a 5% sample (the FAISS convention — Lloyd     ----
    // ---- rounds scale with the training set, codebook quality     ----
    // ---- doesn't need the full corpus), codes PACKED to one byte  ----
    // ---- per subspace. The A/B vs the int8-scalar path: on-disk   ----
    // ---- ratio (8 code bytes vs dim+8 residual bytes per vector)  ----
    // ---- and recall@10 after the same coarse->re-rank pipeline.   ----
    val pqCbDir = s"$dir/stress_pq_codebooks"
    val pq2IdxDir = s"$dir/stress_pq2_index"
    lazy val pqAssigned = graft.ops.VectorOps.assignClusters(pqVecs, pqModel)
      .withColumn("cluster_id", col("cluster_id").cast(LongType))
    lazy val pqSub = graft.ops.Pq.subResiduals(pqAssigned, pqCdf, m = 16)
    time("pq codebook train 1M vecs") {
      graft.etl.Load.replaceTable(spark,
        graft.ops.Pq.trainCodebooks(spark,
          pqSub.filter(col("vec_id") % 20 === 0), ks = 256, iters = 2),
        pqCbDir)
    }
    time("pq index encode 1M vecs") {
      val cb = graft.etl.Load.readTable(spark, pqCbDir).get
      graft.ops.Pq.encode(pqAssigned, pqCdf, cb)
        .select(col("vec_id"), col("cluster_id"),
          graft.functions.VectorExpressions.packInt8(
            transform(col("codes"), c => c - 128)).as("cb8"))
        .write.mode("overwrite").parquet(pq2IdxDir)
      def dirBytes(p: String): Long = {
        val d = new java.io.File(p)
        Option(d.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(0L)
      }
      println(f"[stress] pq on-disk bytes: pq=${dirBytes(pq2IdxDir)}%,d " +
        f"sq=${dirBytes(pqIdxDir)}%,d float=${dirBytes(pqVecDir)}%,d " +
        f"pq/float=${dirBytes(pq2IdxDir).toDouble / dirBytes(pqVecDir)}%.3f " +
        f"pq/sq=${dirBytes(pq2IdxDir).toDouble / dirBytes(pqIdxDir)}%.3f")
      spark.read.parquet(pq2IdxDir).count()
    }
    time("pq search 1M vecs") {
      val cb = graft.etl.Load.readTable(spark, pqCbDir).get
      val idx = spark.read.parquet(pq2IdxDir)
        .select(col("vec_id"), col("cluster_id"),
          transform(graft.functions.VectorExpressions.unpackInt8(col("cb8")),
            c => c + 128).as("codes"))
      val recon = graft.ops.Pq.reconstruct(idx, cb, pqCdf)
      val probes = graft.ops.IvfPq.probeRoute(pqQueries, pqCdf, nprobe = 4)
      // topC is the PQ recall lever: at 1 byte per 4 dims the coarse
      // ranking is far blunter than the int8-scalar path's, so the
      // exact re-rank pool must be wider (the standard PQ trade —
      // Jégou et al. re-rank with R >> k); 1024 rows/query through
      // the float join is still ~nothing next to the 62k coarse
      // candidates the probes admit
      val cand = graft.ops.Pq.coarseSearch(recon, probes, topC = 1024)
      val e = pqVecs.select(col("vec_id"), col("embedding"),
        vnorm(col("embedding")).as("nrm"))
      graft.ops.IvfPq.rerank(cand, e, topK = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .write.mode("overwrite").parquet(s"$dir/stress_pq2_topk")
      spark.read.parquet(s"$dir/stress_pq2_topk").count()
    }
    if (wanted("pq search 1M vecs")) {
      val wB = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val brute = pqVecs
        .select(col("vec_id"), col("embedding"),
          vnorm(col("embedding")).as("nrm"))
        .crossJoin(broadcast(pqQueries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (vecDot(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
            .as("cosine"))
        .withColumn("rank", row_number().over(wB))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      val pq = spark.read.parquet(s"$dir/stress_pq2_topk")
        .select(col("query_id"), col("neighbor_id"))
      val hit = pq.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = 8L * 10L
      println(f"[stress] pq recall@10 vs brute force: $hit/$total " +
        f"(${hit * 100.0 / total}%.1f%%)")
      require(hit >= (total * 7) / 10,
        s"pq-path recall@10 degraded: $hit/$total")
    }

    // ---- ADC A/B (q170 shape) over the SAME 1M-vector PQ index:   ----
    // ---- the reconstruction coarse pass must explode each row's m ----
    // ---- codes, join the codebook, and groupBy-reassemble ĉ —     ----
    // ---- a corpus-sized shuffle of the probed set BEFORE any      ----
    // ---- scoring; ADC broadcasts a per-query m×ks LUT instead and ----
    // ---- scores each candidate as qc + m array lookups straight   ----
    // ---- out of the scan, so the only shuffle left is the top-C   ----
    // ---- window. Wall AND shuffle bytes are recorded per side;    ----
    // ---- the exact re-rank then pins top-k agreement.             ----
    val adcLabels = Seq("adc search 1M vecs", "adc recon coarse 1M vecs")
    if (adcLabels.exists(wanted)) {
      val shuffled = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            Option(te.taskMetrics).foreach(m =>
              shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        })
      def withShuffleBytes(label: String)(f: => Long): Unit = {
        Thread.sleep(300) // settle listener events from prior work
        val before = shuffled.get()
        time(label)(f)
        Thread.sleep(500)
        println(f"[stress] $label shuffle bytes: " +
          f"${shuffled.get() - before}%,d")
      }
      val cb = graft.etl.Load.readTable(spark, pqCbDir).get
      val cbSeq = graft.ops.Pq.collectCodebook(cb)
      val idx = spark.read.parquet(pq2IdxDir)
        .select(col("vec_id"), col("cluster_id"),
          transform(graft.functions.VectorExpressions.unpackInt8(col("cb8")),
            c => c + 128).as("codes"))
      val adcIdxDir = s"$dir/stress_adc_index"
      graft.ops.Pq.adcIndex(idx, pqCdf, cbSeq)
        .write.mode("overwrite").parquet(adcIdxDir)
      val probes = graft.ops.IvfPq.probeRoute(pqQueries, pqCdf, nprobe = 4)
        .localCheckpoint()
      val e = pqVecs.select(col("vec_id"), col("embedding"),
        vnorm(col("embedding")).as("nrm"))
      withShuffleBytes("adc search 1M vecs") {
        val cand = graft.ops.Pq.adcSearch(
          spark.read.parquet(adcIdxDir),
          graft.ops.Pq.probeLuts(probes, pqCdf, cbSeq), topC = 1024)
        graft.ops.IvfPq.rerank(cand, e, topK = 10)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .write.mode("overwrite").parquet(s"$dir/stress_adc_topk")
        spark.read.parquet(s"$dir/stress_adc_topk").count()
      }
      withShuffleBytes("adc recon coarse 1M vecs") {
        val recon = graft.ops.Pq.reconstruct(idx, cb, pqCdf)
        val cand = graft.ops.Pq.coarseSearch(recon, probes, topC = 1024)
        graft.ops.IvfPq.rerank(cand, e, topK = 10)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .write.mode("overwrite").parquet(s"$dir/stress_adcref_topk")
        spark.read.parquet(s"$dir/stress_adcref_topk").count()
      }
      val aSet = spark.read.parquet(s"$dir/stress_adc_topk")
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bSet = spark.read.parquet(s"$dir/stress_adcref_topk")
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val agree = aSet.intersect(bSet).size
      println(f"[stress] adc vs recon top-10 agreement: $agree/${bSet.size}")
      require(agree >= (bSet.size * 9) / 10,
        s"ADC top-k diverged from reconstruction: $agree/${bSet.size}")
    }

    // ---- INCREMENTAL PQ/ADC warehouse (q172/q180 shape) at 1M     ----
    // ---- vectors: bootstrap trains + persists both models and     ----
    // ---- encodes generation 0; a 10k batch then folds under the   ----
    // ---- FROZEN models (assignment join + fused encode — zero     ----
    // ---- shuffle, O(batch)); compaction collapses the generations ----
    // ---- with one cluster-keyed shuffle. The A/B is the warehouse ----
    // ---- contract: append cost must be independent of the stored  ----
    // ---- 1M vectors, compaction linear in index size.             ----
    val aiLabels = Seq("adcingest bootstrap 1M", "adcingest 10k batch",
      "adcingest compact 1M")
    if (aiLabels.exists(wanted)) {
      val aiDir = s"$dir/stress_adcingest"
      val aiDim = 32
      def aiVecs(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("vec_id"),
        array((0 until aiDim).map { j =>
          ((pmod(hash(pmod(col("id"), lit(64)) * 1009L + lit(j)),
              lit(2000003)) / 1000001.0 - 1.0) +
            pmod(hash(col("id") * 31L + lit(j * 7 + 1)), lit(1000003))
              / 10000030.0)
            .cast(FloatType)
        }: _*).as("embedding"))
      time("adcingest bootstrap 1M") {
        // deterministic contiguous 5% training sample (the strided-
        // sample/planted-cycle lesson from the round-8 PQ fixture)
        graft.ops.AdcIngest.bootstrap(spark, aiVecs(0L, 1000000L), aiDir,
          k = 64, m = 16, ks = 256,
          trainOn = Some(aiVecs(0L, 50000L)))
        spark.read.parquet(s"$aiDir/index").count()
      }
      time("adcingest 10k batch") {
        require(graft.ops.AdcIngest.append(spark,
          aiVecs(1000000L, 1010000L), aiDir, 1L), "batch 1 must land")
        spark.read.parquet(s"$aiDir/index")
          .filter(col("batch") === 1).count()
      }
      time("adcingest compact 1M") {
        graft.ops.AdcIngest.compact(spark, aiDir)
        require(graft.ops.AdcIngest.segmentCount(spark, aiDir) == 1,
          "compaction must leave one generation")
        spark.read.parquet(s"$aiDir/index").count()
      }
    }

    // ---- NB classifier (q154 shape) at 1M docs: 32 high-frequency ----
    // ---- class-marker words (pos: cm0-15, neg: cm16-31, present   ----
    // ---- in ~97% of docs) + 25 filler tokens from a 50k vocab     ----
    // ---- that mostly misses the top-512 cap (OOV = neutral).      ----
    // ---- TRAIN is the one shuffle (30M-token explode, map-side    ----
    // ---- combined); SCORE must run at scan speed — zero exchanges,----
    // ---- the 512-entry model rides as a map literal. Accuracy is  ----
    // ---- asserted in-run: markers carry ~ln(78k) weight each, so  ----
    // ---- any marker decides the doc.                              ----
    val nbDir = s"$dir/stress_nb"
    val nbM = s"${rows / 1000000}M"
    lazy val nbDocs = spark.range(rows)
      .select(col("id").as("doc_id"), (pmod(col("id"), lit(2)) === 0).as("label"))
      .withColumn("text", concat_ws(" ",
        ((0 until 5).map { j =>
          when(pmod(hash(col("doc_id") * 13L + lit(j)), lit(2)) === 0,
            concat(lit("cm"),
              pmod(hash(col("doc_id") * 17L + lit(j)), lit(16)) +
                when(col("label"), lit(0)).otherwise(lit(16))))
            .otherwise(lit(""))
        } ++ (0 until 25).map { j =>
          concat(lit("w"), pmod(hash(col("doc_id") * 31L + lit(j)), lit(50000)))
        }): _*))
    time(s"nb train $nbM docs") {
      graft.ops.NaiveBayes.train(spark,
        nbDocs.select(col("text"), col("label")), nbDir, vocabCap = 512)
      rows
    }
    time(s"nb score $nbM docs") {
      force(graft.ops.NaiveBayes.score(spark, nbDocs, nbDir)
        .select(col("doc_id"), col("label"), col("margin_micro"),
          col("pred_pos")))
    }
    if (wanted(s"nb score $nbM docs")) {
      val acc = graft.ops.NaiveBayes.score(spark, nbDocs, nbDir)
        .filter(col("pred_pos") === col("label")).count().toDouble / rows
      println(f"[stress] nb classifier accuracy: $acc%.4f")
      require(acc >= 0.9, f"nb accuracy degraded: $acc%.4f")
    }

    time("nb extend 10k batch") {
      // incremental model fold: batch explode + vocab-sized count
      // merge — must cost O(batch + vocab), never a corpus re-read
      val batch = spark.range(rows, rows + 10000L)
        .select(col("id").as("doc_id"),
          (pmod(col("id"), lit(2)) === 0).as("label"))
        .withColumn("text", concat_ws(" ", (0 until 25).map { j =>
          concat(lit("w"), pmod(hash(col("doc_id") * 31L + lit(j)), lit(50000)))
        }: _*))
      graft.ops.NaiveBayes.extend(spark,
        batch.select(col("text"), col("label")), nbDir, vocabCap = 512)
      10000L
    }
    // ---- HTML extraction (q155 shape) at 1M pages: planted title/ ----
    // ---- script/style/nav/footer chrome around a 30-token body.   ----
    // ---- Pure expression work — the phase is scan-bound; the      ----
    // ---- invariant (no markup survives into the text) is asserted ----
    // ---- over every page.                                         ----
    time(s"html extract $nbM pages") {
      val body = concat_ws(" ", (0 until 30).map { j =>
        concat(lit("w"), pmod(hash(col("id") * 37L + lit(j)), lit(30000)))
      }: _*)
      val pages = spark.range(rows).select(col("id").as("doc_id"),
        concat(
          lit("<html><head><title>D"), col("id"),
          lit("</title><script>var i="), col("id"),
          lit(";t();</script><style>.x{}</style></head><body><nav>"),
          lit("<a href=\"/\">Home</a> &gt; <a href=\"/p\">P</a></nav><p>"),
          body,
          lit(" &amp; tail</p><footer><a href=\"/l\">Legal</a></footer>"),
          lit("</body></html>")).as("html"))
      val out = pages.select(col("doc_id"),
        graft.ops.HtmlText.extractText(col("html")).as("t"),
        graft.ops.HtmlText.linkCount(col("html")).as("n_links"))
      val leaked = out.filter(col("t").rlike("</|<script|<nav|&amp;")).count()
      require(leaked == 0, s"$leaked pages leaked markup into the text")
      force(out)
    }

    // ---- cluster-balanced pruning (q156 shape) at 1M vectors with ----
    // ---- PLANTED density skew (quadratic center draw: cluster 0's ----
    // ---- region holds ~8x the mass of the sparsest). Model: k=64  ----
    // ---- trained (iters=2) on a 5% sample — the production shape: ----
    // ---- training cost is sample-sized, assignment broadcast is   ----
    // ---- one argmax exchange of N pre-reduced rows, the sample    ----
    // ---- itself is ONE window shuffle. The balance property is    ----
    // ---- asserted in-run: kept mass per cluster is sqrt-flat, so  ----
    // ---- the dense/sparse KEPT ratio must collapse vs the raw     ----
    // ---- ratio.                                                   ----
    time(s"cluster sample $nbM vecs") {
      import spark.implicits._
      val dim = 16
      val u = pmod(hash(col("id")), lit(1000)) / 1000.0
      val center = floor(u * u * 64).cast(LongType)
      val vecs = spark.range(rows).select(col("id").as("vec_id"),
        array((0 until dim).map { j =>
          ((pmod(hash(center * 1013L + lit(j)), lit(2000003)) / 1000001.0
            - 1.0) +
            pmod(hash(col("id") * 41L + lit(j * 11 + 3)), lit(1000003))
              / 5000015.0)
            .cast(FloatType)
        }: _*).as("embedding"))
      val model = graft.ops.VectorOps.kmeansFit(
        vecs.filter(col("vec_id") % 20 === 0), k = 64, iters = 2)
      val cdf = model.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", vnorm(col("ce")))
      val assigned = graft.ops.VectorOps.assignClusters(vecs, model)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .join(broadcast(cdf), Seq("cluster_id"))
        .withColumn("nrm", vnorm(col("embedding")))
        .withColumn("proto_cos",
          round(vecDot(col("embedding"), col("ce")) /
            (col("nrm") * col("cn")), 6))
        .select(col("vec_id"), col("cluster_id"), col("proto_cos"))
      val sampled = graft.ops.VectorOps.clusterBalancedSample(assigned)
      val byCluster = sampled.groupBy(col("cluster_id")).agg(
        count(lit(1)).as("n"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("kept"))
        .collect()
      val raw = byCluster.map(_.getAs[Long]("n"))
      val kept = byCluster.map(_.getAs[Long]("kept"))
      val rawRatio = raw.max.toDouble / math.max(raw.min, 1L)
      val keptRatio = kept.max.toDouble / math.max(kept.min, 1L)
      println(f"[stress] cluster sample: raw max/min=$rawRatio%.1f " +
        f"kept max/min=$keptRatio%.1f keptTotal=${kept.sum}%,d")
      require(keptRatio * keptRatio <= rawRatio * 1.5,
        f"kept skew $keptRatio%.1f not ~sqrt of raw skew $rawRatio%.1f")
      kept.sum
    }

    // ---- inverted index (q157 shape): build postings for 1M docs  ----
    // ---- (one groupBy shuffle), append a 10k batch (O(batch) —    ----
    // ---- must not re-touch the index), then the A/B the index     ----
    // ---- exists for: BM25 top-20 served from ≤3 bucket dirs vs    ----
    // ---- the q144-style full corpus scan.                         ----
    val ixDir = s"$dir/stress_invidx"
    val ixM = s"${rows / 1000000}M"
    def ixDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map { j =>
          concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)), lit(50000)))
        }: _*).as("text"))
    val ixDocsDir = s"$dir/stress_ix_docs"
    time(s"invidx build $ixM docs") {
      // corpus persisted first so the A/B below pays the same real
      // scan the index build paid (generator expressions are free;
      // disk is not)
      ixDocs(0L, rows).write.mode("overwrite").parquet(ixDocsDir)
      graft.ops.InvertedIndex.build(spark,
        spark.read.parquet(ixDocsDir), ixDir)
      spark.read.parquet(s"$ixDir/postings").count()
    }
    time("invidx append 10k batch") {
      graft.ops.InvertedIndex.addBatch(spark,
        ixDocs(rows, rows + 10000L), ixDir, batchId = 1L)
      10000L
    }
    val ixTerms = Seq("w17", "w4242", "w33333")
    time("invidx search 3 terms") {
      graft.ops.InvertedIndex.search(spark, ixDir, ixTerms, 20).count()
    }
    // ---- stopword-led phrase search (rarest-first join order):    ----
    // ---- "the" heads EVERY document, "zebra" one in a thousand.   ----
    // ---- Phrase-order joins would drag the 1M-row posting list    ----
    // ---- through the whole join chain; rarest-first starts from   ----
    // ---- the 1k-row list, so the wall tracks the RARE term's df.  ----
    val phDir = s"$dir/stress_phrase"
    def phraseDocs = spark.range(1000000L).select(col("id").as("doc_id"),
      concat(lit("the "),
        when(col("id") % 1000 === 0, lit("zebra ")).otherwise(lit("")),
        concat_ws(" ", (0 until 20).map { j =>
          concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)),
            lit(50000)))
        }: _*)).as("text"))
    time("phrase index 1M docs") {
      graft.ops.InvertedIndex.build(spark, phraseDocs, phDir)
      spark.read.parquet(s"$phDir/postings").count()
    }
    time("phrase search stopword-led") {
      val n = graft.ops.InvertedIndex.phraseSearch(spark, phDir,
        Seq("the", "zebra")).count()
      require(n == 1000L, s"expected 1000 phrase matches, got $n")
      n
    }

    // ---- MaxScore/WAND A/B (q173 shape) over the SAME index:      ----
    // ---- "the zebra" as a bag-of-words top-10. The unpruned       ----
    // ---- search drags ALL 1,001,000 postings into the doc-keyed   ----
    // ---- exchange; maxScoreSearch's essential set is {zebra}      ----
    // ---- (θ from the 1k zebra docs dwarfs the stopword's ub-sum), ----
    // ---- so only ~2k candidate postings reach it. Wall AND        ----
    // ---- shuffle-write records recorded per side; results must    ----
    // ---- be bit-identical — pruning is exact, never lossy.        ----
    // shared A/B harness (used at both scales below): shuffle-write
    // records counted around each side via a listener that is ALWAYS
    // removed afterward — stacked stress runs in one session would
    // otherwise accumulate listeners and cross-attribute counts — and
    // the pruned side is require-pinned bit-equal to the full search.
    def maxScoreAb(ixDir: String, labelTopk: String,
                   labelFull: String): Unit = {
      val recs = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(te.taskMetrics).foreach(m =>
            recs.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // BOTH sides always execute — the bit-equality require below
        // needs both result sets even when the phase filter selects
        // only one A/B label; the filter gates only the timing and
        // shuffle-record prints (an unselected side used to skip its
        // collect entirely, crashing the require on an empty seq and
        // printing a misleading 0-record line)
        def withShuffleRecords(label: String)(f: => Long): Unit =
          if (wanted(label)) {
            Thread.sleep(300) // settle listener events from prior work
            val before = recs.get()
            time(label)(f)
            Thread.sleep(500)
            println(f"[stress] $label shuffle records: " +
              f"${recs.get() - before}%,d")
          } else { f; () }
        var pruned: Seq[Seq[Any]] = Seq.empty
        var full: Seq[Seq[Any]] = Seq.empty
        withShuffleRecords(labelTopk) {
          pruned = graft.ops.InvertedIndex
            .maxScoreSearch(spark, ixDir, Seq("the", "zebra"), 10)
            .collect().toSeq.map(_.toSeq)
          pruned.size.toLong
        }
        withShuffleRecords(labelFull) {
          full = graft.ops.InvertedIndex
            .search(spark, ixDir, Seq("the", "zebra"), 10)
            .collect().toSeq.map(_.toSeq)
          full.size.toLong
        }
        require(pruned == full && pruned.size == 10,
          s"maxscore must equal the unpruned search: $pruned vs $full")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val msLabels = Seq("maxscore topk 1M docs", "bm25 full topk 1M docs")
    if (msLabels.exists(wanted)) {
      if (!new java.io.File(s"$phDir/postings/_SUCCESS").exists)
        graft.ops.InvertedIndex.build(spark, phraseDocs, phDir)
      maxScoreAb(phDir, "maxscore topk 1M docs", "bm25 full topk 1M docs")
    }
    // ---- MaxScore A/B at the SCALE knob (rows arg; the 1M→N growth ----
    // ---- curve BASELINE.md records): same fixture shape, doc count ----
    // ---- = `rows`. The unpruned side's shuffle grows linearly with ----
    // ---- the corpus (every stopword posting crosses the doc-keyed  ----
    // ---- exchange); the pruned side's essential set stays {zebra}  ----
    // ---- = rows/1000 postings — the separation RATIO is the scale  ----
    // ---- evidence. Select with label prefix "maxscore10m".         ----
    val ms10Labels = Seq("maxscore10m topk", "maxscore10m full")
    if (ms10Labels.exists(wanted)) {
      val dir10 = s"$dir/stress_maxscore_scale"
      def docs10 = spark.range(rows).select(col("id").as("doc_id"),
        concat(lit("the "),
          when(col("id") % 1000 === 0, lit("zebra ")).otherwise(lit("")),
          concat_ws(" ", (0 until 20).map { j =>
            concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)),
              lit(50000)))
          }: _*)).as("text"))
      // the index varies with the `rows` argument — pin the scale it
      // was built at (the events-table _GRAFT_ROWS pattern), or a
      // stale index from a prior run at a different [rows] would
      // silently feed 1M-scale figures into the N-scale growth curve
      val rows10 = new java.io.File(s"$dir10/_GRAFT_ROWS")
      val have10 = new java.io.File(s"$dir10/postings/_SUCCESS").exists &&
        rows10.exists &&
        new String(java.nio.file.Files.readAllBytes(rows10.toPath),
          "UTF-8").trim == rows.toString
      // build UNGATED (the 1M block's pattern): a phase filter that
      // selects only the topk/full labels still needs an index to
      // search — only the timing PRINT is label-gated
      if (!have10) {
        val t0 = System.nanoTime()
        graft.ops.InvertedIndex.build(spark, docs10, dir10)
        java.nio.file.Files.write(rows10.toPath,
          rows.toString.getBytes("UTF-8"))
        val n = spark.read.parquet(s"$dir10/postings").count()
        if (wanted("maxscore10m index build"))
          println(f"[stress] ${"maxscore10m index build"}%-28s " +
            f"rows=$n%12d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      maxScoreAb(dir10, "maxscore10m topk", "maxscore10m full")
    }
    // ---- unigram-LM tokenizer (q187 shape) at a fixed 50k-word     ----
    // ---- vocabulary: the scale claim is that train cost tracks the ----
    // ---- DISTINCT-WORD frame, never corpus rows — so training on   ----
    // ---- 5× the corpus must cost ≈ the extra wordCounts shuffle    ----
    // ---- alone, and the Viterbi lexicon pass is vocab-bound. Run   ----
    // ---- with `Stress <rows> unigram`.                             ----
    val ugLabels = Seq("unigram train small", "unigram train 5x corpus",
      "unigram viterbi lexicon")
    if (ugLabels.exists(wanted)) {
      def ugDocs(n: Long) = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map { j =>
          concat(lit("w"), pmod(hash(col("id") * 31L + lit(j)),
            lit(50000)))
        }: _*).as("text"))
      var model: org.apache.spark.sql.DataFrame = null
      def trainSmall() = graft.ops.UnigramLm.train(spark, ugDocs(rows / 5),
        vocabSize = 512, maxPieceLen = 6, emRounds = 2, seedSize = 2000)
      time("unigram train small") {
        model = trainSmall()
        model.count()
      }
      time("unigram train 5x corpus") {
        // SAME 50k-word vocabulary — only the one corpus-scale
        // wordCounts shuffle grows
        graft.ops.UnigramLm.train(spark, ugDocs(rows), vocabSize = 512,
          maxPieceLen = 6, emRounds = 2, seedSize = 2000).count()
      }
      // phase filters may select the lexicon label alone — the model
      // must then still exist (trained untimed), not NPE
      if (wanted("unigram viterbi lexicon") && model == null)
        model = trainSmall()
      time("unigram viterbi lexicon") {
        // the apply pass over the full 50k-word vocabulary DIRECTLY —
        // no corpus scan in the timing; this is the cost every encode
        // amortizes behind a broadcast
        graft.ops.UnigramLm.viterbiLexicon(
          spark.range(50000).select(
            concat(lit("w"), col("id")).as("word")),
          model, maxPieceLen = 6).count()
      }
    }
    time("invidx full-scan bm25 A/B") {
      // what serving WITHOUT the index costs: recompute stats + tf over
      // the whole corpus per query (the q144 shape at 1M docs) — two
      // full passes over the persisted corpus
      val docs = spark.read.parquet(ixDocsDir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"), sum(size(col("t"))).as("sum_dl") +:
          ixTerms.zipWithIndex.map { case (term, i) =>
            sum(when(array_contains(col("t"), term), 1L).otherwise(0L))
              .as(s"df_$i")
          }: _*)
      val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
      val norm = lit(0.25) + (lit(0.75) * size(col("t"))) / avgdl
      val score = ixTerms.zipWithIndex.map { case (term, i) =>
        val tf = size(filter(col("t"), x => x === lit(term)))
        ((col("n_docs") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5))) * ((tf * lit(2.2)) / (tf + lit(1.2) * norm))
      }.reduceLeft(_ + _)
      docs.crossJoin(broadcast(stats))
        .select(col("doc_id"), score.as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20).count()
    }
    // ---- compaction (q167 shape): 5 more 10k appends decay the   ----
    // ---- tree to 7 `batch=` generations (7 files per bucket on   ----
    // ---- every pruned read); compact rewrites to one batch=0     ----
    // ---- tree. Search parity across the rewrite is asserted      ----
    // ---- in-run (pure physical move), and the same 3-term search ----
    // ---- is timed at 7 generations vs 1 — the file-count win     ----
    // ---- compaction exists for.                                  ----
    val ixCompactLabels = Seq("invidx appends x5", "invidx search 7-gen",
      "invidx compact", "invidx search compacted")
    if (ixCompactLabels.exists(wanted)) {
      time("invidx appends x5") {
        (2L to 6L).foreach { b =>
          graft.ops.InvertedIndex.addBatch(spark,
            ixDocs(rows + (b - 1) * 10000L, rows + b * 10000L), ixDir, b)
        }
        50000L
      }
      require(graft.ops.InvertedIndex.segmentCount(spark, ixDir) == 7,
        "expected 7 generations after 1 bootstrap + 6 appends")
      var pre: Array[(Long, Long, Long)] = null
      time("invidx search 7-gen") {
        pre = graft.ops.InvertedIndex.search(spark, ixDir, ixTerms, 20)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        pre.length.toLong
      }
      time("invidx compact") {
        graft.ops.InvertedIndex.compact(spark, ixDir)
        spark.read.parquet(s"$ixDir/postings").count()
      }
      require(graft.ops.InvertedIndex.segmentCount(spark, ixDir) == 1,
        "expected 1 generation after compaction")
      time("invidx search compacted") {
        val post = graft.ops.InvertedIndex.search(spark, ixDir, ixTerms, 20)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        require(post.sameElements(pre),
          "compaction broke search parity")
        post.length.toLong
      }
    }

    // ---- TIERED vs FULL compaction write amplification (q190/    ----
    // ---- q191 shape): the same bootstrap + 8-append stream       ----
    // ---- maintained two ways — compactIfNeeded(maxSegments=3)    ----
    // ---- (full rewrite per firing) vs tieredCompact(ratio=3.5)   ----
    // ---- (merge only the unsettled tail). Recorded per kind:     ----
    // ---- total bytes rewritten by maintenance over the stream    ----
    // ---- and the full/tiered ratio; asserted: the two trees      ----
    // ---- serve identical rows, and the tiered bootstrap          ----
    // ---- generation was never rewritten (byte-identical). Run    ----
    // ---- with `Stress <rows> tiered`; BASELINE.md records 1M.    ----
    val tieredLabels = Seq("tiered invidx lifecycle", "tiered adc lifecycle")
    if (tieredLabels.exists(wanted)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      def bytesOf(path: String): Long = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(hconf)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }
      def stampsOf(path: String) =
        graft.ops.SegmentCompaction.fileStamps(spark, path)
      def tiDocs(from: Long, until: Long) =
        spark.range(from, until).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 20).map { j =>
            concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)),
              lit(50000)))
          }: _*).as("text"))
      time("tiered invidx lifecycle") {
        val fullDir = s"$dir/stress_tiered_ix_full"
        val tierDir = s"$dir/stress_tiered_ix_tier"
        var fullBytes = 0L
        var tierBytes = 0L
        graft.ops.InvertedIndex.build(spark, tiDocs(0, rows), fullDir)
        graft.ops.InvertedIndex.build(spark, tiDocs(0, rows), tierDir)
        val boot0 = stampsOf(s"$tierDir/postings/batch=0")
        (1L to 8L).foreach { b =>
          val batch = tiDocs(rows + (b - 1) * 10000L, rows + b * 10000L)
          graft.ops.InvertedIndex.addBatch(spark, batch, fullDir, b)
          graft.ops.InvertedIndex.addBatch(spark, batch, tierDir, b)
          if (graft.ops.InvertedIndex.compactIfNeeded(spark, fullDir,
              maxSegments = 3))
            fullBytes += bytesOf(s"$fullDir/postings")
          val merged = graft.ops.InvertedIndex.tieredCompact(spark,
            tierDir, ratio = 3.5)
          if (merged.nonEmpty)
            tierBytes += bytesOf(s"$tierDir/postings/batch=${merged.min}")
        }
        require(stampsOf(s"$tierDir/postings/batch=0") == boot0,
          "tiered maintenance rewrote the settled bootstrap generation")
        val a = spark.read.parquet(s"$fullDir/postings")
          .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        val bb = spark.read.parquet(s"$tierDir/postings")
          .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        val (na, nb) = (a.count(), bb.count())
        require(na == nb && a.exceptAll(bb).isEmpty,
          "full- and tiered-maintained indexes diverged")
        println(f"[stress] tiered invidx bytes rewritten: " +
          f"full=$fullBytes%,d tiered=$tierBytes%,d " +
          f"ratio=${fullBytes.toDouble / tierBytes}%.1f")
        na
      }
      time("tiered adc lifecycle") {
        def tiVecs(from: Long, until: Long) =
          spark.range(from, until).select(
            col("id").as("vec_id"),
            transform(sequence(lit(0), lit(15)), j =>
              (pmod(hash(col("id") * 13L + j), lit(1000))
                .cast(org.apache.spark.sql.types.DoubleType) / 100.0)
                .cast(org.apache.spark.sql.types.FloatType))
              .as("embedding"))
        val nBoot = rows / 10
        val nApp = math.max(1000L, nBoot / 100)
        val fullDir = s"$dir/stress_tiered_adc_full"
        val tierDir = s"$dir/stress_tiered_adc_tier"
        var fullBytes = 0L
        var tierBytes = 0L
        graft.ops.AdcIngest.bootstrap(spark, tiVecs(0, nBoot), fullDir,
          k = 64, m = 8, ks = 16)
        graft.ops.AdcIngest.bootstrap(spark, tiVecs(0, nBoot), tierDir,
          k = 64, m = 8, ks = 16)
        val boot0 = stampsOf(s"$tierDir/index/batch=0")
        (1L to 8L).foreach { b =>
          val batch = tiVecs(nBoot + (b - 1) * nApp, nBoot + b * nApp)
          graft.ops.AdcIngest.append(spark, batch, fullDir, b)
          graft.ops.AdcIngest.append(spark, batch, tierDir, b)
          if (graft.ops.AdcIngest.compactIfNeeded(spark, fullDir,
              maxSegments = 3))
            fullBytes += bytesOf(s"$fullDir/index")
          val merged = graft.ops.AdcIngest.tieredCompact(spark, tierDir,
            ratio = 3.5)
          if (merged.nonEmpty)
            tierBytes += bytesOf(s"$tierDir/index/batch=${merged.min}")
        }
        require(stampsOf(s"$tierDir/index/batch=0") == boot0,
          "tiered maintenance rewrote the settled bootstrap generation")
        val a = graft.ops.AdcIngest.index(spark, fullDir)
        val bb = graft.ops.AdcIngest.index(spark, tierDir)
        val (na, nb) = (a.count(), bb.count())
        require(na == nb && a.exceptAll(bb).isEmpty,
          "full- and tiered-maintained ADC indexes diverged")
        println(f"[stress] tiered adc bytes rewritten: " +
          f"full=$fullBytes%,d tiered=$tierBytes%,d " +
          f"ratio=${fullBytes.toDouble / tierBytes}%.1f")
        na
      }
    }

    // ---- Tombstone-delete cost at scale (q197/q198/q199 shape):  ----
    // ---- build on `rows` docs (rows/10 vectors), delete 1%, and  ----
    // ---- measure the served search before/after (the broadcast   ----
    // ---- anti-join tax), the delete itself (doc-keyed sidecar    ----
    // ---- resolve + epoch write — never a postings scan), the     ----
    // ---- replayed no-op, and the compaction purge. Run with      ----
    // ---- `Stress 1000000 deletes`; BASELINE.md records 1M.       ----
    val delLabels = Seq("deletes invidx", "deletes adc")
    if (delLabels.exists(wanted)) {
      def msOf[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f
        (r, (System.nanoTime() - t0) / 1e6)
      }
      def delDocs(from: Long, until: Long) =
        spark.range(from, until).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 20).map { j =>
            concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)),
              lit(50000)))
          }: _*).as("text"))
      time("deletes invidx") {
        val d = s"$dir/stress_del_ix"
        graft.ops.InvertedIndex.build(spark, delDocs(0, rows), d)
        val terms = Seq("w17", "w42", "w133")
        def hits() = graft.ops.InvertedIndex
          .search(spark, d, terms, 10).collect().toSeq.map(_.toSeq)
        val (_, tBase) = msOf(hits())
        val victims = spark.range(rows).select(col("id").as("doc_id"))
          .filter(col("doc_id") % 100 === 7)
        val (nDel, tDel) = msOf(
          graft.ops.InvertedIndex.delete(spark, d, victims))
        require(nDel > 0, "delete phase found nothing to delete")
        val (after, tAfter) = msOf(hits())
        require(after.forall(r => r.head.asInstanceOf[Long] % 100 != 7L),
          "a tombstoned doc served")
        val (nReplay, tReplay) = msOf(
          graft.ops.InvertedIndex.delete(spark, d, victims))
        require(nReplay == 0L, "replayed delete must be a no-op")
        val (_, tPurge) = msOf(graft.ops.InvertedIndex.compact(spark, d))
        val (afterPurge, tAfterP) = msOf(hits())
        require(afterPurge == after, "the purge changed serving")
        println(f"[stress] deletes invidx: search base=$tBase%.0f ms " +
          f"tombstoned=$tAfter%.0f ms purged=$tAfterP%.0f ms; " +
          f"delete(1%%=$nDel%,d)=$tDel%.0f ms replay=$tReplay%.0f ms " +
          f"purge=$tPurge%.0f ms")
        nDel
      }
      time("deletes adc") {
        val d = s"$dir/stress_del_adc"
        val nVec = rows / 10
        def dVecs(from: Long, until: Long) =
          spark.range(from, until).select(
            col("id").as("vec_id"),
            transform(sequence(lit(0), lit(15)), j =>
              (pmod(hash(col("id") * 13L + j), lit(1000))
                .cast(org.apache.spark.sql.types.DoubleType) / 100.0)
                .cast(org.apache.spark.sql.types.FloatType))
              .as("embedding"))
        graft.ops.AdcIngest.bootstrap(spark, dVecs(0, nVec), d,
          k = 64, m = 8, ks = 16,
          trainOn = Some(dVecs(0, math.min(nVec, 100000L))))
        val victims = spark.range(nVec).select(col("id").as("vec_id"))
          .filter(col("vec_id") % 100 === 7)
        def served() = graft.ops.AdcIngest.index(spark, d).count()
        val (nBase, tBase) = msOf(served())
        val (nDel, tDel) = msOf(
          graft.ops.AdcIngest.delete(spark, d, victims))
        require(nDel > 0, "delete phase found nothing to delete")
        val (nAfter, tAfter) = msOf(served())
        require(nAfter == nBase - nDel, "served count must drop by nDel")
        val (_, tPurge) = msOf(graft.ops.AdcIngest.compact(spark, d))
        require(served() == nAfter, "the purge changed serving")
        println(f"[stress] deletes adc: scan base=$tBase%.0f ms " +
          f"tombstoned=$tAfter%.0f ms; delete(1%%=$nDel%,d)=$tDel%.0f ms " +
          f"purge=$tPurge%.0f ms")
        nDel
      }
    }

    // ---- ANN recall drift vs generation (q194 shape) at scale:   ----
    // ---- bootstrap rows/2 vectors, append rows/4 in-distribution ----
    // ---- (gen 1), append rows/4 REVERSED (gen 2 — drift the      ----
    // ---- frozen models never saw). Per generation: recall@5 and  ----
    // ---- MRR of the served path (nprobe=4 → ADC topC=16 → exact  ----
    // ---- rerank) vs brute force, printed as the drift curve      ----
    // ---- BASELINE.md records. Run with `Stress 1000000           ----
    // ---- recalldrift`.                                           ----
    if (wanted("recalldrift audit")) {
      time("recalldrift audit") {
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        val k = 5
        val nBoot = rows / 2
        val nApp = rows / 4
        def rdVecs(from: Long, until: Long, rev: Boolean) = {
          val base = spark.range(from, until).select(
            col("id").as("vec_id"),
            transform(sequence(lit(0), lit(15)), j =>
              (pmod(hash(col("id") * 13L + j), lit(1000))
                .cast(DoubleType) / 100.0).cast(FloatType))
              .as("embedding"))
          if (rev) base.select(col("vec_id"),
            reverse(col("embedding")).as("embedding"))
          else base
        }
        val dirRd = s"$dir/stress_recalldrift"
        graft.ops.AdcIngest.bootstrap(spark, rdVecs(0, nBoot, rev = false),
          dirRd, k = 64, m = 8, ks = 16,
          trainOn = Some(rdVecs(0, math.min(nBoot, 100000L), rev = false)))
        graft.ops.AdcIngest.append(spark,
          rdVecs(nBoot, nBoot + nApp, rev = false), dirRd, 1L)
        graft.ops.AdcIngest.append(spark,
          rdVecs(nBoot + nApp, nBoot + 2 * nApp, rev = true), dirRd, 2L)
        val uni = rdVecs(0, nBoot + nApp, rev = false).unionByName(
            rdVecs(nBoot + nApp, nBoot + 2 * nApp, rev = true))
          .withColumn("nrm",
            sqrt(graft.functions.VectorExpressions.vecDot(
              col("embedding"), col("embedding"))))
          .withColumn("gen",
            when(col("vec_id") < nBoot, 0L)
              .when(col("vec_id") < nBoot + nApp, 1L).otherwise(2L))
        val cdf = {
          import spark.implicits._
          graft.ops.VectorOps.loadCentroids(spark, s"$dirRd/centroids")
            .toSeq.toDF("cluster_id", "ce")
            .withColumn("cluster_id",
              col("cluster_id").cast(org.apache.spark.sql.types.LongType))
            .withColumn("cn",
              sqrt(graft.functions.VectorExpressions.vecDot(
                col("ce"), col("ce"))))
        }
        val cbSeq = graft.ops.Pq.collectCodebook(
          graft.etl.Load.readTable(spark, s"$dirRd/codebooks").get)
        val q = uni.filter(col("gen") === 0 &&
            col("vec_id") % (nBoot / 16) === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val pl = graft.ops.Pq.probeLuts(
          graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cbSeq)
        val idxAll = spark.read.parquet(s"$dirRd/index")
        (0L to 2L).foreach { g =>
          val uniG = uni.filter(col("gen") <= g)
          val idxG = idxAll.filter(col("batch") <= g)
            .select(col("vec_id"), col("cluster_id"), col("codes"),
              col("vn"))
          val srv = graft.ops.IvfPq.rerank(
              graft.ops.Pq.adcSearch(idxG, pl, topC = 16), uniG, topK = k)
            .select(col("query_id"), col("rank"), col("neighbor_id"))
          val wEx = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("exc").desc, col("vec_id"))
          val ex = uniG.join(broadcast(q), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id"),
              round(graft.functions.VectorExpressions.vecDot(
                col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
                .as("exc"))
            .withColumn("erank", row_number().over(wEx))
            .filter(col("erank") <= k)
          val agg = srv.join(
              broadcast(ex.select(col("query_id"),
                col("vec_id").as("neighbor_id"), col("erank"))),
              Seq("query_id", "neighbor_id"))
            .groupBy(col("query_id")).agg(
              (count(lit(1)) * lit(1000000L / k)).as("recall_micro"),
              max(when(col("erank") === 1, expr("1000000 div rank")))
                .as("mrr0"))
            .agg(count(lit(1)), sum(col("recall_micro")),
              sum(coalesce(col("mrr0"), lit(0L)))).head()
          val nq = q.count()
          println(f"[stress] recalldrift gen=$g " +
            f"recall@5=${agg.getLong(1).toDouble / (nq * 1e6)}%.3f " +
            f"mrr=${agg.getLong(2).toDouble / (nq * 1e6)}%.3f " +
            f"(queries=$nq)")
        }
        nBoot + 2 * nApp
      }
    }

    // ---- multiclass language-ID (q192 shape): [rows] docs across ----
    // ---- 5 planted "languages" with disjoint alphabets. TRAIN is ----
    // ---- one vocab-sized shuffle over char trigrams; SCORE is    ----
    // ---- the zero-exchange per-class WeightedTokenSum fold —     ----
    // ---- the figure is corpus-scan throughput with 5 codegen'd   ----
    // ---- folds per doc. Held-out accuracy require-pinned 100%    ----
    // ---- (the alphabets are disjoint — anything less is a bug).  ----
    // ---- Run with `Stress <rows> langid`.                        ----
    val liLabels = Seq("langid train", "langid score")
    if (liLabels.exists(wanted)) {
      val alphas = typedLit(Seq("abcde", "fghij", "klmno", "pqrst", "uvwxy"))
      def liDocs = spark.range(rows).select(
        col("id").as("doc_id"),
        concat(lit("l"), pmod(col("id"), lit(5))).as("lang"),
        concat_ws(" ", (0 until 15).map { j =>
          element_at(alphas, pmod(col("id"), lit(5)).cast(
            org.apache.spark.sql.types.IntegerType) + 1)
            .substr(pmod(hash(col("id") * 31L + lit(j)), lit(3))
              .cast(org.apache.spark.sql.types.IntegerType) + 1, lit(3))
        }: _*).as("text"))
      val liDir = s"$dir/stress_langid"
      val liM = s"${rows / 1000000}M"
      lazy val liToks = liDocs.select(col("doc_id"), col("lang"),
        graft.ops.NaiveBayes.charNgrams(col("text"), 3).as("tokens"))
      time(s"langid train $liM docs") {
        graft.ops.NaiveBayes.trainMulti(spark,
          liToks.filter(col("doc_id") % 3 =!= 0)
            .select(col("tokens"), col("lang").as("label")),
          liDir, vocabCap = 4096)
        spark.read.parquet(s"$liDir/weights").count()
      }
      time(s"langid score $liM docs") {
        val scored = graft.ops.NaiveBayes.scoreMulti(spark, liToks, liDir)
        val agg = scored.agg(
          sum(when(col("pred_label") === col("lang"), 1L).otherwise(0L)),
          count(lit(1))).head()
        require(agg.getLong(0) == agg.getLong(1),
          s"disjoint alphabets must classify perfectly: " +
            s"${agg.getLong(0)} of ${agg.getLong(1)}")
        agg.getLong(1)
      }
    }

    // ---- DSIR importance selection (q161 shape): pool of [rows]  ----
    // ---- docs, every 10th speaks a PLANTED target dialect (token ----
    // ---- prefix "t", 500-word vocab) while the rest speak "r".   ----
    // ---- Model: 2048 hashed-ngram buckets trained on the dialect ----
    // ---- slice vs the whole pool; scoring is the zero-exchange   ----
    // ---- WeightedTokenSum pass; selection one per-source window. ----
    // ---- Asserted in-run: a 25% per-source quota must capture    ----
    // ---- EVERY planted doc (they are 10% of the pool and score   ----
    // ---- strictly on-target).                                    ----
    val dsDir = s"$dir/stress_dsir"
    val dsM = s"${rows / 1000000}M"
    lazy val dsPool = spark.range(rows).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(hash(col("id") * 17L), lit(20))).as("source"),
      concat_ws(" ", (0 until 20).map { j =>
        concat(
          when(col("id") % 10 === 0, lit("t")).otherwise(lit("r")),
          pmod(hash(col("id") * 37L + lit(j)), lit(500)))
      }: _*).as("text"))
    time(s"dsir train $dsM docs") {
      graft.ops.Dsir.train(spark,
        dsPool.filter(col("doc_id") % 10 === 0).select(col("text")),
        dsPool.select(col("text")), dsDir, buckets = 2048)
      spark.read.parquet(s"$dsDir/model").count()
    }
    lazy val dsScored = graft.ops.Dsir.score(spark,
      dsPool.select(col("doc_id"), col("source"), col("text")), dsDir)
    // the timed write carries only the SCORED columns — shipping the
    // input text back through the noop sink would dominate the wall
    // and mask the hash cost the fast A/B below exists to measure
    time(s"dsir score $dsM docs") {
      force(dsScored.select(col("doc_id"), col("n_feats"), col("lr_micro")))
    }
    time(s"dsir select $dsM docs") {
      val sel = graft.ops.Dsir.selectTop(dsScored, "source", "doc_id", 25)
      val agg = sel.agg(
        sum(when(col("is_selected"), 1L).otherwise(0L)).as("n_sel"),
        sum(when(col("is_selected") && col("doc_id") % 10 === 0, 1L)
          .otherwise(0L)).as("n_sel_planted"),
        sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L))
          .as("n_planted")).head()
      val (nSel, nSelP, nP) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      println(f"[stress] dsir: selected=$nSel%,d planted=$nP%,d " +
        f"planted-captured=$nSelP%,d")
      require(nSelP == nP,
        s"dsir selection missed planted docs: $nSelP of $nP")
      nSel
    }
    // production-hash A/B: same dense-model algebra with the bucket
    // hash swapped md5 -> xxhash64 (recorded in meta; score follows
    // it). Both phases are zero-exchange scan-speed expression work,
    // so the wall delta IS the hash cost — the md5 digest+hex+conv
    // ladder vs one 64-bit mix per feature.
    val dsFastDir = s"$dir/stress_dsir_fast"
    time(s"dsir train fast $dsM docs") {
      graft.ops.Dsir.train(spark,
        dsPool.filter(col("doc_id") % 10 === 0).select(col("text")),
        dsPool.select(col("text")), dsFastDir, buckets = 2048, fast = true)
      spark.read.parquet(s"$dsFastDir/model").count()
    }
    time(s"dsir score fast $dsM docs") {
      force(graft.ops.Dsir.score(spark,
          dsPool.select(col("doc_id"), col("source"), col("text")), dsFastDir)
        .select(col("doc_id"), col("n_feats"), col("lr_micro")))
    }
    if (wanted(s"dsir score fast $dsM docs")) {
      // the fast model must capture the planted dialect exactly like
      // the md5 one — the hash only renames buckets
      val sel = graft.ops.Dsir.selectTop(
        graft.ops.Dsir.score(spark,
          dsPool.select(col("doc_id"), col("source"), col("text")),
          dsFastDir), "source", "doc_id", 25)
      val a = sel.agg(
        sum(when(col("is_selected") && col("doc_id") % 10 === 0, 1L)
          .otherwise(0L)),
        sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L))).head()
      require(a.getLong(0) == a.getLong(1),
        s"fast dsir missed planted docs: ${a.getLong(0)} of ${a.getLong(1)}")
    }
    time("dsir extend 10k batch") {
      // incremental model fold: batch explode + B-row count merge —
      // must cost O(batch + buckets), never a corpus re-read
      val batch = spark.range(rows, rows + 10000L).select(
        concat_ws(" ", (0 until 20).map { j =>
          concat(lit("r"), pmod(hash(col("id") * 37L + lit(j)), lit(500)))
        }: _*).as("text"))
      graft.ops.Dsir.extend(spark,
        batch.limit(1000), batch, dsDir)
      10000L
    }

    // ---- INCREMENTAL corpus ingest (q168 shape) at 1M pages:     ----
    // ---- bootstrap trains + persists every model ONCE; a 10k-page----
    // ---- batch then folds through the apply-only path (frozen    ----
    // ---- models, broadcast seen-set probe, hwm-continued pack).  ----
    // ---- The A/B is the incremental-warehouse contract: ingest   ----
    // ---- must cost O(batch + seen-set scan), never a retrain —   ----
    // ---- expect the bootstrap/ingest separation to grow with the ----
    // ---- corpus. DSIR rides the xxhash64 production hash (no     ----
    // ---- oracle at stress scale). Corpus size follows [rows]/10  ----
    // ---- so the 1M/10M A/B pins the contract: ingest wall must   ----
    // ---- stay ~flat while bootstrap grows linearly.              ----
    val ciN = math.max(rows / 10, 1000000L)
    val ciTag = s"${ciN / 1000000}M"
    val ciLabels = Seq(s"corpus ingest bootstrap $ciTag",
      "corpus ingest 10k batch")
    if (ciLabels.exists(wanted)) {
      val ciRoot = s"$dir/stress_corpusingest_$ciTag"
      val moji = graft.ops.Mojibake
      val ciPlant0 = s"caf${moji.mojibakeOf(0xE9)} pr${moji.mojibakeOf(0xE8)}s"
      val ciPlant1 = s"${moji.mojibakeOf(0x201C)}quoted${moji.mojibakeOf(0x201D)}"
      // crawl(lo,hi): ~10% in-frame url dups (id%10==9 pairs); batch
      // frames additionally alias every 7th url back onto a BOOTSTRAP
      // page (id%7==3 → kk %= ciN) so the seen set has real work
      def ciCrawl(lo: Long, hi: Long) = {
        val base = when(col("id") % 10 === 9, col("id") - 1)
          .otherwise(col("id"))
        val kk = when(lit(lo) > 0 && col("id") % 7 === 3, pmod(base, lit(ciN)))
          .otherwise(base)
        val text = concat_ws(" ", (0 until 20).map { j =>
          concat(
            when(col("id") % 3 === 0, lit("t")).otherwise(lit("r")),
            pmod(hash(col("id") * 37L + lit(j)), lit(500)))
        }: _*)
        spark.range(lo, hi).select(
          col("id").as("doc_id"),
          concat(lit("src"), pmod(hash(col("id") * 17L), lit(20)))
            .as("source"),
          when(col("id") % 3 === 0, lit("en")).otherwise(lit("xx"))
            .as("lang"),
          graft.queries.TextQueries.canonicalizeUrl(
            concat(lit("https://www.example"), kk % 7, lit(".com/page/"),
              kk, lit("?id="), kk,
              when(col("id") % 5 === 0, concat(lit("#f"), col("id")))
                .otherwise(lit("")))).as("canon_url"),
          concat(lit("<html><head><title>Doc"),
            lit("</title><script>t();</script></head><body><nav><a href=\"/\">H</a></nav><p>"),
            text, lit(" "),
            when(col("id") % 2 === 0, lit(ciPlant0)).otherwise(lit(ciPlant1)),
            lit("</p><footer><a href=\"/t\">T</a></footer></body></html>"))
            .as("html"))
      }
      time(s"corpus ingest bootstrap $ciTag") {
        graft.ops.CorpusIngest.bootstrap(spark, ciCrawl(0L, ciN), ciRoot,
          nbLabel = col("lang") === "en",
          nbSplit = col("doc_id") % 7 =!= 0,
          dsirTarget = col("doc_id") % 11 === 0,
          selectPct = 50, nbVocabCap = 512, dsirBuckets = 2048,
          bpeMerges = 16, dsirFast = true)
        val landed = spark.read.parquet(s"$ciRoot/corpus")
        val bad = landed.filter(col("lang") =!= "en").count()
        val kept = landed.count()
        require(bad * 50 < kept, s"nb gate leaked $bad of $kept")
        kept
      }
      time("corpus ingest 10k batch") {
        require(graft.ops.CorpusIngest.ingest(spark,
          ciCrawl(ciN, ciN + 10000L), ciRoot, 1L), "batch 1 must land")
        val landed = spark.read.parquet(s"$ciRoot/corpus")
          .filter(col("batch") === 1)
        val nLanded = landed.count()
        require(nLanded > 0 && nLanded < 10000L / 3,
          s"ingest admitted $nLanded of 10k — seen-set rejection, the " +
            "NB gate, or the DSIR threshold went vacuous")
        // hwm continuation: batch 1's first packed doc per source must
        // start exactly at the bootstrap stream end
        val cont = spark.read.parquet(s"$ciRoot/corpus")
          .filter(col("batch") === 0)
          .groupBy(col("source")).agg(sum(col("n_tokens")).as("hwm"))
          .join(landed.groupBy(col("source"))
            .agg(min(col("tok_before")).as("first_before")), Seq("source"))
          .filter(col("first_before") =!= col("hwm")).count()
        require(cont == 0, s"$cont sources broke hwm continuation")
        nLanded
      }
    }

    // ---- global row numbering A/B: the naive global window plans ----
    // ---- EVERY row through one task (the trap — capped at 10M so ----
    // ---- the single sorter survives); the two-pass form runs the ----
    // ---- full [rows]. The sum-of-0..n-1 require proves the       ----
    // ---- numbering is contiguous and exactly-once, not just fast.----
    time(s"global rownum 2pass ${rows / 1000000}M") {
      val rn = graft.ops.Scale.globalRowNumber(
        t.select(col("event_id"), col("user_id")),
        "rn", col("user_id"), col("event_id"))
      val r = rn.agg(count(lit(1)), sum(col("rn"))).head()
      require(r.getLong(0) == rows && r.getLong(1) == rows * (rows - 1) / 2,
        s"two-pass numbering broke contiguity: $r")
      rows
    }
    time("global rownum naive 10M") {
      val n = math.min(rows, 10000000L)
      val r = t.select(col("event_id"), col("user_id")).limit(n.toInt)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("user_id"), col("event_id"))) - 1)
        .agg(count(lit(1)), sum(col("rn"))).head()
      require(r.getLong(0) == n && r.getLong(1) == n * (n - 1) / 2,
        s"naive numbering broke: $r")
      n
    }

    // ---- tombstone-debt purge A/B (q205's machinery): one big     ----
    // ---- settled generation + one small 80%-deleted one. purgeDebt----
    // ---- rewrites ONLY the indebted generation (settled files     ----
    // ---- pinned byte-identical); the full compact — previously    ----
    // ---- the only reclaim path — rewrites everything. The         ----
    // ---- wall-clock ratio IS the design win. `Stress 1000000      ----
    // ---- debt purge`.                                             ----
    if (wanted("debt purge")) {
      time("debt purge") {
        def msOf[T](f: => T): (T, Double) = {
          val t0 = System.nanoTime(); val r = f
          (r, (System.nanoTime() - t0) / 1e6)
        }
        def dDocs(from: Long, until: Long) =
          spark.range(from, until).select(col("id").as("doc_id"),
            concat_ws(" ", (0 until 20).map { j =>
              concat(lit("w"), pmod(hash(col("id") * 29L + lit(j)),
                lit(50000)))
            }: _*).as("text"))
        val d = s"$dir/stress_debt"
        val nApp = rows / 20
        graft.ops.InvertedIndex.build(spark, dDocs(0, rows), d)
        graft.ops.InvertedIndex.addBatch(spark,
          dDocs(rows, rows + nApp), d, 1L)
        val victims = spark.range(rows, rows + nApp)
          .select(col("id").as("doc_id"))
          .filter(col("doc_id") % 5 =!= 0) // 80% of generation 1
        val (nDel, tDel) = msOf(
          graft.ops.InvertedIndex.delete(spark, d, victims))
        require(nDel > 0, "debt phase deleted nothing")
        val gen0 = graft.ops.SegmentCompaction.fileStamps(
          spark, s"$d/postings/batch=0")
        val (purged, tDebt) = msOf(
          graft.ops.InvertedIndex.purgeDebt(spark, d, tau = 0.5))
        require(purged == Seq(1L), s"debt purge fired on $purged")
        require(graft.ops.SegmentCompaction.fileStamps(spark,
            s"$d/postings/batch=0") == gen0,
          "the settled generation was rewritten")
        val (_, tFull) = msOf(graft.ops.InvertedIndex.compact(spark, d))
        println(f"[stress] debt purge: delete($nDel%,d)=$tDel%.0f ms; " +
          f"debt-purge=$tDebt%.0f ms vs full-compact=$tFull%.0f ms " +
          f"(${tFull / tDebt}%.1fx less rewrite for a 1/20 tail)")
        nDel
      }
    }

    // ---- retrain at scale (q204's machinery): rows/10 vectors —   ----
    // ---- 2/3 in-distribution bootstrap, 1/3 subspace-truncated    ----
    // ---- drift appended. recall@5 of the served path (probe →     ----
    // ---- ADC → exact rerank) on drifted queries before vs after   ----
    // ---- AdcIngest.retrain, plus the retrain wall-clock (train +  ----
    // ---- full re-encode + root swap). `Stress 1000000 retrain`.   ----
    if (wanted("retrain 10%-scale")) {
      time("retrain 10%-scale") {
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        def msOf[T](f: => T): (T, Double) = {
          val t0 = System.nanoTime(); val r = f
          (r, (System.nanoTime() - t0) / 1e6)
        }
        val nVec = rows / 10
        val cut = 2 * nVec / 3
        def rVecs(from: Long, until: Long, drift: Boolean) = {
          val base = spark.range(from, until).select(
            col("id").as("vec_id"),
            transform(sequence(lit(0), lit(15)), j =>
              (pmod(hash(col("id") * 13L + j), lit(1000))
                .cast(DoubleType) / 100.0).cast(FloatType))
              .as("embedding"))
          if (!drift) base
          else base.select(col("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i < 4, x).otherwise(lit(0.0f)))
              .as("embedding"))
        }
        val uni = rVecs(0, cut, drift = false)
          .unionByName(rVecs(cut, nVec, drift = true))
          .withColumn("nrm", sqrt(
            graft.functions.VectorExpressions.vecDot(
              col("embedding"), col("embedding"))))
        val d = s"$dir/stress_retrain"
        graft.ops.AdcIngest.bootstrap(spark, rVecs(0, cut, drift = false),
          d, k = 64, m = 8, ks = 16,
          trainOn = Some(rVecs(0, math.min(cut, 100000L), drift = false)))
        graft.ops.AdcIngest.append(spark, rVecs(cut, nVec, drift = true),
          d, 1L)
        val q = uni.filter(col("vec_id") >= cut &&
            col("vec_id") % (nVec / 50) === 1)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        def recallAt5(): Double = {
          import spark.implicits._
          val cdf = graft.ops.VectorOps.loadCentroids(spark, s"$d/centroids")
            .toSeq.toDF("cluster_id", "ce")
            .withColumn("cluster_id", col("cluster_id").cast(LongType))
            .withColumn("cn", sqrt(
              graft.functions.VectorExpressions.vecDot(col("ce"), col("ce"))))
          val cb = graft.ops.Pq.collectCodebook(
            graft.etl.Load.readTable(spark, s"$d/codebooks").get)
          val pl = graft.ops.Pq.probeLuts(
            graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cb)
          val srv = graft.ops.IvfPq.rerank(
              graft.ops.Pq.adcSearch(
                graft.ops.AdcIngest.index(spark, d), pl, topC = 16),
              uni, topK = 5)
            .select(col("query_id"), col("neighbor_id"))
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("exc").desc, col("vec_id"))
          val ex = uni.join(broadcast(q), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id"),
              (graft.functions.VectorExpressions.vecDot(
                col("qe"), col("embedding")) / (col("qn") * col("nrm")))
                .as("exc"))
            .withColumn("erank", row_number().over(w))
            .filter(col("erank") <= 5)
          val hits = srv.join(broadcast(
              ex.select(col("query_id"), col("vec_id").as("neighbor_id"))),
            Seq("query_id", "neighbor_id")).count()
          hits.toDouble / (q.count() * 5)
        }
        val pre = recallAt5()
        val (n, tRetrain) = msOf(graft.ops.AdcIngest.retrain(spark,
          uni.select(col("vec_id"), col("embedding")), d,
          k = 64, m = 8, ks = 16,
          trainOn = Some(uni.filter(
              col("vec_id") % math.max(nVec / 100000L, 1L) === 0)
            .select(col("vec_id"), col("embedding")))))
        val post = recallAt5()
        require(graft.ops.AdcIngest.lastBatch(spark, d) == 1L &&
          graft.ops.AdcIngest.modelEpoch(spark, d) == 1L,
          "retrain must keep the hwm and advance the epoch")
        println(f"[stress] retrain: drifted-query recall@5 " +
          f"$pre%.3f -> $post%.3f; retrain($n%,d vecs)=$tRetrain%.0f ms " +
          "(train + full re-encode + root swap)")
        n
      }
    }

    // ---- script-aware analyzer kernel tax (round 13, q207 shape) ----
    // The widened Unicode kernel (letter/digit runs + CJK bigrams +
    // NFC-recomposing fold) must not tax the ASCII-dominant common
    // case: index the SAME documents under the Unicode analyzer and
    // under the plain Whitespace split (the cheapest conceivable
    // tokenizer — one byte-compare per char) and compare build walls.
    // The corpus is a crawl-ish script mix: 85% ASCII, 10% Cyrillic
    // (full per-code-point fold+classify path), 5% CJK (bigram
    // emission). Folded multi-script search is then served from the
    // built index.
    if (wanted("analyzer")) {
      val nDocs = math.max(rows / 10, 100000L)
      val asciiW = typedLit(Seq("spark", "query", "merge", "table",
        "scan", "join", "filter", "batch", "window", "stream"))
      val cyrW = typedLit(Seq("москва", "привет", "данные", "поиск",
        "запрос", "таблица"))
      val corpus = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) < 17,
          concat_ws(" ", (0 until 12).map(j =>
            element_at(asciiW, pmod(hash(col("id") * 31L + j), lit(10))
              .cast(IntegerType) + 1)): _*))
          .when(pmod(col("id"), lit(20)) < 19,
            concat_ws(" ", (0 until 12).map(j =>
              element_at(cyrW, pmod(hash(col("id") * 37L + j), lit(6))
                .cast(IntegerType) + 1)): _*))
          .otherwise(concat(lit("東京都データ解析 こんにちは "),
            lit("한국어 텍스트 처리 自然言語")))
          .as("text"))
      time(s"analyzer unicode build ${nDocs / 1000}k") {
        graft.ops.InvertedIndex.build(spark, corpus, s"$dir/az_uni")
        spark.read.parquet(s"$dir/az_uni/postings").count()
      }
      time(s"analyzer whitespace build ${nDocs / 1000}k") {
        graft.ops.InvertedIndex.build(spark, corpus, s"$dir/az_ws",
          graft.ops.Analyzer.Whitespace)
        spark.read.parquet(s"$dir/az_ws/postings").count()
      }
      time("analyzer multi-script search") {
        val r = graft.ops.InvertedIndex.search(spark, s"$dir/az_uni",
          Seq("МОСКВА,", "Query!", "東京"), 10).count()
        require(r > 0, "folded multi-script search must hit")
        r
      }
      // the common-case claim isolated: a 100% ASCII corpus pays only
      // the `cp < 128` branch per char (no fold, no script lookup)
      val ascii = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          element_at(asciiW, pmod(hash(col("id") * 31L + j), lit(10))
            .cast(IntegerType) + 1)): _*).as("text"))
      time(s"analyzer unicode ascii-only ${nDocs / 1000}k") {
        graft.ops.InvertedIndex.build(spark, ascii, s"$dir/az_uni_a")
        spark.read.parquet(s"$dir/az_uni_a/postings").count()
      }
      time(s"analyzer whitespace ascii-only ${nDocs / 1000}k") {
        graft.ops.InvertedIndex.build(spark, ascii, s"$dir/az_ws_a",
          graft.ops.Analyzer.Whitespace)
        spark.read.parquet(s"$dir/az_ws_a/postings").count()
      }
    }

    time("LSH band cap, 100k near-dups") {
      val nDocs = 1000000L
      val exploded = spark.range(nDocs)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .select(col("doc_id"), col("band"),
          // every 10th doc is a planted near-dup: one shared signature
          // per band; the rest hash near-uniquely (bucket size ≤ ~2)
          when(col("doc_id") % 10 === 0,
            concat(lit("HOT"), col("band")))
            .otherwise(concat_ws("|", col("band"),
              pmod(hash(col("doc_id")), lit(nDocs / 2)))).as("sig"))
      graft.queries.TextQueries.cappedBandCandidates(exploded, 64L).count()
    }
    spark.stop()
  }
}
