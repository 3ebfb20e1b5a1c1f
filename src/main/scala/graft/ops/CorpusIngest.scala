package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Load, WriterLease}
import graft.ops.Relational.eager
import graft.ops.SegmentCompaction.visible

/** Incremental corpus-build warehouse — the INGEST twin of the q162
  * end-to-end flagship. The flagship trains and selects over the whole
  * crawl every run; a production pipeline does that ONCE (bootstrap)
  * and then folds each new crawl batch through apply-only stages at
  * O(batch): no model retrain, no corpus window, no corpus shuffle.
  * This is the corpus-level member of the incremental warehouse family
  * (signature index q136, IVF q148, inverted index q157, NB/DSIR model
  * `extend`).
  *
  * Layout under `dir`:
  *  - `mapping/`, `nb/`, `dsir/`, `merges/` — the persisted model
  *    artifacts, trained at bootstrap and FROZEN: ingest only applies
  *    them (model refresh is a separate governance decision — fold new
  *    labels via NaiveBayes.extend / Dsir.extend and re-baseline).
  *  - `corpus/batch=I/` — the packed training rows each batch landed.
  *  - `urls/batch=I/` — the canonical-URL seen set, grown per batch.
  *  - `state/` — one row per source (source, lr_min_micro, tok_hwm,
  *    last_batch): the DSIR admission threshold frozen at bootstrap,
  *    the per-source token high-water mark the packer continues from,
  *    and the replay guard. ONE table, swapped atomically, so the
  *    guard and the folds can never disagree.
  *  - `tombstones/epoch=E/` + `delmeta/` (one row: del_epoch) — the
  *    [[delete]] takedown ledger ([[SegmentCompaction]]): logically
  *    deleted doc_ids, and the commit point readers trust.
  *
  * Ingest stages, each O(batch):
  *  1. in-batch canonical-URL dedup (one window over the BATCH);
  *  2. seen-set rejection with ZERO corpus shuffle: the stored URL
  *     column is SCANNED once against a broadcast of the batch's
  *     URLs (left-semi, batch side broadcast), and the resulting
  *     ≤|batch| hits anti-join back — the corpus-sized side never
  *     moves, which is what survives a 100 TB seen set;
  *  3. HTML extract + mojibake repair (zero-shuffle codegen ladder);
  *  4. NB quality gate — persisted weights, zero-exchange scoring;
  *  5. DSIR admission by the per-source threshold RECORDED at
  *     bootstrap (min selected lr per source) — a broadcast join plus
  *     a filter, where the flagship needed a per-source window over
  *     the corpus; sources unseen at bootstrap admit at the global
  *     minimum threshold;
  *  6. BPE encode with the persisted merges and pack CONTINUING from
  *     the per-source token high-water mark — new sequences extend
  *     the corpus stream exactly where batch I−1 left it, without
  *     re-reading a single historical row.
  *
  * Exactly-once under replays, the InvertedIndex contract: corpus and
  * urls dynamic-overwrite ONLY their own `batch=I` subtree (a replay
  * rewrites identical files — idempotent by path), and the state fold
  * lands LAST behind the `last_batch` guard in one atomic swap. A
  * crash at any point heals on replay; a replayed id is a loud no-op
  * returning false.
  *
  * Cross-engine exactness: every persisted number is an integer
  * micro-unit or a count; the DuckDB oracle replays an entire ingest
  * from the persisted artifacts (models, seen set, batch-0 corpus).
  */
object CorpusIngest {

  /** Crawl schema this warehouse ingests: the caller supplies
    * `canon_url` (URL normalization policy is upstream's —
    * `TextQueries.canonicalizeUrl` is the catalog's) plus the raw
    * page.
    */
  private val CrawlCols =
    Seq("doc_id", "source", "lang", "canon_url", "html")

  /** Keep one doc per canonical URL within a frame (smallest doc_id
    * wins — deterministic and replayable).
    */
  private def dedupByUrl(crawl: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
    crawl.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** HTML → clean text for the downstream gates. */
  private def toPool(crawl: DataFrame,
                     mapping: Seq[(String, String)]): DataFrame =
    crawl.select(col("doc_id"), col("source"), col("lang"),
      col("canon_url"),
      Mojibake.repair(HtmlText.extractText(col("html")), mapping)
        .as("text"))

  /** Whether this warehouse runs the langid stage (trained at
    * bootstrap with `langid = true`).
    */
  private def hasLangid(spark: SparkSession, dir: String): Boolean =
    Load.readTable(spark, s"$dir/langid/meta").isDefined

  /** Stamp and gate a pool frame under the persisted langid model:
    * `lang` becomes the PREDICTED class (char-trigram multiclass NB —
    * the q192 operator, here wired into the production pipeline the
    * CCNet way: langid FIRST, quality gates after, consuming the
    * prediction instead of a crawl-supplied label), and rows whose
    * decision margin falls below the bootstrap-frozen threshold drop
    * (unidentifiable language ⇒ not trainable text). Zero exchanges:
    * |classes| codegen token-folds + an argmax, a map-side stamp on
    * the batch scan.
    */
  private def applyLangid(spark: SparkSession, pool: DataFrame,
                          dir: String): DataFrame = {
    val minMargin = Load.readTable(spark, s"$dir/langidcfg")
      .map(_.head().getAs[Long]("min_margin")).getOrElse(0L)
    NaiveBayes.scoreMulti(spark,
        pool.withColumn("tokens", NaiveBayes.charNgrams(col("text"), 3)),
        s"$dir/langid")
      .filter(col("best_micro") - col("runnerup_micro") >= minMargin)
      .select(col("doc_id"), col("source"),
        col("pred_label").as("lang"), col("canon_url"), col("text"))
  }

  /** BPE-encode `selected` and pack into `seqLen`-token sequences,
    * continuing each source's token stream from `hwm` (source,
    * tok_hwm) — empty for the bootstrap. One per-source window over
    * the SELECTED rows only.
    */
  private def pack(selected: DataFrame, lex: DataFrame,
                   merges: Seq[(String, String)], hwm: DataFrame,
                   seqLen: Int, az: Analyzer): DataFrame = {
    val toks = Bpe.encode(selected.select(col("doc_id"), col("text")),
        lex, merges, az)
      .select(col("doc_id"), col("n_tokens"))
    val pw = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    selected.drop("text").join(toks, Seq("doc_id"))
      .join(broadcast(hwm), Seq("source"), "left")
      .withColumn("tok_before",
        coalesce(col("tok_hwm"), lit(0L)) +
          coalesce(sum(col("n_tokens")).over(pw), lit(0L)))
      .drop("tok_hwm")
      .select(col("doc_id"), col("source"), col("lang"),
        col("margin_micro"), col("lr_micro"), col("n_tokens"),
        col("tok_before"),
        expr(s"tok_before div $seqLen").as("start_seq"),
        expr(s"(tok_before + n_tokens - 1) div $seqLen").as("end_seq"))
  }

  /** The packed-corpus generation tree: doc-keyed tombstones, no
    * rewrite layout (a purge is a pure row filter) and no merges —
    * generations are the time-travel and rollback unit.
    */
  private[ops] def tree(dir: String) =
    SegmentCompaction.Tree(dir, "corpus", "doc_id", merges = false)

  /** The debt threshold that makes [[purge]] rewrite every generation
    * holding any tombstoned row: one dead row out of any possible
    * generation size is a fraction above it.
    */
  private val AnyDebt = Double.MinPositiveValue

  private def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(path)

  /** Run `body` with an [[eager]] that remembers every frame it
    * persists; all of them are released on the way out, also when a
    * write or the fence check aborts the verb.
    */
  private def withEager[T](body: (DataFrame => DataFrame) => T): T = {
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try body { df => cached += df; eager(df) }
    finally cached.foreach(_.unpersist())
  }

  /** The replay high-water mark; -1 when no warehouse exists (or its
    * state table is empty — max over zero rows is null, not a crash).
    */
  def lastBatch(spark: SparkSession, dir: String): Long =
    Load.readTable(spark, s"$dir/state")
      .flatMap(df => Option(df.select(max(col("last_batch"))).head()
        .get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(-1L)

  /** Bootstrap the warehouse from an initial crawl (overwrites `dir`;
    * the crawl lands as batch 0). Trains and persists every model the
    * ingest path applies: NB gate on `nbLabel` over the `nbSplit`
    * rows, DSIR on `dsirTarget` vs the gated pool keeping the top
    * `selectPct` percent per source (whose per-source minimum selected
    * lr becomes the FROZEN ingest admission threshold), and `bpeMerges`
    * BPE merges on the selected corpus. `dsirFast` trains the DSIR
    * model under the xxhash64 production hash (scoring follows the
    * hash kind recorded in the model, so every later ingest inherits
    * it); leave false where a DuckDB oracle must replay the scores.
    */
  def bootstrap(spark: SparkSession, crawl: DataFrame, dir: String,
                nbLabel: Column, nbSplit: Column, dsirTarget: Column,
                selectPct: Int, nbVocabCap: Int = 256,
                dsirBuckets: Int = 512, bpeMerges: Int = 16,
                seqLen: Int = 2048, dsirFast: Boolean = false,
                langid: Boolean = false, langidMinMargin: Long = 0L,
                langidVocabCap: Int = 512,
                analyzer: Analyzer = Analyzer.Whitespace): Long = {
    require(crawl.columns.toSeq == CrawlCols,
      s"bootstrap crawl must be $CrawlCols, got ${crawl.columns.toSeq}")
    // FULL reset: a bootstrap is generation zero of the warehouse.
    // writeBatch's dynamic overwrite only replaces batch=0, so without
    // this wipe a re-bootstrap into a previously-used dir would leave
    // stale corpus/batch>=1 + urls/batch>=1 subtrees alive — the
    // resurrected URLs then cover the next ingest's batch as "seen",
    // the empty dynamic overwrite touches nothing, and the warehouse
    // serves a DEAD generation's rows as the new batch.
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lease BEFORE the wipe (the lock lives outside the root — the
    // WriterLease contract), so even the teardown of the previous
    // warehouse runs single-writer and the fence stays monotonic
    // across re-bootstraps
    WriterLease.withLease(spark, dir, "corpus.bootstrap") { _ =>
    if (fs.exists(root)) fs.delete(root, true)
    Mojibake.saveMapping(spark, s"$dir/mapping")
    // record the warehouse's ONE analysis policy (the q203 corpus-row
    // pattern, warehouse-level): every token the models count and the
    // packer emits — NB gate features, DSIR n-grams, BPE words —
    // tokenizes under it, at bootstrap and at every later ingest
    // alike. Whitespace default = pre-analyzer warehouses and the
    // driver's pre-tokenized fixtures, byte-compatible.
    Analyzer.save(spark, analyzer, s"$dir/analyzer")
    val mapping = Mojibake.loadMapping(spark, s"$dir/mapping")
    withEager { kept =>
    val keep = kept(dedupByUrl(crawl))
    val pool0 = kept(toPool(keep, mapping))
    // langid (optional): the bootstrap crawl is the LABELED set — its
    // `lang` column trains the multiclass model (persisted + frozen);
    // from here down `lang` means the PREDICTION, for the bootstrap
    // corpus and every later ingest batch alike (CCNet's ordering:
    // identify the language first, quality-gate per language after)
    val pool =
      if (!langid) pool0
      else {
        NaiveBayes.trainMulti(spark,
          pool0.select(
            NaiveBayes.charNgrams(col("text"), 3).as("tokens"),
            col("lang").as("label")),
          s"$dir/langid", langidVocabCap)
        Load.replaceTable(spark,
          spark.range(1).select(lit(langidMinMargin).as("min_margin")),
          s"$dir/langidcfg")
        kept(applyLangid(spark, pool0, dir))
      }
    NaiveBayes.train(spark,
      pool.filter(nbSplit).select(col("text"), nbLabel.as("label")),
      s"$dir/nb", nbVocabCap, analyzer)
    val gated = kept(NaiveBayes.score(spark, pool, s"$dir/nb")
      .filter(col("pred_pos"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("margin_micro")))
    Dsir.train(spark, gated.filter(dsirTarget).select(col("text")),
      gated.select(col("text")), s"$dir/dsir", dsirBuckets,
      fast = dsirFast, analyzer = analyzer)
    val selected = kept(Dsir.selectTop(
        Dsir.score(spark, gated, s"$dir/dsir"), "source", "doc_id",
        selectPct)
      .filter(col("is_selected"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("margin_micro"), col("lr_micro")))
    val merges = Bpe.train(spark, selected, numMerges = bpeMerges,
      az = analyzer)
    Bpe.saveMerges(spark, merges, s"$dir/merges")
    val ranked = Bpe.loadMerges(spark, s"$dir/merges")
    val lex = Bpe.lexicon(
      Bpe.wordCounts(selected, analyzer).select(col("word")), ranked)
    val hwm0 = spark.emptyDataFrame
      .select(lit("").as("source"), lit(0L).as("tok_hwm"))
    val packed = kept(pack(selected, lex, ranked, hwm0, seqLen, analyzer))
    writeBatch(packed, s"$dir/corpus", 0L)
    writeBatch(keep.select(col("canon_url")), s"$dir/urls", 0L)
    // per-source admission threshold = min selected lr (what the
    // flagship's top-pct window admitted); hwm = the packed stream end
    val n = Load.replaceTable(spark,
      packed.groupBy(col("source")).agg(
          min(col("lr_micro")).as("lr_min_micro"),
          sum(col("n_tokens")).as("tok_hwm"))
        .withColumn("last_batch", lit(0L)),
      s"$dir/state")
    require(n > 0,
      s"CorpusIngest.bootstrap: zero documents selected into $dir — " +
        "an empty state table would leave every later ingest without " +
        "thresholds; fix the crawl or the gates and re-bootstrap")
    n
    }
    }
  }

  /** Fold a crawl batch under a caller-supplied contiguous id ≥ 1.
    * Returns false (loud no-op) for a replayed id. See the object doc
    * for the stage list and the exactly-once contract.
    */
  def ingest(spark: SparkSession, batch: DataFrame, dir: String,
             batchId: Long, seqLen: Int = 2048): Boolean = {
    require(batchId >= 1, "batch ids start at 1 (0 is the bootstrap)")
    require(batch.columns.toSeq == CrawlCols,
      s"ingest batch must be $CrawlCols, got ${batch.columns.toSeq}")
    val last0 = lastBatch(spark, dir)
    require(last0 >= 0, s"CorpusIngest.ingest: no warehouse at $dir")
    if (batchId <= last0) return false
    WriterLease.withLease(spark, dir, "corpus.ingest") { lease =>
    // heal a crashed purge commit BEFORE writing (INSIDE the lease — a
    // mutating heal outside it could race a live purge): its generation
    // may sit in the aside dir and must be back before this batch lands
    SegmentCompaction.heal(spark, tree(dir))
    // writer-side maintenance cadence: a DUE retained purge publishes
    // here (read paths never publish by time)
    SegmentCompaction.publishDue(spark, s"$dir/corpus")
    // the replay/contiguity guard re-derives INSIDE the lease: the
    // pre-lease read above is only a cheap replay fast-path — two
    // concurrent deliveries of the same id could both pass a guard
    // read before mutual exclusion, and the second would re-advance a
    // token high-water mark that already counts the batch
    val last = lastBatch(spark, dir)
    if (batchId <= last) false
    else {
    require(batchId == last + 1,
      s"batch $batchId arrived over high-water mark $last — ids must " +
        "be contiguous or the skipped batch would silently never land")
    val mapping = Mojibake.loadMapping(spark, s"$dir/mapping")
    // state rides as DRIVER rows (bounded by #sources, the centroid
    // pattern) and re-enters the plan as literal frames: no stage of
    // the batch pipeline may carry dir/state lineage, or the state
    // swap below could recompute it mid-write
    val stateRows: Map[String, (Long, Long)] =
      Load.readTable(spark, s"$dir/state").get.collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("lr_min_micro"), r.getAs[Long]("tok_hwm"))))
        .toMap
    require(stateRows.nonEmpty,
      s"CorpusIngest.ingest: empty state table at $dir/state — the " +
        "warehouse has no admission thresholds; re-bootstrap")
    val globalMin = stateRows.values.map(_._1).min
    import spark.implicits._
    val stateDf = stateRows.toSeq
      .map { case (src, (lr, hwm)) => (src, lr, hwm) }
      .toDF("source", "lr_min_micro", "tok_hwm")

    // 1–2: in-batch dedup, then seen-set rejection scanning (never
    // shuffling) the stored URL column
    withEager { kept =>
    val keep0 = kept(dedupByUrl(batch))
    val batchUrls = keep0.select(col("canon_url"))
    // seen set = PRIOR generations only (partition-pruned batch <
    // batchId). Scanning the whole tree would let a replay of batch I
    // see the crashed attempt's own urls/batch=I partial write as
    // "seen": fresh comes out empty (or shrunken), the empty dynamic
    // overwrite leaves the partial corpus/batch=I in place, and the
    // state fold advances with ZERO tokens — permanently desyncing
    // every later batch's tok_before/start_seq/end_seq from the rows
    // actually landed. Filtered, the replay's computation is
    // byte-identical to the crashed run's and both crash windows
    // (mid-urls-write, post-urls-write) heal.
    val seen = spark.read.parquet(s"$dir/urls")
      .filter(col("batch") < batchId)
      .join(broadcast(batchUrls), Seq("canon_url"), "left_semi")
      .select(col("canon_url")).distinct()
    val fresh = kept(
      keep0.join(broadcast(seen), Seq("canon_url"), "left_anti"))

    // 3–4: extract + repair, langid stamp+gate when the warehouse was
    // bootstrapped with it (the batch's own lang column is IGNORED —
    // prediction is the point), then the NB gate (persisted models,
    // zero exchanges)
    val pool0 = toPool(fresh, mapping)
    val pool =
      if (hasLangid(spark, dir)) applyLangid(spark, pool0, dir) else pool0
    val gated = NaiveBayes.score(spark, pool, s"$dir/nb")
      .filter(col("pred_pos"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("margin_micro"))

    // 5: DSIR admission at the bootstrap-frozen per-source threshold
    val thr = broadcast(stateDf.select(col("source"), col("lr_min_micro")))
    val selected = kept(Dsir.score(spark, gated, s"$dir/dsir")
      .withColumnRenamed("lr_micro", "__lr")
      .join(thr, Seq("source"), "left")
      .filter(col("__lr") >= coalesce(col("lr_min_micro"),
        lit(globalMin)))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("margin_micro"), col("__lr").as("lr_micro")))

    // 6: encode with the persisted merges, pack from the per-source
    // token high-water mark
    val ranked = Bpe.loadMerges(spark, s"$dir/merges")
    // the batch tokenizes under the warehouse's RECORDED policy —
    // NB/DSIR scoring already follow their own recorded sidecars
    // (written from the same bootstrap parameter), so the whole
    // ingest chain analyzes identically to the statistics it applies
    val az = Analyzer.load(spark, s"$dir/analyzer")
    val lex = Bpe.lexicon(Bpe.wordCounts(selected, az).select(col("word")),
      ranked)
    val packed = kept(pack(selected, lex, ranked,
      stateDf.select(col("source"), col("tok_hwm")), seqLen, az))

    // per-source batch token sums, collected BEFORE the urls write:
    // the packed cache's lineage reads dir/urls through the seen-set
    // anti-join, and Spark's write-triggered recache re-evaluates
    // such plans against the JUST-GROWN seen set — a post-write fold
    // reading `packed` would recompute the batch as fully-seen and
    // silently advance nothing (caught by CorpusIngestSpec)
    val batchToks: Map[String, Long] = packed.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("toks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    SegmentCompaction.clearForLanding(spark, s"$dir/corpus", batchId)
    SegmentCompaction.clearForLanding(spark, s"$dir/urls", batchId)
    writeBatch(packed, s"$dir/corpus", batchId)
    writeBatch(fresh.select(col("canon_url")), s"$dir/urls", batchId)
    // state fold LAST, one atomic swap built from driver rows alone:
    // thresholds frozen, hwm advances, sources first seen this batch
    // record the global-min threshold they were admitted under
    val folded = (stateRows.keySet ++ batchToks.keySet).toSeq.sorted
      .map { src =>
        val (lr, hwm) = stateRows.getOrElse(src, (globalMin, 0L))
        (src, lr, hwm + batchToks.getOrElse(src, 0L), batchId)
      }
    WriterLease.check(spark, lease)
    Load.replaceTable(spark,
      folded.toDF("source", "lr_min_micro", "tok_hwm", "last_batch"),
      s"$dir/state")
    true
    }
    }
    }
  }

  /** Per-source ingest FUNNEL audit of `batch` against the warehouse's
    * PERSISTED artifacts — the release report every curation pipeline
    * ships: how many of the batch's documents survive each production
    * stage (raw → in-batch url dedup → seen-set rejection → NB gate →
    * DSIR threshold admission) and what actually LANDED as
    * `corpus/batch=landedBatch`. Read-only: stage memberships are
    * replayed with the SAME private helpers and persisted models
    * [[ingest]] used (seen set filtered to `batch < landedBatch`,
    * thresholds from the state table — frozen at bootstrap, so
    * reading them post-ingest is exact), which makes every count
    * replayable by an external engine from the persisted tables.
    * Output per source: n_raw, n_urldedup, n_fresh, n_langid (the
    * langid stamp+gate survivors; = n_fresh on warehouses without the
    * model), n_nb, n_admitted, n_landed, tok_landed. One aggregate per
    * stage over O(batch) rows plus a |sources|-row report at any
    * corpus size.
    */
  def funnel(spark: SparkSession, batch: DataFrame, dir: String,
             landedBatch: Long): DataFrame = {
    require(batch.columns.toSeq == CrawlCols,
      s"funnel batch must be $CrawlCols, got ${batch.columns.toSeq}")
    SegmentCompaction.healForRead(spark, tree(dir))
    val mapping = Mojibake.loadMapping(spark, s"$dir/mapping")
    val stateRows: Map[String, Long] =
      Load.readTable(spark, s"$dir/state").getOrElse(
        sys.error(s"CorpusIngest.funnel: no state table at $dir/state " +
          "— bootstrap the warehouse first")).collect()
        .map(r => r.getAs[String]("source") ->
          r.getAs[Long]("lr_min_micro")).toMap
    require(stateRows.nonEmpty,
      s"CorpusIngest.funnel: empty state table at $dir/state")
    val globalMin = stateRows.values.min
    import spark.implicits._
    val thr = broadcast(stateRows.toSeq.toDF("source", "lr_min_micro"))
    // SINGLE-PASS stage flags (the optimization-round rewrite): the
    // old form materialized every stage frame (keep0/fresh/lpool/
    // gated — four full-text persists of the batch), aggregated each
    // one per source and left-joined six report frames; the funnel is
    // read-only, so the same memberships fold into ONE batch scan
    // carrying cumulative boolean flags, each stage's expensive
    // column computed under a when() guard for exactly the rows the
    // old stage frame held (HTML extract for fresh rows, langid
    // n-grams for fresh, NB/DSIR folds progressively masked), and ONE
    // conditional aggregate replaces the six joins. Counts are the
    // same memberships by construction — the q206/q189 oracles
    // re-derive them independently from the persisted artifacts.
    val seen = spark.read.parquet(s"$dir/urls")
      .filter(col("batch") < landedBatch)
      .join(broadcast(batch.select(col("canon_url")).distinct()),
        Seq("canon_url"), "left_semi")
      .select(col("canon_url")).distinct()
    val w = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
    var f = batch
      .withColumn("__keep", row_number().over(w) === 1)
      .join(broadcast(seen.withColumn("__seen", lit(true))),
        Seq("canon_url"), "left")
      .withColumn("__fresh", col("__keep") && col("__seen").isNull)
      .withColumn("text", when(col("__fresh"),
        Mojibake.repair(HtmlText.extractText(col("html")), mapping)))
    // langid stage (pass-through for warehouses without the model —
    // the stage count then equals n_fresh, keeping one report schema)
    f =
      if (!hasLangid(spark, dir)) f.withColumn("__lang", col("__fresh"))
      else {
        val minMargin = Load.readTable(spark, s"$dir/langidcfg")
          .map(_.head().getAs[Long]("min_margin")).getOrElse(0L)
        NaiveBayes.scoreMulti(spark,
            f.withColumn("tokens", NaiveBayes.charNgrams(col("text"), 3)),
            s"$dir/langid")
          .withColumn("__lang", col("__fresh") &&
            col("best_micro") - col("runnerup_micro") >= minMargin)
          .withColumn("text", when(col("__lang"), col("text")))
      }
    f = NaiveBayes.score(spark, f, s"$dir/nb")
      .withColumn("__nb", col("__lang") && col("pred_pos"))
      .withColumn("text", when(col("__nb"), col("text")))
    f = Dsir.score(spark, f, s"$dir/dsir")
      .join(thr, Seq("source"), "left")
      .withColumn("__adm", col("__nb") &&
        col("lr_micro") >= coalesce(col("lr_min_micro"), lit(globalMin)))
    val landed = spark.read.parquet(s"$dir/corpus")
      .filter(col("batch") === landedBatch)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_landed"),
        sum(col("n_tokens")).as("tok_landed"))
    val out = f.groupBy(col("source")).agg(
        count(lit(1)).as("n_raw"),
        count(when(col("__keep"), 1)).as("n_urldedup"),
        count(when(col("__fresh"), 1)).as("n_fresh"),
        count(when(col("__lang"), 1)).as("n_langid"),
        count(when(col("__nb"), 1)).as("n_nb"),
        count(when(col("__adm"), 1)).as("n_admitted"))
      .join(landed, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_urldedup"), lit(0L)).as("n_urldedup"),
        coalesce(col("n_fresh"), lit(0L)).as("n_fresh"),
        coalesce(col("n_langid"), lit(0L)).as("n_langid"),
        coalesce(col("n_nb"), lit(0L)).as("n_nb"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("n_landed"), lit(0L)).as("n_landed"),
        coalesce(col("tok_landed"), lit(0L)).as("tok_landed"))
    // localCheckpoint (eager): truncates the report's lineage to its
    // |sources| materialized rows, so consumers' plans don't re-embed
    // the whole stage pipeline (the q181 plan-explosion precedent) and
    // repeated consumption doesn't re-run the scan
    out.localCheckpoint()
  }

  /** The committed delete epoch; 0 (no deletes) for warehouses written
    * before delete support existed.
    */
  private[graft] def delEpoch(spark: SparkSession, dir: String): Long =
    Load.readTable(spark, s"$dir/delmeta")
      .map(_.head().getAs[Long]("del_epoch")).getOrElse(0L)

  /** The served packed corpus across all generations, minus tombstoned
    * documents — what a training-shard writer consumes.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    SegmentCompaction.healForRead(spark, tree(dir))
    val last = lastBatch(spark, dir)
    require(last >= 0, s"CorpusIngest.read: no warehouse at $dir")
    visible(spark, tree(dir), last, delEpoch(spark, dir))
  }

  /** Tombstone-delete documents from the packed corpus — the takedown
    * lever over the TRAINING DATA itself, completing the delete story
    * across all three warehouse kinds (text index `InvertedIndex
    * .delete`, vector `AdcIngest.delete`). Semantics a 100 TB packed
    * corpus can actually afford:
    *
    *  - LOGICAL deletion: the validated ids land as an `epoch=E`
    *    generation under `tombstones/`, committed LAST through the
    *    1-row `delmeta/` swap; [[read]]/[[readAsOf]] anti-join them
    *    out (broadcast — |deletes|-bounded). Deletes are NOT
    *    time-traveled: a takedown applies to every read, historical
    *    snapshots included.
    *  - The token stream keeps its HOLES: every packed row carries its
    *    own absolute offsets (tok_before/start_seq/end_seq), so
    *    dropping a document disturbs NO other row and the per-source
    *    high-water marks stay valid — nothing repacks, which is the
    *    only viable answer at warehouse scale (re-packing would cascade
    *    through every later generation's offsets). [[purge]] reclaims
    *    the bytes physically, offsets untouched.
    *  - The canonical URL stays in the seen set ON PURPOSE: a re-crawl
    *    of taken-down content must keep being rejected, not re-admitted
    *    under a fresh doc_id (spec-pinned).
    *  - Rollback interplay: `tombstones` survive [[rollback]] (it
    *    rewinds the ingest stream, not the delete requests), and the
    *    state rebuild keeps counting tombstoned rows' tokens — their
    *    packed slots exist whether served or not.
    *
    * Exactly-once, crash-safe: replayed ids find nothing new and
    * return 0 without advancing the epoch; a crash between the
    * tombstone write and the delmeta swap leaves an inert epoch dir
    * healed on the next delete's entry. `ids` must be
    * delete-request-sized (it broadcasts). Returns the number of newly
    * deleted documents.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Long =
   WriterLease.withLease(spark, dir, "corpus.delete") { lease =>
    import spark.implicits._
    SegmentCompaction.heal(spark, tree(dir))
    val last = lastBatch(spark, dir)
    require(last >= 0, s"CorpusIngest.delete: no warehouse at $dir")
    val e0 = delEpoch(spark, dir)
    SegmentCompaction.tombstone(spark, tree(dir), lease, e0,
      visible(spark, tree(dir), last, e0).select(col("doc_id"))
        .join(broadcast(ids.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_semi"))(v => (v.count(), ())) { _ =>
      Load.replaceTable(spark, Seq(e0 + 1).toDF("del_epoch"),
        s"$dir/delmeta")
      ()
    }
  }

  /** Physically reclaim tombstoned rows' bytes — GENERATION-SCOPED:
    * only generations actually holding tombstoned rows rewrite (each
    * through its own [[SegmentCompaction.commit]]); untouched
    * generations' files are never opened or moved, so purge cost
    * scales with the
    * indebted generations, not the corpus
    * ([[SegmentCompaction.purgeDebt]] at any debt). Generation layout
    * and every surviving row's packing offsets are untouched (a
    * dropped document leaves a HOLE in the token stream — see
    * [[delete]] — so the rewrite is a pure row filter, never a
    * repack). The tombstone ledger is
    * retained (it keeps delete replays no-ops; the read filter is
    * idempotent on purged rows). Returns the purged generation ids.
    *
    * `retainMs > 0` — SNAPSHOT-RETAINED purge: each indebted
    * generation's rewrite commits as a HIDDEN pending; the generations
    * keep serving byte-untouched (reads anti-join the tombstones either
    * way — the views are identical) until a later lease-holding
    * maintenance call or [[vacuum]] publishes after the window.
    */
  def purge(spark: SparkSession, dir: String,
            retainMs: Long = 0L): Seq[Long] =
   WriterLease.withLease(spark, dir, "corpus.purge") { lease =>
    SegmentCompaction.heal(spark, tree(dir))
    SegmentCompaction.purgeDebt(spark, tree(dir), lease, lastBatch(spark, dir),
      delEpoch(spark, dir), AnyDebt, retainMs)
  }

  /** Force-publish every snapshot-retained purge NOW; call when no
    * reader still holds a pre-purge snapshot. Returns the published
    * generation ids.
    */
  def vacuum(spark: SparkSession, dir: String): Seq[Long] =
    WriterLease.withLease(spark, dir, "corpus.vacuum") { _ =>
      SegmentCompaction.heal(spark, tree(dir))
      SegmentCompaction.vacuum(spark, tree(dir), lastBatch(spark, dir))
    }

  /** TIME-TRAVEL READ: the packed corpus exactly as of generation
    * `batch` — every row batches 0..batch landed, nothing newer. This
    * is the reproducible-training snapshot lever: "train on the corpus
    * as of last Tuesday's fold" is a partition-pruned read (the
    * `batch=I` layout makes the snapshot O(1) — no copy, no log
    * replay), and because [[ingest]] is exactly-once and append-only
    * below the high-water mark, as-of(I) is BIT-IDENTICAL to what a
    * reader saw before batch I+1 landed (CorpusIngestSpec pins it).
    * Rows above the high-water mark are refused loudly — an as-of
    * beyond history is a caller bug, not an empty frame.
    */
  def readAsOf(spark: SparkSession, dir: String, batch: Long): DataFrame = {
    require(batch >= 0, "as-of generations start at 0 (the bootstrap)")
    SegmentCompaction.healForRead(spark, tree(dir))
    val last = lastBatch(spark, dir)
    require(last >= 0, s"CorpusIngest.readAsOf: no warehouse at $dir")
    require(batch <= last,
      s"CorpusIngest.readAsOf: generation $batch is above the " +
        s"high-water mark $last")
    // deletes are NOT time-traveled: a takedown applies to historical
    // snapshots too — that is what a deletion request means
    visible(spark, tree(dir), batch, delEpoch(spark, dir))
  }

  /** Roll the warehouse back to `toBatch` through the shared
    * [[SegmentCompaction.rollback]] cut: the state table is rebuilt
    * from the surviving corpus alone and committed first — per-source
    * thresholds re-frozen from batch 0 (sources first admitted in a
    * surviving later batch re-record the batch-0 global minimum,
    * exactly what the forward fold assigned them), token high-water
    * marks re-summed over batches ≤ I, `last_batch` = I — then every
    * `corpus/batch>I` and `urls/batch>I` subtree is deleted, along
    * with any unpublished retained purge (a later heal would otherwise
    * rename a purged copy of a cut generation back in). The rebuild is
    * bit-identical to having never ingested the dropped batches, so
    * rolled-back ids can be re-ingested. This is both the bad-batch
    * recovery story and what makes a fixed-path warehouse re-entrant
    * without re-paying the bootstrap (roll to 0, ingest again).
    * O(surviving corpus metadata + one bounded-by-#sources aggregate)
    * — the models and batch-0 artifacts are never touched.
    */
  def rollback(spark: SparkSession, dir: String, toBatch: Long): Unit =
   WriterLease.withLease(spark, dir, "corpus.rollback") { lease =>
    require(toBatch >= 0, "cannot roll back past the bootstrap")
    SegmentCompaction.heal(spark, tree(dir))
    val last = lastBatch(spark, dir)
    require(last >= toBatch,
      s"CorpusIngest.rollback: no warehouse at $dir at or above " +
        s"batch $toBatch")
    SegmentCompaction.rollback(spark, tree(dir), last, toBatch, 0L) {
      import spark.implicits._
      val agg = spark.read.parquet(s"$dir/corpus")
        .filter(col("batch") <= toBatch)
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tok_hwm"),
          min(when(col("batch") === 0, col("lr_micro"))).as("lr0"))
        .as[(String, Long, Option[Long])].collect()
      require(agg.nonEmpty,
        s"CorpusIngest.rollback: no corpus rows at or below batch " +
          s"$toBatch in $dir")
      val globalMin = agg.flatMap(_._3).min
      WriterLease.check(spark, lease)
      Load.replaceTable(spark,
        agg.toSeq.sortBy(_._1).map { case (src, hwm, lr0) =>
          (src, lr0.getOrElse(globalMin), hwm, toBatch)
        }.toDF("source", "lr_min_micro", "tok_hwm", "last_batch"),
        s"$dir/state")
      ()
    }
    SegmentCompaction.dropAbove(spark, s"$dir/urls", toBatch)
   }
}
