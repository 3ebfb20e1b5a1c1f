package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Load, WriterLease}
import graft.ops.SegmentCompaction.{healForRead, live}

/** Persisted inverted index with incremental maintenance + BM25
  * search — the TEXT-index member of the warehouse-index trio
  * (signature index: IncrementalDedup/q136; vector index: IVF/q148).
  * q144 computes BM25 from raw text per query; a production search
  * path builds the index ONCE and serves every query from it.
  *
  * Layout under `dir`:
  *  - `postings/batch=I/bucket=B/` — (term, doc_id, tf, dl), hash-
  *    partitioned into [[Buckets]] term buckets inside per-batch
  *    dirs. A search for k terms reads ≤ k bucket dirs per batch
  *    (partition pruning on driver-computed bucket literals — the
  *    q136 probe trick), never the corpus.
  *  - `corpus/` — 1 row (n_docs, sum_dl, last_batch, del_epoch), the
  *    BM25 globals plus the replay high-water mark and the delete
  *    epoch (see [[delete]]).
  *  - `docs/batch=I/` — (doc_id, dl), one row per document of
  *    generation I: the doc-length sidecar [[delete]] resolves ids
  *    against (n_docs rows total — tiny next to the postings — and
  *    the only way to adjust the globals for a deleted id WITHOUT a
  *    postings scan, since postings are term-keyed, not doc-keyed).
  *  - `tombstones/epoch=E/` — (doc_id, dl) of logically deleted
  *    documents; every read path anti-joins epochs ≤ the corpus row's
  *    `del_epoch` (the [[SegmentCompaction]] ledger).
  *
  * Maintenance contract: batches carry NEW doc_ids (the upstream
  * dedup gate's job) and a monotonically increasing batch id, so
  * [[addBatch]] is O(batch), never O(index), and EXACTLY-ONCE under
  * replays by construction: the batch's postings dynamic-overwrite
  * ONLY their own `batch=I` subtree (a replay rewrites identical
  * files — idempotent by path), and the additive corpus fold is
  * guarded by `last_batch` (a replayed id is a loud no-op). A crash
  * between the two steps heals on replay: the postings rewrite is
  * self-identical and the corpus fold then lands once. Per-term df
  * is NOT materialized: a term's df is exactly the row count of its
  * own postings, which the search touches anyway — so df stays
  * correct under appends with no stats refresh (a stale materialized
  * df after every batch is the classic search-index bug).
  *
  * Scoring follows q144's cross-engine-exact conventions: rational
  * Robertson idf (no transcendental), k1=1.2 b=0.75, and per-term
  * scores become INTEGER MICRO-UNITS before the per-doc sum, so
  * Spark's partial-aggregation order and DuckDB's fold cannot differ
  * by a ulp.
  *
  * Text analysis: the index's [[Analyzer]] (fold/tokenize/stopword
  * policy) is chosen at [[build]] time, recorded in the corpus row,
  * and applied identically by every addBatch and on the query side of
  * ALL search paths + [[deleteByQuery]] — raw cased/punctuated/
  * accented text indexes and matches folded ([[Analyzer.Unicode]],
  * the default); pre-tokenized corpora and pre-analyzer on-disk
  * indexes use [[Analyzer.Whitespace]] semantics unchanged.
  */
object InvertedIndex {

  val Buckets = 64

  def bucketOf(term: Column): Column = pmod(hash(term), lit(Buckets))

  /** The postings generation tree: doc-keyed tombstones; rewrites
    * cluster each term bucket into its own dir, term-sorted within.
    */
  private[ops] def tree(dir: String) = SegmentCompaction.Tree(dir, "postings",
    "doc_id", cluster = Seq("bucket"), sort = Seq("term", "doc_id"),
    parts = Seq("bucket"))

  /** (term, doc_id, tf, dl, positions, bucket) of a (doc_id, text)
    * frame — one shuffle (groupBy doc_id×term with map-side combine).
    * `positions` are the term's 1-based offsets in the ANALYZED token
    * stream (see [[Analyzer]] — under a stopword set, stopword slots
    * count but produce no posting), sorted (collect_list order is
    * nondeterministic across retries — the sort makes the stored index
    * byte-stable): the positional payload is what makes PHRASE search
    * an index lookup instead of a corpus re-scan, at the standard
    * positional-index storage cost.
    */
  def postings(docs: DataFrame,
               az: Analyzer = Analyzer.Whitespace): DataFrame = {
    // the slot array materializes in its OWN projection so the
    // analyzer kernel runs ONCE per document: inlined into one select,
    // size(t) (Project) and posexplode(t) (Generate) each evaluate the
    // full analysis — two kernel passes per doc (CollapseProject keeps
    // a multiply-referenced non-cheap alias un-inlined, so this split
    // is load-bearing, not cosmetic)
    docs
      .select(col("doc_id"), az.slots(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).as("dl"),
        posexplode(col("__t")).as(Seq("pos0", "term")))
      .filter(az.isIndexed(col("term")))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("pos0") + 1)).as("positions"))
      .withColumn("bucket", bucketOf(col("term")))
  }

  /** (doc_id, dl) of every document that produces postings — the
    * per-generation content of the `docs/` sidecar, and (aggregated)
    * the corpus globals. dl counts ALL analyzed slots (the same dl the
    * posting rows carry); the filter drops docs with no INDEXED
    * tokens, which have no posting rows and so must not count anywhere
    * (the [[rollback]] rebuild-from-postings rule). The slot array is
    * materialized in its own projection so the kernel runs once per
    * document (the [[postings]] rationale).
    */
  private def docRows(docs: DataFrame, az: Analyzer): DataFrame = docs
    .select(col("doc_id"), az.slots(col("text")).as("t"))
    .select(col("doc_id"), col("t"),
      size(filter(col("t"), x => az.isIndexed(x))).as("__ix"))
    .filter(col("__ix") > 0)
    .select(col("doc_id"), size(col("t")).cast(LongType).as("dl"))

  /** (n_docs, sum_dl, zero_token_docs) of one generation, derived from
    * its `docs/` sidecar (already tombstone-filtered by the caller
    * where required) plus the generation's total input document count:
    * a document contributes to n_docs/sum_dl iff it analyzed to ≥ 1
    * indexable token (⇔ it has a sidecar row), and the remainder are
    * the zero-token documents — the round-13 lifetime ingest-quality
    * counter (a non-Latin corpus under the old `[a-z0-9]` alphabet
    * analyzed ENTIRELY to empty streams with no operator feedback;
    * the counter makes that failure mode visible and surfaces through
    * WarehouseStats). Replaces the old third analyzer pass over the
    * corpus (the corpusStats aggregate) with one n_docs-sized sidecar
    * aggregate + one column-pruned count of the input.
    */
  private def statsFromSidecar(sidecar: DataFrame,
                               totalDocs: Long): (Long, Long, Long) = {
    val r = sidecar.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
    (r.getLong(0), r.getLong(1), totalDocs - r.getLong(0))
  }

  /** The lifetime zero-token-document counter of a corpus row; 0 for
    * rows written before the counter existed.
    */
  private def zeroTokOf(c: org.apache.spark.sql.Row): Long =
    if (c.schema.fieldNames.contains("zero_token_docs"))
      c.getAs[Long]("zero_token_docs")
    else 0L

  /** The corpus row's analyzer fields — written on EVERY corpus-row
    * rewrite (build/addBatch/rollback/delete) so the recorded policy
    * survives the whole lifecycle. Stopwords stored sorted: the row is
    * deterministic.
    */
  private def withAnalyzerCols(df: DataFrame, az: Analyzer): DataFrame =
    df.withColumn("analyzer", lit(az.kind))
      .withColumn("stopwords", typedlit(az.stopwords.sorted))

  /** The analysis policy recorded in a corpus row; indexes written
    * before analyzers existed read as [[Analyzer.Whitespace]] — their
    * exact historical semantics.
    */
  def analyzerOf(c: org.apache.spark.sql.Row): Analyzer =
    if (!c.schema.fieldNames.contains("analyzer")) Analyzer.Whitespace
    else Analyzer.of(c.getAs[String]("analyzer"),
      Option(c.getAs[scala.collection.Seq[String]]("stopwords"))
        .map(_.toSeq).getOrElse(Nil))

  /** The committed delete epoch of a corpus row; 0 (no deletes) for
    * rows written before delete support existed.
    */
  private def delEpochOf(c: org.apache.spark.sql.Row): Long =
    if (c.schema.fieldNames.contains("del_epoch"))
      c.getAs[Long]("del_epoch")
    else 0L

  private[graft] def delEpoch(spark: SparkSession, dir: String): Long =
    Load.readTable(spark, s"$dir/corpus")
      .map(df => delEpochOf(df.head())).getOrElse(0L)

  /** The corpus high-water mark; -1 when no index exists. */
  def lastBatch(spark: SparkSession, dir: String): Long =
    Load.readTable(spark, s"$dir/corpus")
      .map(_.select(col("last_batch")).head().getLong(0)).getOrElse(-1L)

  /** Bootstrap the index from a corpus (overwrites `dir`; the corpus
    * lands as batch 0). `analyzer` is the index's analysis policy,
    * recorded in the corpus row and applied by every later addBatch
    * and every query path ([[Analyzer]]): [[Analyzer.Unicode]] — raw
    * cased/punctuated/accented text — is the default; pass
    * [[Analyzer.Whitespace]] for pre-tokenized corpora. The
    * repartition clusters each bucket into ONE file — without it,
    * partitionBy fans every write task across all 64 dirs (tasks ×
    * buckets small files, the classic partitioned-write explosion)
    * and the pruned search pays an open per file.
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
            analyzer: Analyzer = Analyzer.Unicode()): Unit =
   WriterLease.withLease(spark, dir, "invidx.build") { lease =>
    // wipe tiered-merge remnants from any PRIOR index at this path —
    // the overwrite below replaces postings/ but not its siblings, and
    // a stale __tiered_old would later "heal" dead generations into
    // the fresh index
    SegmentCompaction.clearRemnants(spark, s"$dir/postings")
    postings(docs, analyzer).withColumn("batch", lit(0L))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("batch", "bucket")
      .parquet(s"$dir/postings")
    docRows(docs, analyzer).withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/docs")
    val (nDocs, sumDl, zeroTok) = statsFromSidecar(
      spark.read.parquet(s"$dir/docs").filter(col("batch") === 0L),
      docs.count())
    WriterLease.check(spark, lease)
    import spark.implicits._
    Load.replaceTable(spark,
      withAnalyzerCols(
        Seq((nDocs, sumDl, zeroTok, 0L, 0L))
          .toDF("n_docs", "sum_dl", "zero_token_docs", "last_batch",
            "del_epoch"), analyzer), s"$dir/corpus")
    // a fresh build must not inherit a PRIOR index's tombstones at
    // this path (they would silently delete from the new corpus) —
    // wiped LAST, after the corpus swap: the new row carries
    // del_epoch=0 so the stale dir is never read in the interim, and
    // every crash point leaves a readable index. Wiping FIRST instead
    // would break a crashed build's read-only diagnostics: the PRIOR
    // corpus row (del_epoch > 0) would reference a missing tombstones
    // path and every search would throw path-not-found.
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/tombstones"), true)
    ()
  }

  /** Fold a batch of NEW documents under a caller-supplied id ≥ 1:
    * postings dynamic-overwrite their own `batch=` subtree, then the
    * corpus row advances additively behind the `last_batch` guard.
    * Replays (id ≤ high-water mark) are a no-op returning false.
    */
  def addBatch(spark: SparkSession, docs: DataFrame, dir: String,
               batchId: Long): Boolean = {
    require(batchId >= 1, s"batch ids start at 1 (0 is the bootstrap)")
    val last0 = lastBatch(spark, dir)
    require(last0 >= 0, s"InvertedIndex.addBatch: no index at $dir")
    if (batchId <= last0) false
    else WriterLease.withLease(spark, dir, "invidx.addBatch") { lease =>
      // Heal a half-finished compaction swap BEFORE writing (same
      // hazard as AdcIngest.append): a crash between atomicSwap's two
      // renames leaves only postings.__old; writing here first would
      // recreate postings/ with just this batch and the next
      // recoverSwap would then delete __old — every prior generation —
      // while the corpus row still claimed they landed.
      SegmentCompaction.heal(spark, tree(dir))
      // the batch analyzes under the INDEX's recorded policy — an
      // addBatch analyzing differently from the bootstrap would split
      // one term across two spellings and silently halve its postings
      val cOld = Load.readTable(spark, s"$dir/corpus").get.head()
      // the replay/contiguity guard re-derives INSIDE the lease (from
      // the corpus row just read): the pre-lease read above is only a
      // cheap replay fast-path — two concurrent deliveries of the same
      // id could both pass a guard read before mutual exclusion, and
      // the second would re-add the batch's n_docs/sum_dl to a corpus
      // row that already counts them
      val last = cOld.getAs[Long]("last_batch")
      if (batchId <= last) false
      else {
      require(batchId == last + 1,
        s"batch $batchId arrived over high-water mark $last — ids must " +
          "be contiguous or the skipped batch would silently never land")
      val az = analyzerOf(cOld)
      val epoch = delEpochOf(cOld)
      postings(docs, az).withColumn("batch", lit(batchId))
        .repartition(col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "bucket")
        .parquet(s"$dir/postings")
      docRows(docs, az)
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(s"$dir/docs")
      // the batch's contribution excludes already-tombstoned ids: a
      // rolled-back batch re-ingested AFTER one of its docs was
      // deleted must re-enter minus that doc, or the globals would
      // double-diverge from every read path's anti-joined view. Both
      // the sidecar aggregate and the input doc count (the zero-token
      // counter's denominator) apply the SAME tombstone filter the old
      // single-pass aggregate did — and neither re-runs the analyzer
      // (see docRowsFromPostings).
      val liveIn = live(spark, tree(dir), epoch)(docs.select(col("doc_id")))
      val (bDocs, bSumDl, bZero) = statsFromSidecar(
        live(spark, tree(dir), epoch)(
          spark.read.parquet(s"$dir/docs")
            .filter(col("batch") === batchId)),
        liveIn.count())
      import spark.implicits._
      val merged = withAnalyzerCols(
        Seq((bDocs + cOld.getAs[Long]("n_docs"),
          bSumDl + cOld.getAs[Long]("sum_dl"),
          bZero + zeroTokOf(cOld), batchId, epoch))
          .toDF("n_docs", "sum_dl", "zero_token_docs", "last_batch",
            "del_epoch"), az)
      WriterLease.check(spark, lease)
      Load.replaceTable(spark, merged, s"$dir/corpus")
      // a retained rollback may have scheduled this id for deferred
      // deletion — it is live again (the overwrite above is the
      // exactly-once contract; deferred deletion must never fire on it)
      SegmentCompaction.unretire(spark, s"$dir/postings", batchId)
      true
      }
    }
  }

  /** Number of `batch=` generations in the postings tree — the
    * [[compact]] trigger. Every bucket-pruned search opens
    * O(generations) files per bucket, so an append-heavy index decays
    * from 1 file/bucket toward 1 file/bucket/batch; this is the
    * decay gauge. One driver-side listStatus, no Spark job.
    */
  def segmentCount(spark: SparkSession, dir: String): Int = {
    healForRead(spark, tree(dir))
    val last = lastBatch(spark, dir)
    SegmentCompaction.generations(spark, s"$dir/postings").count(_ <= last)
  }

  /** Roll the index back to generation `toBatch` — the bad-batch
    * recovery lever, through the shared [[SegmentCompaction.rollback]]
    * cut (commit row first, coverage-checked, optionally retained).
    * The corpus row is rebuilt from the surviving postings: each doc
    * lives in exactly ONE generation under the [[addBatch]] contract
    * and repeats its dl on every posting row, so n_docs/sum_dl
    * re-derive from one (doc_id, dl) dedup + a 1-row fold over
    * batches ≤ toBatch.
    *
    * Rolled-back ids re-ingest bit-identically (postings are a pure
    * function of the batch's documents), which is also what makes a
    * fixed-path index fixture re-entrant without a rebuild.
    *
    * `retainMs > 0` — SNAPSHOT-RETAINED rollback: the cut generations
    * stay physically in place (every read path filters `batch ≤
    * last_batch`) until a later lease-holding maintenance call or
    * [[vacuum]] deletes them, so an in-flight reader whose plan pinned
    * the pre-rollback files completes untouched. A re-[[addBatch]] of
    * a cut id goes live again.
    */
  def rollback(spark: SparkSession, dir: String, toBatch: Long,
               retainMs: Long = 0L): Unit = {
    require(toBatch >= 0, "cannot roll back past the bootstrap")
    val c0 = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.rollback: no index at $dir")).head()
    require(c0.getAs[Long]("last_batch") >= toBatch,
      s"InvertedIndex.rollback: no index at $dir at or above batch " +
        s"$toBatch")
    WriterLease.withLease(spark, dir, "invidx.rollback") { lease =>
    SegmentCompaction.heal(spark, tree(dir))
    // the high-water mark re-derives INSIDE the lease (a concurrent
    // rollback serialized ahead of us may have already cut deeper —
    // its meta must not be overwritten with a stale, higher mark)
    val cOld = Load.readTable(spark, s"$dir/corpus").get.head()
    val last = cOld.getAs[Long]("last_batch")
    require(last >= toBatch,
      s"InvertedIndex.rollback: a concurrent rollback already cut " +
        s"below batch $toBatch (high-water mark now $last)")
    SegmentCompaction.rollback(spark, tree(dir), last, toBatch, retainMs) {
      // tombstones survive the rollback, so the rebuilt globals
      // exclude live tombstoned docs too
      val epoch = delEpochOf(cOld)
      val rebuilt = live(spark, tree(dir), epoch)(
        spark.read.parquet(s"$dir/postings")
          .filter(col("batch") <= toBatch)
          .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("last_batch", lit(toBatch))
        .withColumn("del_epoch", lit(epoch))
        // the zero-token counter is a LIFETIME ingest-quality counter —
        // it survives the rollback as-is (those documents never reached
        // the postings, so the rebuild cannot re-derive them)
        .withColumn("zero_token_docs", lit(zeroTokOf(cOld)))
      WriterLease.check(spark, lease)
      Load.replaceTable(spark,
        withAnalyzerCols(rebuilt, analyzerOf(cOld)), s"$dir/corpus")
    }
    // the docs/ sidecar follows the postings truncation (its dirs are
    // never merged, so every id above the cut goes — remnants above
    // `last` included). Sidecar dirs are read only by delete/rollback
    // (never pinned by a serving plan), so they truncate immediately
    // even under retention; the `batch ≤ last_batch` filter keeps the
    // retained rollback's delete/rollback reads exact regardless.
    SegmentCompaction.dropAbove(spark, s"$dir/docs", toBatch)
    }
  }

  /** Tombstone-delete documents by id — the takedown/opt-out lever a
    * real corpus warehouse cannot ship without (a deletion request
    * takes effect NOW, not at the next rebuild). Logical deletion, LSM
    * style (Lucene's liveDocs): the ids land as an `epoch=E`
    * generation under `tombstones/`, every search path anti-joins them
    * out (broadcast — the set is |deletes|-bounded), and the BM25
    * globals are adjusted through the corpus-row commit point, so
    * served scores are BIT-IDENTICAL to an index rebuilt without the
    * deleted docs (TombstoneSpec pins the equivalence across every
    * search path). Physical bytes are reclaimed when compaction next
    * rewrites the rows' generations ([[compact]]/[[tieredCompact]]
    * purge tombstoned rows); the tombstone rows themselves are
    * retained — they are what keeps a replayed delete a no-op — and
    * stay |total deletes|-sized, negligible against the index.
    *
    * Exactly-once, crash-safe: the (doc_id, dl) rows to delete derive
    * from the `docs/` sidecar semi-joined to `ids` (doc-keyed and
    * n_docs-sized — never a postings scan) minus already-tombstoned
    * docs, land as epoch `del_epoch + 1`, and the corpus row —
    * adjusted globals + advanced `del_epoch` in ONE swap — commits
    * LAST. A crash in between leaves an epoch dir above the committed
    * mark: inert (readers filter `epoch ≤ del_epoch`), healed on the
    * next delete's entry. Replaying the same ids finds nothing new
    * and returns 0 without advancing the epoch. `ids` must be
    * delete-request-sized (it broadcasts). Returns the number of
    * newly deleted documents.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Long =
   WriterLease.withLease(spark, dir, "invidx.delete") { lease =>
    import spark.implicits._
    SegmentCompaction.heal(spark, tree(dir))
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.delete: no index at $dir")).head()
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$dir/docs/batch=0")),
      s"InvertedIndex.delete: the index at $dir predates delete " +
        "support (no docs/ sidecar for the bootstrap generation) — " +
        "rebuild the index to enable deletes")
    val e0 = delEpochOf(c)
    SegmentCompaction.tombstone(spark, tree(dir), lease, e0,
      live(spark, tree(dir), e0)(
        spark.read.parquet(s"$dir/docs")
          .filter(col("batch") <= c.getAs[Long]("last_batch"))
          .join(broadcast(ids.select(col("doc_id")).distinct()),
            Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), col("dl"))) { victims =>
      val a = victims.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sdl")).head()
      (a.getLong(0), (a.getLong(0), a.getLong(1)))
    } { case (n, sdl) =>
      Load.replaceTable(spark,
        withAnalyzerCols(
          Seq((c.getAs[Long]("n_docs") - n, c.getAs[Long]("sum_dl") - sdl,
            c.getAs[Long]("last_batch"), e0 + 1, zeroTokOf(c)))
            .toDF("n_docs", "sum_dl", "last_batch", "del_epoch",
              "zero_token_docs"),
          analyzerOf(c)),
        s"$dir/corpus")
      ()
    }
  }

  /** Compact every `batch=` generation into a single `batch=0` tree —
    * the maintenance rewrite that undoes append-induced file decay.
    * A PURE PHYSICAL move: batches carry disjoint doc_ids (the
    * [[addBatch]] contract), so no (doc_id, term) posting row spans
    * two generations and no rows merge — search results are identical
    * before and after, which is what lets compaction run any time
    * between appends. One bucket-keyed shuffle, term-clustered within
    * each file (`sortWithinPartitions` — better locality AND a
    * deterministic layout); the corpus row, INCLUDING the exactly-once
    * `last_batch` high-water mark, is untouched, so a replayed old
    * batch id is still rejected after compaction and the next new id
    * still lands in its own fresh `batch=` dir. Crash-safe via the
    * warehouse two-rename swap (Load.atomicSwap): every crash point
    * leaves the full old or full new tree, healed on the next
    * read/maintenance call through recoverSwap.
    *
    * `retainMs > 0` — SNAPSHOT-RETAINED compact: the rewritten tree
    * commits as a HIDDEN pending rewrite covering every live
    * generation ([[SegmentCompaction.commit]] — the tieredCompact
    * protocol with ids = ALL live generations); the current
    * generations keep serving byte-untouched until a later
    * lease-holding maintenance call or [[vacuum]] publishes after the
    * window, so in-flight readers survive the full rewrite too.
    */
  def compact(spark: SparkSession, dir: String,
              retainMs: Long = 0L): Unit =
   WriterLease.withLease(spark, dir, "invidx.compact") { lease =>
    // a crashed tiered merge heals BEFORE the full rewrite reads the
    // tree, or the generations sitting in the aside dir would be
    // silently dropped from the rewrite
    SegmentCompaction.heal(spark, tree(dir))
    SegmentCompaction.compact(spark, tree(dir), lease, lastBatch(spark, dir),
      delEpoch(spark, dir), retainMs)
  }

  /** TOMBSTONE-DEBT purge ([[SegmentCompaction.purgeDebt]]): rewrite
    * only the generations whose tombstoned-row fraction has reached
    * `tau`, dropping the dead rows; generations under the threshold
    * are never opened. Serving is identical before and after. Returns
    * the purged generation ids.
    *
    * `retainMs > 0` — SNAPSHOT-RETAINED purge: each indebted
    * generation's rewrite commits as its own HIDDEN pending; the
    * indebted generations keep serving byte-untouched until a later
    * lease-holding maintenance call or [[vacuum]] publishes after the
    * window. Bytes reclaim at publish, not at commit.
    */
  def purgeDebt(spark: SparkSession, dir: String,
                tau: Double = 0.5, retainMs: Long = 0L): Seq[Long] =
   WriterLease.withLease(spark, dir, "invidx.purgeDebt") { lease =>
    SegmentCompaction.heal(spark, tree(dir))
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.purgeDebt: no index at $dir")).head()
    SegmentCompaction.purgeDebt(spark, tree(dir), lease,
      c.getAs[Long]("last_batch"), delEpochOf(c), tau, retainMs)
  }

  /** Force-publish every snapshot-retained state NOW — pending
    * rewrites (tiered merges, retained compacts/purges) AND the
    * deferred-deletion schedule of a retained [[rollback]] — the
    * explicit vacuum verb for when the operator KNOWS no reader still
    * holds a pre-maintenance snapshot. Returns the affected ids
    * (published + retired; empty = nothing pending).
    */
  def vacuum(spark: SparkSession, dir: String): Seq[Long] =
    WriterLease.withLease(spark, dir, "invidx.vacuum") { _ =>
      SegmentCompaction.heal(spark, tree(dir))
      SegmentCompaction.vacuum(spark, tree(dir), lastBatch(spark, dir))
    }

  /** The compaction POLICY hook a maintenance runner calls after each
    * append: compact when the tree holds more than `maxSegments`
    * generations, else no-op. Returns true when a compaction ran.
    * Idempotent under streaming replays — a replayed micro-batch that
    * re-evaluates the policy either finds the already-compacted tree
    * (no-op) or compacts again (pure physical move, same result), and
    * a crash mid-compaction heals through [[segmentCount]]'s
    * recoverSwap on the next call.
    */
  def compactIfNeeded(spark: SparkSession, dir: String,
                      maxSegments: Int): Boolean = {
    require(maxSegments >= 1, "maxSegments must be at least 1")
    if (segmentCount(spark, dir) > maxSegments) { compact(spark, dir); true }
    else false
  }

  /** Size-tiered compaction — the bounded-write-amplification
    * alternative to [[compact]]'s full rewrite (policy, invariants and
    * crash protocol in [[SegmentCompaction]]): merge every generation
    * newer than the newest settled one (settled ⇔ ≥ `ratio` × the
    * total bytes of everything newer) into ONE generation at the run's
    * lowest batch id, when at least `minMerge` candidates exist. Large
    * settled trees — above all the bootstrap — are never opened or
    * rewritten; under a steady append stream each byte re-merges
    * O(ratio)-bounded times instead of once per policy firing. Still a
    * PURE physical move (disjoint doc_ids per the [[addBatch]]
    * contract — search results identical before and after), still
    * leaves the corpus row and its exactly-once `last_batch` untouched.
    * The merged read is partition-pruned to the candidate generations;
    * the write re-clusters them bucket-keyed, term-sorted — the same
    * layout [[compact]] produces. Returns the merged batch ids (empty =
    * policy did not fire).
    */
  def tieredCompact(spark: SparkSession, dir: String, ratio: Double = 4.0,
                    minMerge: Int = 2,
                    retainMs: Long = 0L): Seq[Long] =
   WriterLease.withLease(spark, dir, "invidx.tieredCompact") { lease =>
    SegmentCompaction.heal(spark, tree(dir))
    SegmentCompaction.tieredCompact(spark, tree(dir), lease,
      lastBatch(spark, dir), delEpoch(spark, dir), ratio, minMerge, retainMs)
  }

  /** Exact phrase lookup over the persisted positional index:
    * (doc_id, n_matches) for documents containing `phrase`'s words
    * consecutively, n_matches = number of start positions. The
    * classic positional-index AND: shift each word's position list
    * back by its phrase offset and intersect — match positions =
    * ∩ᵢ (positions(wᵢ) − i). Reads ≤ |distinct words| bucket dirs
    * (the same pruning as [[search]]); the slot joins shuffle only
    * the candidate postings, never the corpus. Repeated words in the
    * phrase reuse the same postings row under different shifts.
    */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: Seq[String]): DataFrame = {
    // arity is enforced POST-analysis below: one raw word can analyze
    // to several consecutive slots ("state-of-the-art" is a 4-slot
    // phrase under Analyzer.Unicode)
    require(phrase.nonEmpty, "empty phrase")
    // heal BEFORE reading (the AdcIngest.index contract): a tiered
    // merge that crashed after moving generations aside would
    // otherwise serve silently incomplete results against globals
    // that still count the aside'd docs — gated on lease liveness
    // (a live writer's in-flight state is not a crash)
    healForRead(spark, tree(dir))
    import spark.implicits._
    // generations above the high-water mark never serve (a crashed
    // rollback's remnants — the corpus row is the commit point), and
    // neither do tombstoned docs
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.phraseSearch: no corpus at $dir")).head()
    // phrase words analyze under the index's policy; a word carrying
    // punctuation expands to consecutive slots ("state-of-the-art" →
    // 4 adjacent phrase positions), stopwords are refused loudly
    // (Analyzer.analyzePhrase)
    val qphrase = analyzerOf(c).analyzePhrase(phrase)
    require(qphrase.size >= 2,
      s"phrase $phrase analyzes to fewer than two tokens")
    val distinctTerms = qphrase.distinct
    val buckets = distinctTerms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val p = live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(distinctTerms: _*)))
      .select(col("doc_id"), col("term"), col("positions"))
    // RAREST-FIRST join order: left-deep reduce means the first
    // intermediate result rides through every later join, so a phrase
    // leading with a stopword would drag the biggest posting list the
    // whole way. One bounded count over the already-pruned buckets
    // (≤ |distinct terms| rows to the driver) orders the slots by
    // ascending df; slot index breaks ties so repeated words keep a
    // deterministic order. Semantics unchanged — the intersection is
    // commutative; only the join tree shape moves.
    val dfByTerm = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val slots = qphrase.zipWithIndex
      .sortBy { case (w, i) => (dfByTerm.getOrElse(w, 0L), i) }
      .map { case (w, i) =>
        p.filter(col("term") === w)
          .select(col("doc_id"),
            transform(col("positions"), x => x - i).as(s"__s$i"))
      }
    slots.reduceLeft((a, b) => a.join(b, Seq("doc_id")))
      .select(col("doc_id"),
        size(qphrase.indices.map(i => col(s"__s$i"))
          .reduceLeft(array_intersect)).cast(LongType).as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Proximity-scored search: q144/[[search]]'s BM25 PLUS a positional
    * proximity boost served from the same persisted postings — the
    * payload [[phraseSearch]] uses, folded into the ranking the way
    * term-proximity IR models do (Rasolofo & Savoy, ECIR 2003: close
    * co-occurrence of distinct query terms is strong relevance
    * evidence that pure bag-of-words BM25 can't see).
    *
    * The proximity feature is the MINIMUM distance between positions
    * of two DISTINCT query terms in the doc, computed sort-based, not
    * pairwise: explode the (already pruned) position lists, one lag
    * window per doc ordered by position — the minimal pair distance
    * is always realized by ADJACENT occurrences in position order, so
    * the window pass is exact and O(n log n), never O(n²).
    * boost_micro = 1e6 div min_dist (integer floor division — exact
    * cross-engine); docs with <2 distinct query terms get 0;
    * score_micro = bm25_micro + boost_micro, all exact BIGINTs.
    * Reads ≤ |terms| bucket dirs — the corpus is never re-scanned.
    */
  def proximitySearch(spark: SparkSession, dir: String,
                      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0)
    // heal BEFORE reading (the AdcIngest.index contract): a tiered
    // merge that crashed after moving generations aside would
    // otherwise serve silently incomplete results against globals
    // that still count the aside'd docs — gated on lease liveness
    // (a live writer's in-flight state is not a crash)
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.proximitySearch: no corpus at $dir")).head()
    val qterms = analyzerOf(c).analyzeTerms(terms).distinct
    require(qterms.nonEmpty,
      s"query $terms analyzes to no indexable terms")
    val (nDocs, sumDl) = (c.getAs[Long]("n_docs"), c.getAs[Long]("sum_dl"))
    val avgdl = sumDl.toDouble / nDocs
    val buckets = qterms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val p = live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(qterms: _*)))
    val wTerm = Window.partitionBy(col("term"))
    val idf = (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    val bm25 = p
      .withColumn("df", count(lit(1)).over(wTerm).cast(DoubleType))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ts_micro")).as("bm25_micro"))
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prox = p
      .select(col("doc_id"), col("term"),
        explode(col("positions")).as("pos"))
      .withColumn("pterm", lag(col("term"), 1).over(wPos))
      .withColumn("ppos", lag(col("pos"), 1).over(wPos))
      .groupBy(col("doc_id"))
      .agg(min(when(col("pterm").isNotNull && col("pterm") =!= col("term"),
        col("pos") - col("ppos"))).cast(LongType).as("min_dist"))
    bm25.join(prox, Seq("doc_id"), "left")
      .withColumn("prox_micro",
        when(col("min_dist").isNull, lit(0L))
          .otherwise(expr("1000000 div min_dist")).cast(LongType))
      .withColumn("score_micro", col("bm25_micro") + col("prox_micro"))
      .select(col("doc_id"), col("n_terms"), col("bm25_micro"),
        col("min_dist"), col("prox_micro"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Length of the minimal essential prefix of `ubs` (already sorted
    * descending): the shortest prefix whose COMPLEMENT's upper-bound
    * sum stays under θ — a doc holding only complement terms scores
    * ≤ that sum < θ and can never reach the top k. θ ≤ 0 disables
    * pruning (every term essential).
    */
  def essentialPrefix(ubs: Seq[Long], theta: Long): Int = {
    val suffix = ubs.scanRight(0L)(_ + _) // suffix(i) = Σ ubs(i..)
    (1 to ubs.length).find(l => suffix(l) < theta).getOrElse(ubs.length)
  }

  /** MaxScore/WAND-pruned BM25 top-k — exact same results as
    * [[search]], but the per-doc aggregation only ever sees documents
    * that can still make the top k (Turtle & Flood, IPM 1995; Broder
    * et al., CIKM 2003 — the dynamic-pruning family every production
    * text engine ships). Batch (term-at-a-time) formulation:
    *
    *  1. per-term upper bound ub(t) = max ts_micro over t's postings
    *     (exact, from the same pruned bucket read — a |terms|-row agg);
    *  2. seed threshold θ: the k-th best PARTIAL score over the
    *     highest-ub term's own postings (the rarest/most selective
    *     term — the shortest list; a doc's full score ≥ its seed-term
    *     contribution, so θ lower-bounds the true k-th best);
    *  3. essential terms E = the minimal ub-descending prefix such
    *     that Σ ub over the REMAINING terms < θ. A doc containing no
    *     essential term scores ≤ that suffix sum < θ ≤ the true k-th
    *     best, so it can never enter the top k;
    *  4. final pass: aggregate ONLY docs containing ≥ 1 essential
    *     term. Every true top-k doc survives (score ≥ θ), ties break
    *     identically — bit-equal output, smaller doc-keyed exchange.
    *
    * At 100 TB the win is the wire: [[search]] shuffles EVERY candidate
    * posting twice (the df window, then the doc-keyed agg); here df
    * comes from the same |terms|-row stats pass as the upper bounds and
    * re-enters as a broadcast join, and the doc-keyed agg only sees
    * essential-term candidates — the posting rows themselves never
    * shuffle. df stays computed over the FULL per-term postings (before
    * any candidate pruning), so scores are identical to [[search]]'s by
    * construction. Falls back to the unpruned plan when fewer than k
    * docs contain the seed term (θ = 0 → every term essential).
    */
  def maxScoreSearch(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0)
    // heal BEFORE reading (the AdcIngest.index contract): a tiered
    // merge that crashed after moving generations aside would
    // otherwise serve silently incomplete results against globals
    // that still count the aside'd docs — gated on lease liveness
    // (a live writer's in-flight state is not a crash)
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.maxScoreSearch: no corpus at $dir")).head()
    val qterms = analyzerOf(c).analyzeTerms(terms).distinct
    require(qterms.nonEmpty,
      s"query $terms analyzes to no indexable terms")
    val (nDocs, sumDl) = (c.getAs[Long]("n_docs"), c.getAs[Long]("sum_dl"))
    val avgdl = sumDl.toDouble / nDocs
    def prunedFor(ts: Seq[String]): DataFrame = {
      val buckets = ts.toDF("term").select(bucketOf(col("term")))
        .as[Int].collect().distinct.toSeq
      // tombstoned docs leave BEFORE the stats pass, so per-term df,
      // upper bounds and the θ seed all see live rows only — exactly
      // the rebuilt-index quantities (pruning stays exact)
      live(spark, tree(dir), delEpochOf(c))(
        spark.read.parquet(s"$dir/postings")
          .filter(col("batch") <= c.getAs[Long]("last_batch") &&
            col("bucket").isin(buckets: _*) &&
            col("term").isin(ts: _*)))
    }
    def pruned = prunedFor(qterms)
    // the df-independent factor of the term score; ts_micro =
    // round(idf · g · 1e6), and g is what the per-term upper bound
    // maximizes over
    def g(tf: Column, dl: Column): Column = (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl)))
    // ONE bounded pass replaces [[search]]'s corpus-wide df window:
    // per-term df AND max g — |terms| rows to the driver, agg partials
    // only on the wire (the window form shuffles EVERY posting row).
    // idf > 0 always (Robertson form), so max ts = round(idf·max g·1e6)
    // by monotonicity; +1 absorbs any float-order ulp, keeping the
    // bound conservative (pruning stays exact, never lossy).
    val stats = pruned.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(g(col("tf"), col("dl"))).as("gmax"))
      .collect().map { r =>
        val df = r.getLong(1).toDouble
        val idf = (nDocs.toDouble - df + 0.5) / (df + 0.5)
        (r.getString(0), r.getLong(1), math.round(idf * r.getDouble(2) * 1e6) + 1L)
      }
    if (stats.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "n_terms", "bm25_micro")
    val ubs = stats.map(s => (s._1, s._3)).toSeq
      .sortBy { case (t, ub) => (-ub, t) }
    val dfDf = stats.map(s => (s._1, s._2)).toSeq.toDF("term", "df")
    // EXACT [[search]] expression shape (same float-op order as the
    // oracle), df supplied by a broadcast of the |terms|-row stats
    // instead of the window
    val idf = (lit(nDocs.toDouble) - col("df").cast(DoubleType) + lit(0.5)) /
      (col("df").cast(DoubleType) + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    val dfByTerm = stats.map(s => s._1 -> s._2).toMap
    // the semi join's candidate side is bounded EXACTLY by the included
    // terms' df sum (one posting row per (doc, term)) — when that bound
    // is broadcast-sized, hint it so the corpus-sized posting side
    // never shuffles; past the bound (the θ=0 fallback: every doc a
    // candidate) fall back to the shuffled join, which is then the
    // plain [[search]] shape anyway
    val BroadcastCandBound = 4000000L
    def topk(cands: DataFrame, candBound: Long): DataFrame = pruned
      .join(broadcast(dfDf), Seq("term"))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
      .join(if (candBound <= BroadcastCandBound) broadcast(cands) else cands,
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("ts_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
    // seed θ: the k-th best PARTIAL score among the seed term's own
    // postings (the classic MaxScore bootstrap) — a doc's full score
    // ≥ its seed-term contribution, so the true k-th best full score
    // ≥ this θ and pruning against it stays exact. One scan of the
    // seed term's bucket alone (the shortest posting list by choice
    // of seed), k values collected.
    val seedTs = prunedFor(Seq(ubs.head._1))
      .join(broadcast(dfDf), Seq("term"))
      .select(round(idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType)
        .as("ts_micro"))
      .orderBy(col("ts_micro").desc).limit(k)
      .as[Long].collect()
    val theta = if (seedTs.length >= k) seedTs.min else 0L
    val essential = ubs.take(essentialPrefix(ubs.map(_._2), theta))
      .map(_._1)
    // aggregate only candidate docs — exact by the θ bound; the cands
    // scan reads only the essential terms' buckets
    topk(prunedFor(essential).select(col("doc_id")),
      essential.map(dfByTerm).sum)
  }

  /** BATCHED BM25 top-k: score a whole `(query_id, term)` query table
    * against the index in ONE pass — the retrieval-eval workload
    * (thousands of queries per run), where per-query [[search]] calls
    * would re-read the index and recompute df once per query. One
    * pruned scan of the union of query terms, one df window over it,
    * then a broadcast join against the query table (a term shared by
    * q queries fans its postings out q ways — the amortization is the
    * point), a (query_id, doc_id) aggregation, and a per-query top-k
    * window. Scoring conventions identical to [[search]], so a
    * single-query batch returns exactly `search`'s rows. Output:
    * (query_id, rank, doc_id, n_terms, bm25_micro).
    */
  def searchBatch(spark: SparkSession, dir: String, queries: DataFrame,
                  k: Int): DataFrame = {
    require(k > 0)
    // heal BEFORE reading (the AdcIngest.index contract): a tiered
    // merge that crashed after moving generations aside would
    // otherwise serve silently incomplete results against globals
    // that still count the aside'd docs — gated on lease liveness
    // (a live writer's in-flight state is not a crash)
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.searchBatch: no corpus at $dir")).head()
    val (nDocs, sumDl) = (c.getAs[Long]("n_docs"), c.getAs[Long]("sum_dl"))
    val avgdl = sumDl.toDouble / nDocs
    // batched query-side analysis happens IN the plan with the same
    // slots/isIndexed expressions the index writer used — index-side ≡
    // query-side by construction (a punctuated query term expands to
    // its analyzed tokens; stopwords score nothing)
    val qn = analyzerOf(c) match {
      case Analyzer.Whitespace => queries
      case u: Analyzer.Unicode =>
        queries.select(col("query_id"),
            explode(u.slots(col("term"))).as("term"))
          .filter(u.isIndexed(col("term")))
    }
    // distinct terms + their bucket literals: one bounded collect of
    // the query table (batch-sized by definition)
    val terms = qn.select(col("term")).distinct().as[String]
      .collect().toSeq
    require(terms.nonEmpty,
      "empty query batch (or every term analyzed away)")
    val buckets = terms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val wTerm = Window.partitionBy(col("term"))
    val idf = (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(terms: _*)))
      .withColumn("df", count(lit(1)).over(wTerm).cast(DoubleType))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
      // distinct() mirrors search's isin dedup of repeated terms in
      // one query — without it a duplicate (query_id, term) row would
      // double-count n_terms and bm25_micro for that query
      .join(broadcast(
          qn.select(col("query_id"), col("term")).distinct()),
        Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ts_micro")).as("bm25_micro"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms"), col("bm25_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** BOOLEAN-FILTERED BM25 top-k — the Lucene BooleanQuery surface
    * (MUST / SHOULD / MUST_NOT) over the persisted index: candidates
    * must contain EVERY `must` term and NONE of the `mustNot` terms;
    * scoring is [[search]]'s exact BM25 micro-unit sum over the
    * `must` ++ `should` terms the doc contains (SHOULD terms filter
    * nothing, they only add score — Lucene's optional-clause rule).
    * Tie-break and every scoring convention identical to [[search]],
    * so `booleanSearch(must=Nil, should=ts, mustNot=Nil)` returns
    * exactly `search(ts)`'s rows.
    *
    * Plan shape: ONE pruned read of the union of all three term
    * lists' buckets (≤ |terms| bucket dirs — the corpus is never
    * scanned), the df window over the scoring terms' live postings
    * (df semantics identical to [[search]]), then the boolean gates as
    * doc-keyed joins bounded by the candidate postings themselves: a
    * MUST gate keeps docs whose distinct-must count equals |must| (an
    * aggregation over the must terms' postings only), a MUST_NOT gate
    * is an anti-join against the excluded terms' postings. Every side
    * is df-bounded — no corpus-sized exchange at any scale.
    */
  def booleanSearch(spark: SparkSession, dir: String, must: Seq[String],
                    should: Seq[String], mustNot: Seq[String],
                    k: Int): DataFrame = {
    val scoreTerms = (must ++ should).distinct
    require(scoreTerms.nonEmpty, "a boolean query needs a scoring term")
    require(k > 0)
    require(must.intersect(mustNot).isEmpty,
      "a term cannot be MUST and MUST_NOT at once")
    // heal BEFORE reading (the AdcIngest.index contract), gated on
    // lease liveness
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.booleanSearch: no corpus at $dir")).head()
    // clause terms analyze under the index's policy; a MUST/SHOULD
    // stopword drops out (it has no postings to gate or score on —
    // Lucene's query-side StopFilter), and the disjointness re-checks
    // POST-analysis ("Spark" vs "spark," collide only after folding)
    val az = analyzerOf(c)
    val mustA = az.analyzeTerms(must).distinct
    val shouldA = az.analyzeTerms(should).distinct
    val mustNotA = az.analyzeTerms(mustNot).distinct
    require(mustA.intersect(mustNotA).isEmpty,
      "a term cannot analyze to both MUST and MUST_NOT")
    val scoreTermsA = (mustA ++ shouldA).distinct
    require(scoreTermsA.nonEmpty,
      "every scoring term analyzed away — nothing to rank by")
    val (nDocs, sumDl) = (c.getAs[Long]("n_docs"), c.getAs[Long]("sum_dl"))
    val avgdl = sumDl.toDouble / nDocs
    val allTerms = (scoreTermsA ++ mustNotA).distinct
    val buckets = allTerms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val p = live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(allTerms: _*)))
    val wTerm = Window.partitionBy(col("term"))
    val idf = (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    val scored = p.filter(col("term").isin(scoreTermsA: _*))
      .withColumn("df", count(lit(1)).over(wTerm).cast(DoubleType))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
    val gated =
      if (mustA.isEmpty) scored
      else {
        val mustDocs = p.filter(col("term").isin(mustA: _*))
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("term")).as("__nm"))
          .filter(col("__nm") === mustA.size)
          .select(col("doc_id"))
        scored.join(mustDocs, Seq("doc_id"), "left_semi")
      }
    val kept =
      if (mustNotA.isEmpty) gated
      else gated.join(
        p.filter(col("term").isin(mustNotA: _*))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ts_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** DELETE BY QUERY — the Lucene/Elasticsearch takedown verb: delete
    * every document containing ALL `must` terms and NONE of the
    * `mustNot` terms ("delete everything mentioning X"). The match set
    * resolves from the index itself (≤ |terms| pruned bucket dirs —
    * never a corpus scan) and feeds [[delete]], inheriting its
    * exactly-once epoch commit. The match set must be
    * delete-request-sized like any [[delete]] input (it broadcasts
    * against the docs/ sidecar): deleting by a stopword-scale query is
    * a rebuild decision, not a tombstone one. Returns the number of
    * newly deleted documents.
    */
  def deleteByQuery(spark: SparkSession, dir: String, must: Seq[String],
                    mustNot: Seq[String] = Nil): Long = {
    require(must.nonEmpty, "deleteByQuery needs at least one MUST term")
    require(must.intersect(mustNot).isEmpty,
      "a term cannot be MUST and MUST_NOT at once")
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.deleteByQuery: no index at $dir")).head()
    val az = analyzerOf(c)
    val mustA = az.analyzeTerms(must).distinct
    val mustNotA = az.analyzeTerms(mustNot).distinct
    // a MUST clause that analyzes away must fail LOUDLY, not no-op: a
    // stopword-only takedown query is a caller bug either way
    require(mustA.nonEmpty,
      s"deleteByQuery MUST terms $must analyze to no indexable terms")
    require(mustA.intersect(mustNotA).isEmpty,
      "a term cannot analyze to both MUST and MUST_NOT")
    val allTerms = (mustA ++ mustNotA).distinct
    val buckets = allTerms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    // tombstone-filtered like every serving path: already-deleted docs
    // would re-match here and ride into delete() only to count zero —
    // semantically harmless, but the broadcast match set would grow
    // past its |new matches| bound on repeated overlapping takedowns
    val p = live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(allTerms: _*)))
    val matched = p.filter(col("term").isin(mustA: _*))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("term")).as("__nm"))
      .filter(col("__nm") === mustA.size)
      .select(col("doc_id"))
    val ids =
      if (mustNotA.isEmpty) matched
      else matched.join(
        p.filter(col("term").isin(mustNotA: _*))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    delete(spark, dir, ids)
  }

  /** BM25 top-k over the persisted index. Reads ONLY the query
    * terms' bucket dirs + the 1-row corpus table; plan shape is
    * pruned-scan → per-term df window → per-doc integer sum →
    * TakeOrderedAndProject. Output: (doc_id, n_terms, bm25_micro).
    */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
             k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0)
    // heal BEFORE reading (the AdcIngest.index contract): a tiered
    // merge that crashed after moving generations aside would
    // otherwise serve silently incomplete results against globals
    // that still count the aside'd docs — gated on lease liveness
    // (a live writer's in-flight state is not a crash)
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.search: no corpus table at $dir")).head()
    // query terms analyze under the INDEX's recorded policy — the one
    // contract that makes a folded index findable ([[Analyzer]])
    val qterms = analyzerOf(c).analyzeTerms(terms).distinct
    require(qterms.nonEmpty,
      s"query $terms analyzes to no indexable terms")
    val (nDocs, sumDl) = (c.getAs[Long]("n_docs"), c.getAs[Long]("sum_dl"))
    val avgdl = sumDl.toDouble / nDocs
    // bucket literals computed through the SAME hash expression the
    // writer used (a |terms|-row local job — bounded)
    val buckets = qterms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val wTerm = Window.partitionBy(col("term"))
    val idf = (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    live(spark, tree(dir), delEpochOf(c))(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= c.getAs[Long]("last_batch") &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(qterms: _*)))
      .withColumn("df", count(lit(1)).over(wTerm).cast(DoubleType))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ts_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** TIME-TRAVEL SEARCH: BM25 exactly as of generation `batch` (as
    * `CorpusIngest.readAsOf`/`AdcIngest.readAsOf` read rows), and the
    * serving verb a [[graft.ops.Release]] manifest pins. Postings
    * AND the BM25 globals rewind to the ingest stream at batch I: the
    * globals re-derive from the `docs/` sidecar (n_docs-sized — never
    * a postings scan) over batches ≤ I, so historical idf/avgdl are
    * exact, bit-identical to what [[search]] served before batch I+1
    * landed (ReleaseSpec pins it). Deletes are NOT time-traveled —
    * today's tombstones drop from postings and globals alike (the
    * readAsOf house rule: rewinding the ingest stream never
    * resurrects a takedown). Cuts above the high-water mark or inside
    * a tiered-merge run are refused loudly
    * ([[SegmentCompaction.onBoundary]]: a merged dir holds a
    * contiguous run under its lowest id, so a cut inside it would
    * silently include newer rows).
    */
  def searchAsOf(spark: SparkSession, dir: String, terms: Seq[String],
                 k: Int, batch: Long): DataFrame = {
    require(terms.nonEmpty && k > 0)
    require(batch >= 0, "as-of generations start at 0 (the bootstrap)")
    healForRead(spark, tree(dir))
    import spark.implicits._
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"InvertedIndex.searchAsOf: no corpus table at $dir"))
      .head()
    val last = c.getAs[Long]("last_batch")
    require(batch <= last,
      s"InvertedIndex.searchAsOf: generation $batch is above the " +
        s"high-water mark $last")
    require(SegmentCompaction.onBoundary(spark, s"$dir/postings", last, batch),
      s"InvertedIndex.searchAsOf: generation ${batch + 1} has been " +
        "merged into an earlier tree by compaction — an as-of cut " +
        "inside the merged run would include newer rows; snapshot " +
        "before compaction or rebuild")
    val qterms = analyzerOf(c).analyzeTerms(terms).distinct
    require(qterms.nonEmpty,
      s"query $terms analyzes to no indexable terms")
    val del = delEpochOf(c)
    // as-of globals from the docs/ sidecar minus TODAY's tombstones —
    // one n_docs-bounded aggregate (the sidecar mirrors the corpus
    // row: only documents that produce postings count)
    val g = live(spark, tree(dir), del)(
      spark.read.parquet(s"$dir/docs").filter(col("batch") <= batch))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .head()
    val (nDocs, sumDl) = (g.getLong(0), g.getLong(1))
    require(nDocs > 0,
      s"InvertedIndex.searchAsOf: no live documents as of generation " +
        s"$batch")
    val avgdl = sumDl.toDouble / nDocs
    val buckets = qterms.toDF("term").select(bucketOf(col("term")))
      .as[Int].collect().distinct.toSeq
    val wTerm = Window.partitionBy(col("term"))
    val idf = (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)
    live(spark, tree(dir), del)(
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= batch &&
          col("bucket").isin(buckets: _*) &&
          col("term").isin(qterms: _*)))
      .withColumn("df", count(lit(1)).over(wTerm).cast(DoubleType))
      .withColumn("ts_micro",
        round(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm) * 1e6, 0).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ts_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }
}
