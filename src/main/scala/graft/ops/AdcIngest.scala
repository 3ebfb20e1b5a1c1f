package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.etl.{Load, WriterLease}
import graft.ops.SegmentCompaction.visible

/** Incremental PQ/ADC index warehouse — the vector-side member of the
  * incremental warehouse family (corpus `CorpusIngest`, signature
  * index q136, IVF q148, inverted index `InvertedIndex`): the coarse
  * centroids and the PQ codebooks are trained at bootstrap and FROZEN;
  * every later vector batch is assigned, residual-encoded, and landed
  * as its own `batch=I` generation of the compressed (codes, vn)
  * table. Because assignment and encoding are per-vector and
  * independent of every other vector, the incrementally-grown index is
  * BIT-IDENTICAL to a one-shot rebuild of the union under the same
  * models — the property the q172 oracle gates end-to-end (it
  * re-derives the encode of ALL vectors from the persisted models and
  * replays the ADC search, while Spark serves from the appended
  * warehouse). This is how production IVF-PQ serving ingests a vector
  * stream: O(batch) per fold, the historical index never rewritten,
  * model refresh a separate re-baseline decision.
  *
  * Layout under `dir`: `centroids/` + `codebooks/` (frozen models),
  * `index/batch=I/` (vec_id, cluster_id, codes, vn), `meta/` (one row:
  * last_batch — the exactly-once replay guard, swapped LAST — and
  * del_epoch, the [[delete]] commit point), `tombstones/epoch=E/`
  * (vec_id of logically deleted vectors; every read anti-joins
  * epochs ≤ the committed del_epoch — the [[SegmentCompaction]]
  * ledger).
  *
  * Scale: encode is a broadcast-centroid join plus two fused
  * expressions (PqCodes, PqReconNorm) — zero shuffles; the write
  * dynamic-overwrites only its own `batch=I` subtree (idempotent under
  * replay); search cost is [[Pq.adcSearch]]'s — the generation split
  * adds file listings, never shuffles (compaction, if ever needed, is
  * a purely physical rewrite as in InvertedIndex.compact).
  */
object AdcIngest {

  private def centDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    VectorOps.loadCentroids(spark, s"$dir/centroids").toSeq
      .toDF("cluster_id", "ce")
      .withColumn("cluster_id", col("cluster_id").cast(LongType))
      .withColumn("cn",
        sqrt(graft.functions.VectorExpressions.vecDot(col("ce"), col("ce"))))
  }

  /** Assign → PQ-encode → ADC rows for one frame under the FROZEN
    * persisted models. Input (vec_id, embedding); output
    * (vec_id, cluster_id, codes, vn). `meta` names extra columns of
    * `vecs` to carry INTO the index rows (attribute payload for
    * FILTERED vector search — the q201 shape: a metadata predicate is
    * then a map-side filter on the compressed scan itself, never a
    * corpus-scale join at query time). Pure passthrough: assignment,
    * codes and vn are unaffected.
    */
  def encodeBatch(spark: SparkSession, vecs: DataFrame,
                  dir: String, meta: Seq[String] = Nil): DataFrame = {
    val cents = VectorOps.loadCentroids(spark, s"$dir/centroids")
    val cdf = centDf(spark, dir)
    val cb = Load.readTable(spark, s"$dir/codebooks").getOrElse(
      sys.error(s"AdcIngest: no codebooks at $dir/codebooks"))
    val assigned = VectorOps.assignClusters(
        vecs.select((Seq("vec_id", "embedding") ++ meta).map(col): _*),
        cents)
      .withColumn("cluster_id", col("cluster_id").cast(LongType))
    Pq.adcIndex(Pq.encode(assigned, cdf, cb, meta), cdf,
      Pq.collectCodebook(cb), meta)
  }

  /** The index generation tree: vec_id-keyed tombstones; rewrites
    * cluster rows by coarse cluster so probe-routed reads touch
    * contiguous runs.
    */
  private[ops] def tree(dir: String) = SegmentCompaction.Tree(dir, "index",
    "vec_id", cluster = Seq("cluster_id"), sort = Seq("cluster_id", "vec_id"))

  private def writeGeneration(df: DataFrame, dir: String,
                              batchId: Long): Unit =
    df.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$dir/index")

  /** Read-path crash heal, GATED on writer-lease liveness (the
    * [[SegmentCompaction.healForRead]] rationale): the warehouse ROOT
    * (a crashed [[retrain]]'s whole-root swap), then the index tree.
    * Writers never use this: their heals run unconditionally INSIDE
    * their own lease.
    */
  private def healForRead(spark: SparkSession, dir: String): Unit =
    if (!WriterLease.liveHolder(spark, dir)) {
      Load.recoverSwap(spark, dir)
      SegmentCompaction.recover(spark, s"$dir/index")
    }

  /** Writer-side entry heal — unconditional, called INSIDE the held
    * lease: the root swap remnant first (a crashed retrain), then the
    * index tree and its sibling tables.
    */
  private def healForWrite(spark: SparkSession, dir: String): Unit = {
    Load.recoverSwap(spark, dir)
    // a publish that crashed between its swap and its marker delete
    // leaves the stage's _PUBLISH_AFTER in the live root — sweep it
    val strayMk = new org.apache.hadoop.fs.Path(dir, "_PUBLISH_AFTER")
    strayMk.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(strayMk, false)
    // a due retained retrain publishes before any mutation proceeds;
    // one still inside its window blocks mutations loudly (reads are
    // unaffected either way)
    publishRetrainGate(spark, dir)
    SegmentCompaction.heal(spark, tree(dir))
  }

  private def retrainPendingPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir.__retrain_pending")

  /** The publish-after timestamp of a committed-but-unpublished
    * RETAINED retrain (see [[retrain]]'s `retainMs`), None when none
    * awaits. A torn marker reads as never-due (publish only through
    * [[vacuum]]) — the safe direction.
    */
  def retrainPending(spark: SparkSession, dir: String): Option[Long] = {
    val p = retrainPendingPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val mk = new org.apache.hadoop.fs.Path(p, "_PUBLISH_AFTER")
      if (!fs.exists(mk)) Some(Long.MaxValue)
      else {
        val in = fs.open(mk)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(mk).getLen.toInt)
          in.readFully(bytes)
          try Some(new String(bytes, "UTF-8").trim.toLong)
          catch { case _: NumberFormatException => Some(Long.MaxValue) }
        } finally in.close()
      }
    }
  }

  /** MUTATOR gate for a pending retained retrain — called at every
    * writer entry under the lease: a due pending publishes first (the
    * mutation then applies to the retrained root — nothing is lost,
    * because mutations were blocked for the whole window); a pending
    * still inside its window REFUSES the mutation loudly (a mutation
    * landing on the old root would silently vanish at publish, and
    * one landing on the staged root would corrupt the old serving
    * view). Reads are never blocked — they serve the old root
    * untouched, which is the whole point of the retention.
    */
  private def publishRetrainGate(spark: SparkSession, dir: String,
                                 force: Boolean = false): Unit =
    retrainPending(spark, dir).foreach { after =>
      if (force || System.currentTimeMillis() >= after) {
        Load.atomicSwap(spark, s"$dir.__retrain_pending", dir)
        // the swap carries the stage's _PUBLISH_AFTER marker into the
        // live root — delete it, or every published retained retrain
        // leaves a stray marker in the serving tree forever
        val mk = new org.apache.hadoop.fs.Path(dir, "_PUBLISH_AFTER")
        mk.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(mk, false)
      } else throw new IllegalStateException(
        s"a retained retrain awaits publish at $dir.__retrain_pending " +
          s"(window ends in ${(after - System.currentTimeMillis()) / 1000}" +
          "s) — mutations are blocked until it publishes; vacuum to " +
          "force, or wait out the window")
    }

  /** The replay high-water mark; -1 when no warehouse exists. A
    * [[retrain]] that crashed mid-swap heals here (the warehouse-root
    * recoverSwap — gated on lease liveness), which covers every read
    * entry point; writers heal unconditionally inside their lease.
    */
  def lastBatch(spark: SparkSession, dir: String): Long = {
    if (!WriterLease.liveHolder(spark, dir)) Load.recoverSwap(spark, dir)
    readMeta(spark, dir).map(_._1).getOrElse(-1L)
  }

  /** The whole meta row in ONE head() — (last_batch, del_epoch,
    * model_epoch, reencoded_through), retrain fields defaulting to 0
    * for warehouses written before retrain existed. Every verb used to
    * re-read the table once per FIELD (lastBatch + delEpoch +
    * modelEpoch + reencodedThrough = four schema inferences + four
    * 1-row jobs per verb); the lifecycle gates replay several verbs
    * per bench pass, so the per-action floor added up to a measurable
    * slice of every vector-warehouse gate.
    */
  private def readMeta(spark: SparkSession,
                       dir: String): Option[(Long, Long, Long, Long)] =
    Load.readTable(spark, s"$dir/meta").flatMap { df =>
      df.take(1).headOption.map { r =>
        def f(n: String): Long =
          if (r.schema.fieldNames.contains(n)) r.getAs[Long](n) else 0L
        (r.getAs[Long]("last_batch"), f("del_epoch"),
          f("model_epoch"), f("reencoded_through"))
      }
    }

  private def metaField(spark: SparkSession, dir: String,
                        field: String): Long =
    Load.readTable(spark, s"$dir/meta").map { df =>
      val r = df.head()
      if (r.schema.fieldNames.contains(field)) r.getAs[Long](field) else 0L
    }.getOrElse(0L)

  /** The committed delete epoch; 0 (no deletes) for warehouses written
    * before delete support existed.
    */
  private[graft] def delEpoch(spark: SparkSession, dir: String): Long =
    metaField(spark, dir, "del_epoch")

  /** The model epoch: 0 = the bootstrap models, +1 per [[retrain]]. */
  def modelEpoch(spark: SparkSession, dir: String): Long =
    metaField(spark, dir, "model_epoch")

  /** The lowest generation whose CURRENT on-disk encoding matches what
    * was originally served (everything below was re-encoded by the
    * last [[retrain]] under newer models).
    */
  private def reencodedThrough(spark: SparkSession, dir: String): Long =
    metaField(spark, dir, "reencoded_through")

  /** One meta-row writer that PRESERVES the retrain fields — the
    * 2-field writers append/delete/rollback used before retrain
    * existed would silently reset the model epoch.
    */
  private def writeMeta(spark: SparkSession, dir: String, last: Long,
                        epoch: Long, modelEp: Long, floor: Long): Unit = {
    import spark.implicits._
    Load.replaceTable(spark,
      Seq((last, epoch, modelEp, floor))
        .toDF("last_batch", "del_epoch", "model_epoch",
          "reencoded_through"), s"$dir/meta")
    ()
  }

  /** Bootstrap the warehouse from the initial corpus (fully wipes
    * `dir` — generation zero): trains + persists k coarse centroids
    * and m×ks PQ codebooks, then lands the encode of ALL of `vecs` as
    * `batch=0`. `trainOn` (default: `vecs` itself) is the training
    * subset — at corpus scale Lloyd iterations over every vector are
    * neither affordable nor needed (Jégou et al. train PQ on ~100k
    * samples); pass a DETERMINISTIC sample so re-bootstraps reproduce
    * the same models. Correctness is unaffected either way: the
    * models are persisted and every consumer (ingest, search, the
    * oracles) reads them back.
    */
  def bootstrap(spark: SparkSession, vecs: DataFrame, dir: String,
                k: Int, m: Int, ks: Int, iters: Int = 2,
                trainOn: Option[DataFrame] = None,
                meta: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lease BEFORE the wipe (the lock lives outside the root, so the
    // wipe cannot destroy it): even the teardown of the previous
    // warehouse runs single-writer, and the fence stays monotonic
    // across re-bootstraps
    WriterLease.withLease(spark, dir, "adc.bootstrap") { _ =>
    if (fs.exists(root)) fs.delete(root, true)
    // a stale pending retrain of the PREVIOUS warehouse must not
    // publish over the fresh bootstrap
    fs.delete(retrainPendingPath(dir), true)
    val train = trainOn.getOrElse(vecs)
    VectorOps.saveCentroids(spark,
      VectorOps.kmeansFit(
        train.select(col("vec_id"), col("embedding")), k, iters),
      s"$dir/centroids")
    val cents = VectorOps.loadCentroids(spark, s"$dir/centroids")
    val assigned = VectorOps.assignClusters(
        train.select(col("vec_id"), col("embedding")), cents)
      .withColumn("cluster_id", col("cluster_id").cast(LongType))
    Load.replaceTable(spark,
      Pq.trainCodebooks(spark,
        Pq.subResiduals(assigned, centDf(spark, dir), m), ks, iters),
      s"$dir/codebooks")
    writeGeneration(encodeBatch(spark, vecs, dir, meta), dir, 0L)
    writeMeta(spark, dir, last = 0L, epoch = 0L, modelEp = 0L, floor = 0L)
    }
  }

  /** Fold a vector batch under a caller-supplied contiguous id ≥ 1:
    * encode under the frozen models, land as `batch=I`, advance the
    * guard LAST. Replays (id ≤ high-water mark) are a loud no-op
    * returning false; skipped ids are refused.
    */
  def append(spark: SparkSession, vecs: DataFrame, dir: String,
             batchId: Long, meta: Seq[String] = Nil): Boolean = {
    require(batchId >= 1, "batch ids start at 1 (0 is the bootstrap)")
    val last0 = lastBatch(spark, dir)
    require(last0 >= 0, s"AdcIngest.append: no warehouse at $dir")
    if (batchId <= last0) return false
    WriterLease.withLease(spark, dir, "adc.append") { lease =>
    // heal BEFORE writing (root + index tree): a crashed rewrite
    // commit's generations may sit in the aside dir and must be back
    // before this batch lands
    healForWrite(spark, dir)
    // the replay/contiguity guard re-derives INSIDE the lease: the
    // pre-lease read above is only a cheap replay fast-path — two
    // concurrent deliveries of the same id (at-least-once streaming)
    // could both pass a guard read before mutual exclusion, and the
    // second would re-add the batch to a meta that already counts it
    val (last, epoch, modelEp, floor) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    if (batchId <= last) false
    else {
    require(batchId == last + 1,
      s"batch $batchId arrived over high-water mark $last — ids must " +
        "be contiguous or the skipped batch would silently never land")
    val encoded = encodeBatch(spark, vecs, dir, meta)
    // a generation whose columns diverge from the tree's would read
    // back as nulls under parquet schema union — refuse loudly
    require(spark.read.parquet(s"$dir/index").columns
        .filterNot(_ == "batch").toSet == encoded.columns.toSet,
      s"AdcIngest.append: meta columns $meta do not reproduce the " +
        "index schema — every generation must carry the same columns")
    SegmentCompaction.clearForLanding(spark, s"$dir/index", batchId)
    writeGeneration(encoded, dir, batchId)
    WriterLease.check(spark, lease)
    writeMeta(spark, dir, batchId, epoch, modelEp, floor)
    true
    }
    }
  }

  /** Roll the index back to generation `toBatch` — the recovery lever
    * when a bad batch landed, and the fixture lever that lets a gate
    * re-run the ingest lifecycle against a frozen bootstrap — through
    * the shared [[SegmentCompaction.rollback]] cut: the meta row lands
    * FIRST, then every `batch > toBatch` generation goes. A crash
    * between the two leaves generation dirs ABOVE the high-water mark
    * — inert remnants that [[index]]/[[segmentCount]] filter out, the
    * next [[rollback]] deletes on entry, and a later [[append]] of the
    * same id clears before it lands. A cut INSIDE a tree merged by
    * compaction is refused (its files interleave rows from both sides
    * of the cut); rebuild from bootstrap instead.
    */
  def rollback(spark: SparkSession, dir: String, toBatch: Long,
               retainMs: Long = 0L): Unit = {
    require(toBatch >= 0, "cannot roll back past the bootstrap")
    val last0 = lastBatch(spark, dir)
    require(last0 >= toBatch,
      s"AdcIngest.rollback: no warehouse at $dir at or above batch " +
        s"$toBatch")
    WriterLease.withLease(spark, dir, "adc.rollback") { lease =>
    healForWrite(spark, dir)
    // the high-water mark re-derives INSIDE the lease: a rollback
    // serialized behind another writer must not trust a pre-lease
    // read (a concurrent rollback could have already cut below it,
    // and writing the stale meta back would claim deleted generations)
    val (last, epochR, modelEpR, floorR) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    require(last >= toBatch,
      s"AdcIngest.rollback: a concurrent rollback already cut below " +
        s"batch $toBatch (high-water mark now $last)")
    // the re-encode floor clamps to the cut: generations appended
    // AFTER this rollback live under the current models, so cuts at or
    // above the new floor stay exact
    SegmentCompaction.rollback(spark, tree(dir), last, toBatch, retainMs) {
      WriterLease.check(spark, lease)
      writeMeta(spark, dir, toBatch, epochR, modelEpR,
        math.min(floorR, toBatch))
    }
    }
  }

  /** Tombstone-delete vectors by id — the takedown/opt-out lever (an
    * embedding derived from deleted content must leave the serving
    * index NOW, not at the next re-bootstrap). Logical deletion: the
    * ids land as an `epoch=E` generation under `tombstones/`;
    * [[index]] and [[readAsOf]] anti-join them out, so every served
    * search behaves as if the vectors were never ingested; physical
    * bytes are reclaimed when compaction next rewrites the rows'
    * generations. ADC search carries no corpus-level statistics, so
    * there are no globals to adjust — the anti-join IS the whole
    * semantic change.
    *
    * Exactly-once, crash-safe ([[SegmentCompaction.tombstone]]): ids
    * are validated against the served index (one compressed-scan
    * semi-join — `ids` must be delete-request-sized, it broadcasts;
    * unknown or already-deleted ids count zero), land as epoch
    * `del_epoch + 1`, and the meta row commits LAST. Returns the
    * number of newly deleted vectors.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Long =
   WriterLease.withLease(spark, dir, "adc.delete") { lease =>
    healForWrite(spark, dir)
    val (last, e0, modelEpD, floorD) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    require(last >= 0, s"AdcIngest.delete: no warehouse at $dir")
    SegmentCompaction.tombstone(spark, tree(dir), lease, e0,
      visible(spark, tree(dir), last, e0).select(col("vec_id"))
        .join(broadcast(ids.select(col("vec_id")).distinct()),
          Seq("vec_id"), "left_semi"))(v => (v.count(), ())) { _ =>
      writeMeta(spark, dir, last, e0 + 1, modelEpD, floorD)
    }
  }

  /** TIME-TRAVEL READ: the compressed index exactly as of generation
    * `batch` (the reproducible-serving snapshot: re-run an audit or an evaluation
    * against the index as it stood after fold I, O(1) via partition
    * pruning). Under tiered merges an as-of cut is only exact when it
    * falls on a surviving generation boundary — a merged dir holds a
    * contiguous RUN of batches under its lowest id, so a cut inside
    * the run would silently include newer rows; the coverage check
    * ([[SegmentCompaction.onBoundary]]) refuses it loudly.
    */
  def readAsOf(spark: SparkSession, dir: String, batch: Long): DataFrame = {
    require(batch >= 0, "as-of generations start at 0 (the bootstrap)")
    healForRead(spark, dir)
    val (last, del, modelEp, floor) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    require(last >= 0, s"AdcIngest.readAsOf: no warehouse at $dir")
    require(batch <= last,
      s"AdcIngest.readAsOf: generation $batch is above the high-water " +
        s"mark $last")
    // CROSS-EPOCH cuts are refused: generations below the re-encode
    // floor were ingested under a PREVIOUS model epoch and now exist
    // only re-encoded under the current one ([[retrain]]) — an as-of
    // read there would not be the bytes anyone historically served
    require(batch >= floor,
      s"AdcIngest.readAsOf: generation $batch predates the model-epoch " +
        s"$modelEp retrain (re-encoded through " +
        s"$floor) — its original encoding no longer exists; snapshot " +
        "before retraining")
    require(SegmentCompaction.onBoundary(spark, s"$dir/index", last, batch),
      s"AdcIngest.readAsOf: generation ${batch + 1} has been merged " +
        "into an earlier tree by compaction — an as-of cut inside the " +
        "merged run would include newer rows; snapshot before " +
        "compaction or rebuild")
    // deletes are NOT time-traveled: an as-of read rewinds the INGEST
    // stream, but a takedown applies to every serving read, historical
    // replays included — that is what a deletion request means
    servedCols(visible(spark, tree(dir), batch, del))
  }

  /** (vec_id, cluster_id, codes, vn) first, then any metadata columns
    * the ingest carried (see [[encodeBatch]]'s `meta`), minus the
    * physical `batch` partition column.
    */
  private def servedCols(df: DataFrame): DataFrame = {
    val core = Seq("vec_id", "cluster_id", "codes", "vn")
    val extras = df.columns.filterNot((core :+ "batch").contains).sorted
    df.select((core ++ extras).map(col): _*)
  }

  /** The served index across all generations: (vec_id, cluster_id,
    * codes, vn) — feed to [[Pq.adcSearch]] with [[Pq.probeLuts]] built
    * from the same persisted models.
    */
  def index(spark: SparkSession, dir: String): DataFrame = {
    healForRead(spark, dir)
    // generations above the high-water mark never serve: they are
    // either a crashed rollback's undeleted remnants (meta lands
    // first) or a crashed append's half-landed batch (meta lands
    // last) — a pure partition-pruned filter, no exchange. Tombstoned
    // vectors never serve either (broadcast anti-join, see [[delete]]).
    val (last, del, _, _) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    servedCols(visible(spark, tree(dir), last, del))
  }

  /** Number of `batch=` generations in the index tree — the
    * [[compact]] trigger: every search opens O(generations) file
    * groups, so an append-heavy index decays toward one file set per
    * batch. One driver-side listStatus, no Spark job.
    */
  def segmentCount(spark: SparkSession, dir: String): Int = {
    healForRead(spark, dir)
    val last = lastBatch(spark, dir)
    SegmentCompaction.generations(spark, s"$dir/index").count(_ <= last)
  }

  /** Collapse every generation into a single generation — a PURE
    * physical move (batches carry disjoint vec_ids under the append
    * contract; per-vector rows never merge), clustered by cluster_id
    * within files so probe-routed reads touch contiguous runs.
    * Crash-safe through [[SegmentCompaction.commit]]; the meta row —
    * including the exactly-once `last_batch` high-water mark — is
    * untouched, so replay protection and the next append id survive.
    * `retainMs > 0` commits the rewrite as a hidden pending
    * ([[SegmentCompaction.compact]]).
    */
  def compact(spark: SparkSession, dir: String,
              retainMs: Long = 0L): Unit =
   WriterLease.withLease(spark, dir, "adc.compact") { lease =>
    // heal a crashed tiered merge before the full rewrite reads the
    // tree (aside'd generations would otherwise drop silently)
    healForWrite(spark, dir)
    val (last, delC, _, _) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    SegmentCompaction.compact(spark, tree(dir), lease, last, delC, retainMs)
  }

  /** The compaction POLICY hook: compact when the tree holds
    * more than `maxSegments` generations, else no-op. Idempotent under
    * streaming replays; a crash mid-compaction heals through
    * [[segmentCount]]'s [[SegmentCompaction.recover]] on the next call.
    */
  def compactIfNeeded(spark: SparkSession, dir: String,
                      maxSegments: Int): Boolean = {
    require(maxSegments >= 1, "maxSegments must be at least 1")
    if (segmentCount(spark, dir) > maxSegments) { compact(spark, dir); true }
    else false
  }

  /** Size-tiered compaction ([[SegmentCompaction.tieredCompact]]):
    * merge the unsettled tail of generations into one generation at
    * the tail's lowest batch id when at least `minMerge` candidates
    * exist, leaving large settled trees — above all the bootstrap —
    * untouched on disk. A pure physical move (disjoint vec_ids per the
    * [[append]] contract), cluster-clustered within files like
    * [[compact]]; meta and its exactly-once `last_batch` are
    * untouched, and because merges collapse a CONTIGUOUS run into its
    * lowest id, [[rollback]] stays decidable from the dir listing.
    * Returns the merged batch ids (empty = policy did not fire).
    */
  def tieredCompact(spark: SparkSession, dir: String, ratio: Double = 4.0,
                    minMerge: Int = 2,
                    retainMs: Long = 0L): Seq[Long] =
   WriterLease.withLease(spark, dir, "adc.tieredCompact") { lease =>
    healForWrite(spark, dir)
    val (last, delT, _, _) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    SegmentCompaction.tieredCompact(spark, tree(dir), lease, last, delT,
      ratio, minMerge, retainMs)
  }

  /** RETRAIN the frozen models from the CURRENT live vectors and
    * re-encode every generation behind ONE crash-safe swap — the
    * drift responder the q194 recall audit exists for: quantization
    * models fitted at bootstrap degrade as the vector distribution
    * drifts (recall@5 0.650 → 0.513 over the recorded 1M drift wave),
    * and the only prior remedy was a full manual re-bootstrap that
    * destroyed the high-water mark and the tombstone ledger.
    *
    * `vecs` supplies the raw (vec_id, embedding [, meta…]) of the
    * CURRENT live vectors — the upstream vector store has them; this
    * warehouse stores only codes. Coverage is REQUIRED: every live
    * indexed vec_id must appear exactly once in `vecs` (missing rows
    * would silently vanish from the index — refused loudly).
    * `trainOn` optionally subsamples the k-means/PQ fit (the Jégou
    * rule — same contract as [[bootstrap]]).
    *
    * What survives: `last_batch` (replay protection and the next
    * append id), the tombstone ledger and `del_epoch` (deletes stay
    * deleted — tombstoned vectors are excluded from training AND from
    * the re-encode, making retrain also the physical purge of every
    * generation), per-generation membership (each vec_id re-encodes
    * into the generation it landed in, so rollback boundaries and
    * [[segmentCount]] are unchanged). What advances: `model_epoch`
    * +1, and `reencoded_through` = the high-water mark — [[readAsOf]]
    * refuses cuts below it (the original encodings no longer exist).
    *
    * Crash safety: the ENTIRE new warehouse (models, re-encoded
    * index, meta, tombstone copy, fence/lease continuity) stages
    * under `dir.__retrain`, then lands through the standard two-rename
    * [[graft.etl.Load.atomicSwap]] of the warehouse ROOT — one commit
    * point. `retainMs > 0` defers that swap: the staged root parks as
    * `dir.__retrain_pending` while the OLD root keeps serving
    * byte-untouched (in-flight and new readers both), mutations are
    * REFUSED until the window passes (a mutation on either root would
    * be lost or corrupting — see publishRetrainGate), and the first
    * maintenance call after the window — or [[vacuum]] — performs the
    * same atomic swap. This is the reader-safety story for the one
    * verb that rewrites the whole warehouse: at 100 TB a retrain
    * takes hours and minutes-long queries are always in flight; the
    * old root must outlive them. One commit
    * point, healed by the root recoverSwap every entry runs (see
    * [[lastBatch]]). Every crash point leaves the full old or the
    * full new warehouse. Returns the number of re-encoded vectors.
    */
  def retrain(spark: SparkSession, vecs: DataFrame, dir: String,
              k: Int, m: Int, ks: Int, iters: Int = 2,
              trainOn: Option[DataFrame] = None,
              meta: Seq[String] = Nil,
              retainMs: Long = 0L): Long =
   WriterLease.withLease(spark, dir, "adc.retrain") { lease =>
    healForWrite(spark, dir)
    // an unpublished retained merge is derived data of generations the
    // re-encode rewrites anyway
    SegmentCompaction.discardPending(spark, s"$dir/index")
    val (last, e0, modelEp0, _) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    require(last >= 0, s"AdcIngest.retrain: no warehouse at $dir")
    val stage = s"$dir.__retrain"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true) // stale staging
    // live generation membership from the served index — each vector
    // re-encodes into the generation it originally landed in
    val membership = visible(spark, tree(dir), last, e0)
      .select(col("vec_id"), col("batch").cast(LongType).as("batch"))
    val joined = graft.ops.Relational.eager(
      vecs.select((Seq("vec_id", "embedding") ++ meta).map(col): _*)
        .join(membership, Seq("vec_id")))
    try {
      val nLive = membership.count()
      val n = joined.count()
      require(n == nLive,
        s"AdcIngest.retrain: supplied vectors cover $n of $nLive live " +
          "indexed ids — a partial retrain would silently drop the " +
          "missing vectors; supply the full live set")
      // row counts alone can't tell a clean cover from one duplicate
      // masking one missing id — the distinct count closes that hole
      // (every live vec_id must appear EXACTLY once, per the contract)
      val nDistinct = joined.select(col("vec_id")).distinct().count()
      require(nDistinct == nLive,
        s"AdcIngest.retrain: supplied vectors carry ${n - nDistinct} " +
          "duplicate vec_id rows masking missing ids — every live " +
          "vec_id must appear exactly once")
      // new models fitted on the LIVE vectors (tombstoned ones are
      // gone from membership, so they influence nothing)
      val train = trainOn.getOrElse(joined)
      VectorOps.saveCentroids(spark,
        VectorOps.kmeansFit(
          train.select(col("vec_id"), col("embedding")), k, iters),
        s"$stage/centroids")
      val cents = VectorOps.loadCentroids(spark, s"$stage/centroids")
      val assigned = VectorOps.assignClusters(
          train.select(col("vec_id"), col("embedding")), cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
      Load.replaceTable(spark,
        Pq.trainCodebooks(spark,
          Pq.subResiduals(assigned, centDf(spark, stage), m), ks, iters),
        s"$stage/codebooks")
      // re-encode every generation under the staged models; `batch`
      // rides encodeBatch's meta passthrough and restores the layout
      encodeBatch(spark, joined, stage, meta :+ "batch")
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$stage/index")
      writeMeta(spark, stage, last, e0, modelEp0 + 1, floor = last)
      // the ledger survives verbatim (delete replays stay no-ops);
      // the lease/fence live OUTSIDE the swapped root (<dir>.__lock —
      // the WriterLease contract), so the swap cannot destroy them
      // and no copy is needed
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
        spark.read.parquet(s"$dir/tombstones")
          .write.mode("overwrite").partitionBy("epoch")
          .parquet(s"$stage/tombstones")
      WriterLease.check(spark, lease)
      if (retainMs > 0L) {
        // RETAINED retrain: the fully-staged new root parks beside the
        // old one, which keeps serving untouched (in-flight AND new
        // readers); mutations are blocked until the window passes
        // (publishRetrainGate), then the first maintenance call — or
        // [[vacuum]] — publishes via the same atomic root swap
        val out = fs.create(new org.apache.hadoop.fs.Path(
          s"$stage/_PUBLISH_AFTER"), true)
        try out.write(
          (System.currentTimeMillis() + retainMs).toString.getBytes("UTF-8"))
        finally out.close()
        fs.delete(retrainPendingPath(dir), true) // unreachable, defensive
        if (!fs.rename(new org.apache.hadoop.fs.Path(stage),
            retrainPendingPath(dir)))
          throw new IllegalStateException(
            s"retained retrain aborted: cannot park $stage as " +
              s"${retrainPendingPath(dir)} (old root untouched)")
      } else Load.atomicSwap(spark, stage, dir)
      n
    } finally joined.unpersist()
  }

  /** TOMBSTONE-DEBT purge ([[SegmentCompaction.purgeDebt]]): rewrite
    * only the generations whose tombstoned-row fraction has reached
    * `tau`, reclaiming dead bytes a settled generation would otherwise
    * hold until it happened to merge. One generation per
    * [[SegmentCompaction.commit]], pure physical filter, serving
    * identical before/after.
    * Returns the purged generation ids.
    */
  def purgeDebt(spark: SparkSession, dir: String,
                tau: Double = 0.5, retainMs: Long = 0L): Seq[Long] =
   WriterLease.withLease(spark, dir, "adc.purgeDebt") { lease =>
    healForWrite(spark, dir)
    val (last, epoch, _, _) = readMeta(spark, dir)
      .getOrElse((-1L, 0L, 0L, 0L))
    require(last >= 0, s"AdcIngest.purgeDebt: no warehouse at $dir")
    SegmentCompaction.purgeDebt(spark, tree(dir), lease, last, epoch, tau,
      retainMs)
  }

  /** Force-publish every snapshot-retained state NOW — a parked
    * retained [[retrain]], then hidden pending rewrites and a retained
    * rollback's deferred deletions — the explicit vacuum verb; call
    * when no reader still holds an older snapshot. Returns the
    * published and retired generation ids (empty = nothing pending).
    */
  def vacuum(spark: SparkSession, dir: String): Seq[Long] =
    WriterLease.withLease(spark, dir, "adc.vacuum") { _ =>
      publishRetrainGate(spark, dir, force = true)
      healForWrite(spark, dir)
      SegmentCompaction.vacuum(spark, tree(dir), lastBatch(spark, dir))
    }
}
