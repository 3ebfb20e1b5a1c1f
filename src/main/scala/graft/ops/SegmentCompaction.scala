package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.etl.{Load, LocalParquet, WriterLease}

/** The generation tree of the three batched warehouses —
  * [[InvertedIndex]] (`postings/`), [[AdcIngest]] (`index/`) and
  * [[CorpusIngest]] (`corpus/`) — and its one lifecycle, LSM style
  * (O'Neil et al., "The Log-Structured Merge-Tree", Acta Informatica
  * 1996). Each warehouse describes its tree once ([[Tree]]: key
  * column and physical layout) and keeps only its own commit point
  * (the corpus row with the BM25 globals, the vector meta row, or
  * `delmeta` + `state`); everything else is defined here, once:
  *
  *  - the generation listing ([[generations]]), the only parser of
  *    `batch=<id>` dir names, and the landing of a new generation
  *    ([[clearForLanding]]);
  *  - the serving read ([[visible]]): generations up to the
  *    high-water mark minus the tombstone ledger under
  *    `tombstones/epoch=E/`, with its exactly-once epoch write
  *    ([[tombstone]]);
  *  - one rewrite and one commit behind the tombstone-debt purge
  *    ([[purgeDebt]]) and full and size-tiered compaction
  *    ([[compact]], [[tieredCompact]]);
  *  - the rollback cut ([[rollback]]), snapshot retention (hidden
  *    pending rewrites, deferred retirement) and every crash heal.
  *
  * Size-tiered merging is the write-amplification fix over the
  * full-rewrite [[compact]]: a full compact rewrites the ENTIRE tree
  * into `batch=0` every time the policy fires, so a steady append
  * stream with segment budget K rewrites O(N·index/K) total bytes
  * (the tiering is the size-tiered policy of Lucene's
  * TieredMergePolicy / RocksDB universal compaction). Tiered merging
  * rewrites only the SMALL unsettled tail of generations; a large
  * settled tree's files are never opened, moved, or rewritten.
  *
  * Policy ([[mergeSet]]): generation i (size s_i — row count, see
  * [[genSizes]] — ascending batch id) is SETTLED when
  * s_i ≥ ratio × Σ s_j over every newer generation —
  * it dwarfs everything accumulated after it, so folding the tail into
  * it would pay O(s_i) for an O(tail) problem. The merge candidates are
  * every generation newer than the newest settled one; the merge fires
  * when at least `minMerge` of them exist. Each byte therefore
  * re-merges only while its segment is still within ratio× of the
  * incoming tail — segments settle geometrically and total write
  * amplification is O(ratio) per settled level instead of O(appends).
  *
  * Merging a CONTIGUOUS RUN of generations into the run's lowest id
  * preserves the coverage invariant the warehouses rely on: live dir
  * ids i_0 < … < i_k partition the original batches 0..last_batch into
  * runs, dir i_j holding exactly batches [i_j, i_{j+1}−1] (i_k holds
  * [i_k, last]). That is what lets [[rollback]] and the as-of reads
  * decide — from the dir listing and the high-water mark alone —
  * whether a cut falls on a generation boundary ([[onBoundary]]) or
  * inside a merged tree (refused: rows below the cut share files with
  * rows above it).
  *
  * One commit ([[commit]]) lands every rewrite — full compaction, a
  * size-tiered merge, a tombstone-debt purge. Each rewrites a run of
  * generation ids (lo = the run's lowest id) and stages it at
  * `<tree>.__tiered_staging/batch=<lo>`; a run whose live rows are all
  * gone stages an empty dir. Then:
  *  1. a manifest naming the run lands in `<tree>.__tiered_old`
  *     BEFORE anything moves (so recovery always knows the run);
  *  2. the run's generation dirs rename into that aside dir ASCENDING
  *     — the lowest id first, because its presence in the live tree is
  *     the recovery discriminator;
  *  3. the staged dir renames into the live tree as `batch=<lo>` — the
  *     commit point;
  *  4. aside + staging are deleted.
  * With `retainMs > 0` steps 1–4 become a PUBLISH that runs after the
  * retention window: the staged dir parks hidden as `.merged-<lo>`
  * (a `_MERGED_IDS` marker names the run), the run keeps serving, and
  * [[publish]] later (P1) moves live `batch=<lo>` to hidden `.old-<lo>`,
  * (P2) renames `.merged-<lo>` to `batch=<lo>` — the commit point — and
  * (P3) deletes the run's other generations, `.old-<lo>`, then the
  * marker.
  *
  * [[recover]] (every writer entry; read entries when no writer lease
  * is live) heals each crash point:
  *
  * | crash after | left on disk                      | heal              |
  * |-------------|-----------------------------------|-------------------|
  * | staging     | staging only                      | delete staging    |
  * | 1 (torn)    | aside, no parseable manifest      | restore any moved |
  * |             |                                   | dir, drop aside   |
  * | 2           | manifest, live `batch=<lo>` gone  | restore the run   |
  * | 3           | manifest, live `batch=<lo>` there | drop aside, stage |
  * | P1          | `.merged-<lo>`, `batch=<lo>` gone | roll forward P2-3 |
  * | P2          | `batch=<lo>` with `_MERGED_IDS`   | roll forward P3   |
  *
  * Every crash point leaves either the full pre-rewrite or the full
  * post-rewrite tree. Nothing but `batch=<long>` ever sits in the live
  * tree, so a reader never meets a generation name it cannot parse.
  *
  * Reader contract. Serving reads go through [[visible]]. A
  * non-retained commit takes the run out of the live tree between
  * steps 2 and 3, so a reader that lists the tree inside that window
  * sees the run's generations briefly ABSENT — never twice — and one
  * whose plan pinned the run's old files may find them gone.
  * `retainMs > 0` is the reader-isolation option: the run's files stay
  * where they are until the window has passed.
  */
object SegmentCompaction {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def asidePath(tree: String) = new Path(s"$tree.__tiered_old")
  private def stagingPath(tree: String) = new Path(s"$tree.__tiered_staging")
  private val Manifest = "_MANIFEST"

  // ---- deferred publish (snapshot-retention) names ----
  // A dot-prefixed dir is INVISIBLE to Spark partition discovery and
  // to hive-glob readers — that invisibility is the whole snapshot
  // mechanism (see [[commit]] with retainMs > 0).
  private def mergedPath(tree: String, lo: Long) =
    new Path(s"$tree/.merged-$lo")
  private def oldAsidePath(tree: String, lo: Long) =
    new Path(s"$tree/.old-$lo")
  private val MergedMarker = "_MERGED_IDS"

  /** A committed-but-unpublished REWRITE: the rewritten generation
    * sits HIDDEN in the tree while the generations it replaces keep
    * serving (both views are identical — every retained rewrite here
    * is a pure physical move: tiered merge, full compact, debt
    * purge), until [[publishDue]]/[[publish]] swaps it in after the
    * retention window. Several can pend at once (one per purged
    * generation) — their id sets are disjoint by construction.
    */
  final case class PendingMerge(ids: Seq[Long], publishAfterMs: Long,
                                dir: Path)

  /** One warehouse's generation tree: the warehouse root `dir` (home
    * of the `tombstones/` ledger and of the writer lease), the tree's
    * dir `name` under it, the id column `key` the ledger holds, and the
    * physical layout every rewrite lays rows out in — `cluster`
    * (repartition keys), `sort` (order within each file) and `parts`
    * (sub-partition dirs inside a generation). `merges = false` marks
    * a tree compaction never folds into runs (the corpus): a missing
    * generation dir there is an empty batch, not a merged one, so
    * rollback skips the coverage check.
    */
  final case class Tree(dir: String, name: String, key: String,
                        cluster: Seq[String] = Nil, sort: Seq[String] = Nil,
                        parts: Seq[String] = Nil, merges: Boolean = true) {
    def path: String = s"$dir/$name"

    private[SegmentCompaction] def layout(df: DataFrame): DataFrame = {
      val c = if (cluster.isEmpty) df else df.repartition(cluster.map(col): _*)
      if (sort.isEmpty) c else c.sortWithinPartitions(sort.map(col): _*)
    }
  }

  /** Ids of the `batch=<id>` generation dirs under `tree`, ascending —
    * the one parser of generation dir names. A name that is not
    * `batch=<long>` is not a generation and is skipped — e.g. the
    * `batch=N.__old` swap remnant an older build's purge could leave,
    * which only a writer entry heals ([[heal]]).
    */
  def generations(spark: SparkSession, tree: String): Seq[Long] = {
    val p = new Path(tree)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .flatMap(st => Some(st.getPath.getName).filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toLongOption))
      .sorted
  }

  /** Whether a cut at generation `at` (≤ the high-water mark `last`)
    * falls on a generation boundary: `at + 1` is itself a generation
    * dir, or the cut is the high-water mark. Under the coverage
    * invariant a cut anywhere else lies inside a merged run.
    */
  def onBoundary(spark: SparkSession, tree: String, last: Long,
                 at: Long): Boolean =
    at == last || generations(spark, tree).contains(at + 1)

  /** (batch id, row count) per live generation, ascending id. ROWS are
    * the tiering metric, not directory bytes: postings and PQ codes
    * are fixed-width rows, so rows ∝ data bytes at scale — but unlike
    * bytes, rows aren't floored by per-file parquet footer overhead
    * (a 64-bucket generation carries ~64 footers no matter how few
    * rows it holds, which at small scale makes every generation look
    * the same size and the policy nondeterministic). Counted from
    * each generation's parquet footers on the driver — no schema
    * inference, no partition discovery, no Spark job; zero-row
    * generations are omitted.
    */
  def genSizes(spark: SparkSession, tree: String): Seq[(Long, Long)] =
    generations(spark, tree)
      .map(id => id -> LocalParquet.rowCount(spark, s"$tree/batch=$id"))
      .filter(_._2 > 0L)

  private def dropGeneration(spark: SparkSession, tree: String,
                             id: Long): Unit = {
    fsOf(spark, new Path(tree)).delete(new Path(s"$tree/batch=$id"), true)
    ()
  }

  /** Clear generation `id` of `tree` before a writer lands it: a
    * leftover `batch=<id>` dir — a retained rollback's cut generation,
    * a crashed rollback's or a crashed append's remnant — is deleted,
    * and `id` leaves the retirement schedule (it is live again, and
    * deferred deletion must never fire on it). Without this, a
    * partitioned dynamic overwrite (postings' `(batch, bucket)`)
    * replaces only the sub-dirs the new batch touches and the cut rows
    * in the others would serve again under the new high-water mark.
    */
  private[graft] def clearForLanding(spark: SparkSession, tree: String,
                                     id: Long): Unit = {
    dropGeneration(spark, tree, id)
    retired(spark, tree).foreach { case (ids, after) =>
      if (ids.contains(id))
        writeRetired(spark, tree, ids.filterNot(_ == id), after)
    }
  }

  /** Delete every generation above `toBatch` from a per-generation
    * sidecar tree (the inverted index's `docs/`, the corpus `urls/`)
    * that follows its warehouse's rollback.
    */
  private[graft] def dropAbove(spark: SparkSession, tree: String,
                               toBatch: Long): Unit =
    generations(spark, tree).filter(_ > toBatch)
      .foreach(dropGeneration(spark, tree, _))

  // ---- the tombstone ledger ----

  /** The committed tombstone ids: epochs ≤ the warehouse's committed
    * `epoch` (a crashed delete's half-landed epoch above it is inert).
    */
  private[graft] def tombstones(spark: SparkSession, t: Tree,
                                epoch: Long): DataFrame =
    spark.read.parquet(s"${t.dir}/tombstones")
      .filter(col("epoch") <= epoch).select(col(t.key))

  /** Anti-join `df` out of the committed tombstone set, or `df`
    * untouched when the warehouse holds no deletes — delete-free trees
    * keep their exact pre-delete plans. The tombstone side is
    * |deletes|-bounded, so it broadcasts: zero exchanges added on the
    * served side.
    */
  private[graft] def live(spark: SparkSession, t: Tree, epoch: Long)
                         (df: DataFrame): DataFrame =
    if (epoch <= 0L) df
    else df.join(broadcast(tombstones(spark, t, epoch)), Seq(t.key),
      "left_anti")

  /** The one visibility rule of a generation tree: the generations ≤
    * `upTo` (dirs above the high-water mark are a crashed append's
    * half-landed batch, a crashed rollback's remnants or a retained
    * rollback's cut generations — the commit row is the commit point),
    * minus the tombstones committed by `epoch`. Callers add their own
    * filters on top; the optimizer pushes them below the anti-join, so
    * partition and bucket pruning stay as if written inside.
    */
  private[graft] def visible(spark: SparkSession, t: Tree, upTo: Long,
                             epoch: Long): DataFrame =
    live(spark, t, epoch)(
      spark.read.parquet(t.path).filter(col("batch") <= upTo))

  /** The ledger write behind every warehouse's delete — exactly-once
    * and crash-safe:
    *  1. epoch dirs above the committed `e0` are a crashed delete's
    *     remnants (the warehouse's commit row is the commit point) and
    *     are deleted first;
    *  2. `victims` — built after that heal, already filtered against
    *     the ledger — materializes ONCE (eager local checkpoint):
    *     `measure` and the epoch write must see the same rows, or a
    *     nondeterministic `ids` (sample/limit-derived) could hand each
    *     action a different victim set and desync the commit row from
    *     the ledger;
    *  3. `measure` returns the new-victim count (plus whatever the
    *     commit needs); zero writes nothing and leaves the epoch, so a
    *     replayed delete is a no-op;
    *  4. the victims land as epoch `e0 + 1` in their OWN dir — never an
    *     overwrite of the tombstones root a reader may hold open; step
    *     1 removed any remnant, so errorifexists is exact;
    *  5. after the fence check, `commit` writes the commit row LAST.
    * Returns the number of newly deleted rows.
    */
  private[graft] def tombstone[A](spark: SparkSession, t: Tree,
                                  lease: WriterLease.Lease, e0: Long,
                                  victims: => DataFrame)
                                 (measure: DataFrame => (Long, A))
                                 (commit: A => Unit): Long = {
    val root = new Path(s"${t.dir}/tombstones")
    val fs = fsOf(spark, root)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).filter { q =>
        q.getName.startsWith("epoch=") &&
          q.getName.stripPrefix("epoch=").toLongOption.exists(_ > e0)
      }.foreach(q => fs.delete(q, true))
    val v = victims.localCheckpoint()
    val (n, a) = measure(v)
    if (n > 0L) {
      // one file per epoch: the victims are already materialized, and a
      // split would vary from run to run
      v.coalesce(1).write.mode("errorifexists")
        .parquet(s"${t.dir}/tombstones/epoch=${e0 + 1}")
      WriterLease.check(spark, lease)
      commit(a)
    }
    n
  }

  // ---- heals ----

  /** Writer-side entry heal of `t`, run unconditionally INSIDE the
    * caller's lease: the tree's own commit and publish remnants
    * ([[recover]]), then the two-rename swap remnants under the
    * warehouse root — sibling tables (state, meta, corpus row, …) whose
    * read-side heals are gated on lease liveness and so are suppressed
    * under this writer's own lease, and the `<tree>.__old` and
    * `batch=N.__old` remnants an older build's whole-tree compact or
    * generation purge could leave.
    */
  private[graft] def heal(spark: SparkSession, t: Tree): Unit = {
    recover(spark, t.path)
    Load.recoverTreeSwaps(spark, t.dir)
  }

  /** Read-path heal, GATED on writer-lease liveness: remnants under a
    * LIVE lease are a writer's in-flight state, not a crash — a reader
    * "healing" them could restore a directory the writer is mid-rename
    * on, or delete the staging it is about to commit. A lease silent
    * past its ttl IS a crash (holders heartbeat), so heals then
    * proceed, as they do with no lease at all.
    */
  private[graft] def healForRead(spark: SparkSession, t: Tree): Unit =
    if (!WriterLease.liveHolder(spark, t.dir)) recover(spark, t.path)

  // ---- the lifecycle verbs ----

  /** The one rewrite behind full compaction, tiered merging and the
    * debt purge: read the run `ids` (a contiguous run of generations),
    * drop tombstoned rows (the physical purge behind the logical
    * deletes — the ledger itself stays, it keeps delete replays no-ops,
    * and the read filter is idempotent on purged rows), relabel them
    * `batch=<ids.min>`, lay them out, stage them at
    * `<tree>.__tiered_staging`, check the fence, then `publish` — every
    * caller passes [[commit]]. A run whose live rows are all gone
    * stages as an empty generation dir.
    */
  private def rewrite(spark: SparkSession, t: Tree, lease: WriterLease.Lease,
                      ids: Seq[Long], epoch: Long)
                     (publish: => Unit): Unit = {
    val lo = ids.min
    val staging = stagingPath(t.path)
    t.layout(live(spark, t, epoch)(
        spark.read.parquet(t.path).filter(col("batch").isin(ids: _*)))
        .drop("batch").withColumn("batch", lit(lo)))
      .write.mode("overwrite").partitionBy("batch" +: t.parts: _*)
      .parquet(staging.toString)
    fsOf(spark, staging).mkdirs(new Path(staging, s"batch=$lo"))
    WriterLease.check(spark, lease)
    publish
  }

  /** Full compaction: every generation ≤ `last` into one generation at
    * the lowest id. A pure physical move — generations carry disjoint
    * ids. Dirs above `last` are not this verb's: the rollback, retire
    * and landing paths own them. An unpublished retained rewrite is
    * derived data of generations this rewrite covers and is discarded
    * rather than left to race its publish.
    */
  private[graft] def compact(spark: SparkSession, t: Tree,
                             lease: WriterLease.Lease, last: Long,
                             epoch: Long, retainMs: Long): Unit = {
    discardPending(spark, t.path)
    val ids = generations(spark, t.path).filter(_ <= last)
    if (ids.nonEmpty)
      rewrite(spark, t, lease, ids, epoch)(commit(spark, t.path, ids, retainMs))
  }

  /** Size-tiered compaction under [[mergeSet]]: the unsettled tail
    * merges into one generation at its lowest id; settled generations
    * are never opened. Zero-row generations inside the tail's id range
    * join the run, so the merged dir still covers a contiguous run. A
    * due retained rewrite publishes first and a due retained
    * rollback's deletions execute; while a pending rewrite is still
    * inside its window, maintenance BACKS OFF (a second merge over the
    * same tail would race its publish). Returns the merged ids (empty =
    * the policy did not fire).
    */
  private[graft] def tieredCompact(spark: SparkSession, t: Tree,
                                   lease: WriterLease.Lease, last: Long,
                                   epoch: Long, ratio: Double, minMerge: Int,
                                   retainMs: Long): Seq[Long] = {
    publishDue(spark, t.path)
    retireDue(spark, t.path, last)
    val tail =
      if (pending(spark, t.path).nonEmpty) Seq.empty
      else mergeSet(genSizes(spark, t.path).filter(_._1 <= last), ratio,
        minMerge)
    val ids =
      if (tail.isEmpty) tail
      else generations(spark, t.path)
        .filter(g => g >= tail.min && g <= tail.max)
    if (ids.nonEmpty)
      rewrite(spark, t, lease, ids, epoch)(commit(spark, t.path, ids, retainMs))
    ids
  }

  /** TOMBSTONE-DEBT purge: rewrite (only) the generations whose
    * tombstoned-row fraction has reached `tau`, dropping the dead rows
    * — the reclaim lever for the case the size-tiered policy never
    * reaches, a huge SETTLED generation that is half deleted
    * (RocksDB's delete-triggered compaction). Each indebted generation
    * is its own one-generation run through [[rewrite]] and [[commit]];
    * the others are never opened. A pure physical filter (every read
    * already anti-joins the ledger). The debt scan is one id-column
    * pass plus a broadcast semi-join. Due retained rewrites publish
    * first; generations still covered by an in-window pending are
    * skipped, never discarded (their debt drains at publish). Returns
    * the purged generation ids.
    */
  private[graft] def purgeDebt(spark: SparkSession, t: Tree,
                               lease: WriterLease.Lease, last: Long,
                               epoch: Long, tau: Double,
                               retainMs: Long): Seq[Long] = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    publishDue(spark, t.path)
    if (epoch <= 0L) Seq.empty
    else {
      val debt = spark.read.parquet(t.path)
        .filter(col("batch") <= last)
        .join(broadcast(tombstones(spark, t, epoch)), Seq(t.key), "left_semi")
        .groupBy(col("batch").cast(LongType).as("batch"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val covered = pendings(spark, t.path).flatMap(_.ids).toSet
      val victims = genSizes(spark, t.path)
        .filter(_._1 <= last)
        .collect { case (b, n)
          if n > 0 && !covered(b) &&
            debt.getOrElse(b, 0L).toDouble / n >= tau => b }
      victims.foreach { b =>
        rewrite(spark, t, lease, Seq(b), epoch)(
          commit(spark, t.path, Seq(b), retainMs))
      }
      victims
    }
  }

  /** The rollback cut to `toBatch` below the high-water mark `last`:
    * discard unpublished retained rewrites (their source generations
    * are still live; a later publish would resurrect cut ones), delete
    * the generations above `last` — a crashed rollback's remnants or
    * an earlier retained rollback's still-scheduled generations, whose
    * snapshots a restructuring writer legally invalidates — and refuse
    * a cut inside a merged run (its files interleave rows from both
    * sides). Then `commit` lands the warehouse's commit row (with its
    * own fence check) FIRST, and the cut generations go: deleted, or
    * with `retainMs > 0` left in place behind the committed mark on a
    * deferred-deletion schedule ([[retire]]) so in-flight readers'
    * pinned files survive. A crash between the two steps leaves inert
    * dirs above the mark that the next rollback deletes and a re-ingest
    * of the same id clears ([[clearForLanding]]). Tombstones survive a
    * rollback: it rewinds the ingest stream, not the delete requests.
    */
  private[graft] def rollback(spark: SparkSession, t: Tree, last: Long,
                              toBatch: Long, retainMs: Long)
                             (commit: => Unit): Unit = {
    discardPending(spark, t.path)
    val ids = generations(spark, t.path)
    ids.filter(_ > last).foreach(dropGeneration(spark, t.path, _))
    require(!t.merges || onBoundary(spark, t.path, last, toBatch),
      s"rollback of ${t.path}: generation ${toBatch + 1} has been merged " +
        "into an earlier tree by compaction — its files hold rows from " +
        s"batches <= $toBatch too, so rolling back to $toBatch would " +
        "corrupt them; rebuild from bootstrap instead")
    commit
    val cut = ids.filter(id => id > toBatch && id <= last)
    if (retainMs > 0L)
      retire(spark, t.path, cut, System.currentTimeMillis() + retainMs)
    else cut.foreach(dropGeneration(spark, t.path, _))
  }

  /** Force-publish every snapshot-retained state NOW — pending
    * rewrites and a retained rollback's deferred-deletion schedule —
    * the vacuum step for when no reader still holds an older snapshot.
    * Returns the affected ids (empty = nothing pending).
    */
  private[graft] def vacuum(spark: SparkSession, t: Tree,
                            last: => Long): Seq[Long] =
    publish(spark, t.path) ++ retireDue(spark, t.path, last, force = true)

  /** The ids to merge under the size-tiered policy, or empty when no
    * merge is due: every generation newer than the newest SETTLED one
    * (settled ⇔ bytes ≥ ratio × total bytes of all newer generations),
    * gated on at least `minMerge` candidates. Pure — spec-pinned
    * directly.
    */
  def mergeSet(sizes: Seq[(Long, Long)], ratio: Double,
               minMerge: Int): Seq[Long] = {
    require(ratio >= 1.0, "tier ratio must be at least 1")
    require(minMerge >= 2, "a merge needs at least 2 generations")
    // suffix(i) = Σ sizes over generations i.. (newer-or-equal); the
    // newest generation is never a barrier — "settled" means dwarfing
    // a NONEMPTY newer tail, else nothing could ever merge
    val suffix = sizes.map(_._2).scanRight(0L)(_ + _)
    val lastSettled = (0 until sizes.length - 1).reverse
      .find(i => sizes(i)._2 >= ratio * suffix(i + 1)).getOrElse(-1)
    val cands = sizes.drop(lastSettled + 1).map(_._1)
    if (cands.size >= minMerge) cands else Seq.empty
  }

  /** Heal any half-finished [[commit]] or [[publish]] at `tree`; see
    * the object doc for the crash-point table. Idempotent and
    * re-entrant.
    */
  def recover(spark: SparkSession, tree: String): Unit = {
    // publishes that crashed mid-sequence roll FORWARD (the pre-merge
    // view is already partially destroyed); an intact pending merge is
    // left alone — reads heal crashes, writers advance state
    // (publishDue runs from lease-holding maintenance entry points)
    completeHalfPublished(spark, tree)
    val aside = asidePath(tree)
    val staging = stagingPath(tree)
    val fs = fsOf(spark, new Path(tree))
    if (fs.exists(aside)) {
      val mf = new Path(aside, Manifest)
      val ids = if (fs.exists(mf)) readManifest(fs, mf) else Seq.empty
      if (ids.isEmpty) {
        // no manifest, or an empty/truncated one (crash during the
        // manifest write — which happens BEFORE any rename, so nothing
        // can have moved under a manifest that never finished).
        // Defensively restore any aside'd dir whose live target is
        // missing — rename-if-absent is safe in every state: a present
        // target means the live tree already serves that generation.
        fs.listStatus(aside).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("batch=") &&
              !fs.exists(new Path(s"$tree/$name")))
            restore(fs, st.getPath, new Path(s"$tree/$name"))
        }
        fs.delete(aside, true)
      } else {
        val lo = ids.min
        if (fs.exists(new Path(s"$tree/batch=$lo"))) {
          // committed (the merged dir serves) or never started moving
          // (the original dir still serves) — remnants are dead either
          // way
          fs.delete(aside, true)
        } else {
          // uncommitted: restore every generation that was moved
          // aside; a failed restore must abort BEFORE the aside delete
          // below, or the only copy of a generation would vanish
          ids.foreach { id =>
            val src = new Path(aside, s"batch=$id")
            if (fs.exists(src))
              restore(fs, src, new Path(s"$tree/batch=$id"))
          }
          fs.delete(aside, true)
        }
      }
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    ()
  }

  /** Drop tiered-merge remnants unconditionally — for bootstrap paths
    * that wipe and rebuild `tree`: a stale aside from a PRIOR index at
    * the same path must never "heal" dead generations into the fresh
    * one.
    */
  def clearRemnants(spark: SparkSession, tree: String): Unit = {
    val fs = fsOf(spark, new Path(tree))
    fs.delete(asidePath(tree), true)
    fs.delete(stagingPath(tree), true)
    // a PRIOR index's unpublished merge or publish aside must not
    // resurrect into the fresh tree either
    val p = new Path(tree)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filter { q =>
          q.getName.startsWith(".merged-") || q.getName.startsWith(".old-") ||
            q.getName == ".retired"
        }.foreach(q => { fs.delete(q, true); () })
    ()
  }

  /** Commit a staged rewrite of the run `ids` — the one commit behind
    * full compaction, tiered merging and the debt purge: the caller has
    * fully written the rewritten generation as
    * `<tree>.__tiered_staging/batch=<ids.min>`.
    *
    * `retainMs = 0` (the default): immediate publish — protocol steps
    * 1–4 (manifest, aside renames ascending, commit rename, cleanup).
    * Rename failures abort loudly before the commit point —
    * [[recover]] then restores the pre-merge tree on the next entry.
    *
    * `retainMs > 0`: SNAPSHOT-RETENTION commit — the merged
    * generation lands as a HIDDEN `.merged-<lo>` dir (dot-prefixed:
    * invisible to Spark partition discovery and hive-glob readers)
    * carrying a `_MERGED_IDS` marker (ids + publish-after timestamp)
    * that rode the atomic rename from staging; the generations it
    * replaces keep serving UNTOUCHED. Because the merge is a pure
    * physical move, the pre-merge view every in-flight and new reader
    * resolves is semantically identical to the merged one — so a
    * reader whose plan pinned the old files mid-flight survives the
    * whole commit, and nothing is deleted until [[publishDue]] (from
    * a later lease-holding maintenance call) or an explicit
    * [[publish]] swaps the merged dir in after the window. This is
    * the Iceberg expire-snapshots contract re-expressed on plain
    * directories: visibility by metadata, data immutable until
    * vacuum.
    */
  def commit(spark: SparkSession, tree: String, ids: Seq[Long],
             retainMs: Long = 0L): Unit = {
    // a single id is an in-place rewrite (debt purge, 1-generation
    // compact) — the protocol is identical, the run is just length 1
    require(ids.nonEmpty, "a commit names at least one generation")
    val lo = ids.min
    val fs = fsOf(spark, new Path(tree))
    require(fs.exists(new Path(stagingPath(tree), s"batch=$lo")),
      s"tiered commit: no staged batch=$lo under ${stagingPath(tree)}")
    if (retainMs > 0L) {
      // disjointness keeps every pending independently publishable
      val overlap = pendings(spark, tree).flatMap(_.ids).toSet
        .intersect(ids.toSet)
      require(overlap.isEmpty,
        s"a pending rewrite already covers generations $overlap under " +
          s"$tree — publish or discard it before committing another")
      // the marker rides the atomic rename: no crash point can leave a
      // hidden merged dir whose replaced ids are unknown
      writeText(fs, new Path(stagingPath(tree), s"batch=$lo/$MergedMarker"),
        ids.sorted.mkString(",") + "|" +
          (System.currentTimeMillis() + retainMs))
      if (!fs.rename(new Path(stagingPath(tree), s"batch=$lo"),
          mergedPath(tree, lo)))
        throw new IllegalStateException(
          s"tiered merge aborted: cannot place hidden merged dir in " +
            s"$tree (pre-merge tree untouched)")
      fs.delete(stagingPath(tree), true)
      ()
    } else {
      val aside = asidePath(tree)
      fs.mkdirs(aside)
      writeText(fs, new Path(aside, Manifest), ids.sorted.mkString(","))
      ids.sorted.foreach { id =>
        if (!fs.rename(new Path(s"$tree/batch=$id"),
            new Path(aside, s"batch=$id")))
          throw new IllegalStateException(
            s"tiered merge aborted: cannot move $tree/batch=$id aside " +
              "(recover() will restore the pre-merge tree)")
      }
      if (!fs.rename(new Path(stagingPath(tree), s"batch=$lo"),
          new Path(s"$tree/batch=$lo")))
        throw new IllegalStateException(
          s"tiered merge aborted: cannot commit merged batch=$lo into " +
            s"$tree (recover() will restore the pre-merge tree)")
      fs.delete(aside, true)
      fs.delete(stagingPath(tree), true)
      ()
    }
  }

  /** The committed-but-unpublished merge at `tree`, if any (the first
    * when several rewrites pend — see [[pendings]]).
    */
  def pending(spark: SparkSession, tree: String): Option[PendingMerge] =
    pendings(spark, tree).headOption

  /** Every committed-but-unpublished rewrite at `tree`, ascending by
    * lowest replaced id. Id sets are disjoint by the [[commit]]
    * overlap check, so each publishes independently.
    */
  def pendings(spark: SparkSession, tree: String): Seq[PendingMerge] = {
    val p = new Path(tree)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith(".merged-"))
      .flatMap { mdir =>
        readMarker(fs, new Path(mdir, MergedMarker))
          .map { case (ids, after) => PendingMerge(ids, after, mdir) }
      }.sortBy(_.ids.min).toSeq
  }

  /** Publish the pending merge NOW (the vacuum step): swap the hidden
    * merged dir in over its lowest replaced id and delete the replaced
    * generations. Returns the published ids, empty when nothing was
    * pending. Crash-safe roll-forward: the `_MERGED_IDS` marker stays
    * inside the now-live dir until every replaced generation is gone,
    * so [[recover]] completes any interrupted publish from the marker
    * alone. Callers hold the warehouse writer lease and assert the
    * retention window themselves ([[publishDue]] is the time-gated
    * form); publishing INVALIDATES reader snapshots older than the
    * window — the Iceberg expire-snapshots contract.
    */
  def publish(spark: SparkSession, tree: String): Seq[Long] =
    pendings(spark, tree).flatMap { case PendingMerge(ids, _, mdir) =>
      publishOne(spark, tree, ids, mdir)
    }

  private def publishOne(spark: SparkSession, tree: String,
                         ids: Seq[Long], mdir: Path): Seq[Long] = {
    val fs = fsOf(spark, new Path(tree))
    val lo = ids.min
    val live = new Path(s"$tree/batch=$lo")
    // step 1: the lowest replaced generation moves aside (hidden)
    // so the merged dir can take its name; a crash here rolls
    // forward through recover()'s half-published scan
    if (fs.exists(live) &&
        !fs.rename(live, oldAsidePath(tree, lo)))
      throw new IllegalStateException(
        s"tiered publish aborted: cannot move $live aside")
    // step 2 — COMMIT: the merged dir becomes the live generation
    if (!fs.rename(mdir, live))
      throw new IllegalStateException(
        s"tiered publish aborted: cannot swap $mdir into $live " +
          "(recover() rolls the publish forward)")
    finishPublish(fs, tree, ids)
    ids
  }

  /** Time-gated [[publish]]: fires only on rewrites whose recorded
    * retention window has passed. The writer-side maintenance entry
    * points call this; read-side [[recover]] never publishes by time
    * (reads heal crashes, writers advance state).
    */
  def publishDue(spark: SparkSession, tree: String): Seq[Long] = {
    val now = System.currentTimeMillis()
    pendings(spark, tree).filter(now >= _.publishAfterMs)
      .flatMap(p => publishOne(spark, tree, p.ids, p.dir))
  }

  /** Drop every pre-publish pending rewrite (their source generations
    * are still live, so the hidden dirs are pure derived data) —
    * called by tree-restructuring mutators (rollback, full compact)
    * that would otherwise race the eventual publish. A HALF-published
    * rewrite is rolled forward instead (its source is already
    * partially gone).
    */
  def discardPending(spark: SparkSession, tree: String): Unit = {
    completeHalfPublished(spark, tree)
    pendings(spark, tree).foreach { p =>
      fsOf(spark, new Path(tree)).delete(p.dir, true)
    }
  }

  // ---- deferred generation retirement (retained rollback) ----
  // A retained ROLLBACK cannot use the hidden-dir protocol: nothing is
  // rewritten — generations are CUT. The snapshot trick is the dual:
  // the cut generations stay physically in place (every read path
  // already filters `batch <= high-water mark`, so new readers never
  // see them; in-flight readers' pinned files are untouched) and only
  // their DELETION is deferred behind a `.retired` schedule file,
  // executed by a later lease-holding maintenance call ([[retireDue]])
  // or an explicit vacuum. A re-append of a retired id goes live again
  // ([[clearForLanding]] + the `> hwm` guard — deletion can never touch
  // a live generation).

  private def retiredMarker(tree: String) = new Path(s"$tree/.retired")

  /** Schedule `ids` for deferred deletion after `afterMs` has passed;
    * merges with an existing schedule (ids union, latest window wins).
    */
  def retire(spark: SparkSession, tree: String, ids: Seq[Long],
             afterMs: Long): Unit =
    if (ids.nonEmpty) {
      val (oldIds, oldAfter) = retired(spark, tree).getOrElse((Seq.empty, 0L))
      writeRetired(spark, tree, (oldIds ++ ids).distinct.sorted,
        math.max(afterMs, oldAfter))
    }

  /** Write the schedule, or drop it when no id is left. */
  private def writeRetired(spark: SparkSession, tree: String, ids: Seq[Long],
                           afterMs: Long): Unit = {
    val fs = fsOf(spark, new Path(tree))
    if (ids.isEmpty) fs.delete(retiredMarker(tree), false)
    else writeText(fs, retiredMarker(tree), ids.mkString(",") + "|" + afterMs)
    ()
  }

  /** The retirement schedule: (ids, delete-after ms), None when none
    * (or the marker is torn — a torn schedule deletes nothing, the
    * safe direction).
    */
  def retired(spark: SparkSession, tree: String): Option[(Seq[Long], Long)] =
    readMarker(fsOf(spark, new Path(tree)), retiredMarker(tree))

  /** Execute the retirement schedule if its window has passed: delete
    * every scheduled generation still ABOVE the high-water mark (a
    * re-appended id is live and is never touched — deletion is also
    * idempotent on ids an intervening rollback already removed), then
    * drop the schedule. Writer-side only (call under the lease).
    * Returns the deleted ids.
    */
  def retireDue(spark: SparkSession, tree: String, hwm: Long,
                force: Boolean = false): Seq[Long] =
    retired(spark, tree) match {
      case Some((ids, after))
          if force || System.currentTimeMillis() >= after =>
        val fs = fsOf(spark, new Path(tree))
        val gone = ids.filter(_ > hwm)
        gone.foreach { id =>
          fs.delete(new Path(s"$tree/batch=$id"), true); ()
        }
        fs.delete(retiredMarker(tree), false)
        gone
      case _ => Seq.empty
    }

  /** Step P3 of a publish: delete the replaced generations (the
    * lowest sits in its hidden aside), then the marker LAST — the
    * marker's presence is what makes an interrupted publish
    * recoverable.
    */
  private def finishPublish(fs: FileSystem, tree: String,
                            ids: Seq[Long]): Unit = {
    val lo = ids.min
    ids.filter(_ != lo).foreach { id =>
      fs.delete(new Path(s"$tree/batch=$id"), true); ()
    }
    fs.delete(oldAsidePath(tree, lo), true)
    fs.delete(new Path(s"$tree/batch=$lo/$MergedMarker"), false)
    ()
  }

  /** Roll forward publishes that crashed mid-sequence — identified by
    * (a) a hidden merged dir whose live `batch=<lo>` is already gone
    * (crash between publish steps P1 and P2), or (b) a live generation
    * still carrying a `_MERGED_IDS` marker (crash after the commit
    * rename, before cleanup). Idempotent; called from [[recover]].
    */
  private def completeHalfPublished(spark: SparkSession,
                                    tree: String): Unit = {
    val p = new Path(tree)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return
    // (a) merged dir present, live target gone: the publish had
    // already destroyed the pre-merge view — finish it
    pendings(spark, tree).foreach { pm =>
      val live = new Path(s"$tree/batch=${pm.ids.min}")
      if (!fs.exists(live)) {
        if (!fs.rename(pm.dir, live))
          throw new IllegalStateException(
            s"tiered publish recovery aborted: cannot swap ${pm.dir} " +
              s"into $live — the hidden dir holds the only merged copy")
        finishPublish(fs, tree, pm.ids)
      }
    }
    // (b) committed merged dir still carrying its marker: cleanup
    generations(spark, tree).foreach { id =>
      val mk = new Path(s"$tree/batch=$id/$MergedMarker")
      if (fs.exists(mk))
        readMarker(fs, mk).foreach { case (ids, _) =>
          finishPublish(fs, tree, ids)
        }
    }
  }

  /** `_MERGED_IDS` contents: `(replaced ids, publish-after ms)`, or
    * None when empty/truncated (a crash during the marker write —
    * which precedes the staging rename, so nothing moved).
    */
  private def readMarker(fs: FileSystem,
                         mk: Path): Option[(Seq[Long], Long)] =
    if (!fs.exists(mk)) None
    else readText(fs, mk).split("\\|", 2) match {
      case Array(ids, after) =>
        try Some((ids.split(",").map(_.toLong).toSeq, after.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  private def restore(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(
        s"tiered recovery aborted: cannot restore $src to $dst — the " +
          "aside dir is left intact for a retry; do NOT delete it " +
          "(it holds the only copy of that generation)")

  /** Manifest contents, or empty when the file is empty/truncated (a
    * crash during the manifest write — which precedes every rename,
    * so an unparsable manifest proves nothing moved).
    */
  private def readManifest(fs: FileSystem, mf: Path): Seq[Long] =
    try readText(fs, mf).split(",").map(_.toLong).toSeq
    catch { case _: NumberFormatException => Seq.empty }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, "UTF-8").trim
    } finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** (absolute path, length, modification time) of every file under
    * `path`, recursively — the byte-identity fingerprint the
    * settled-tree guarantee is pinned with (q190/q191 requires, the
    * Stress tiered A/B, SegmentCompactionSpec). One definition so the
    * fingerprint can never drift between its pinning sites.
    */
  def fileStamps(spark: SparkSession,
                 path: String): Set[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      b += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    b.result()
  }
}
