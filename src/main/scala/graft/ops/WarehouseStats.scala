package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Load
import graft.ops.SegmentCompaction.Tree

/** Operational health report over the warehouse-index family — the
  * day-2 observability surface every production index ships (Lucene's
  * segment stats, RocksDB's level summaries): how many generations the
  * tree holds, how many rows serve, how much tombstoned debris awaits
  * the next compaction, and whether the size-tiered policy is due.
  * One unified row per warehouse so a maintenance runner can drive
  * every kind from a single frame:
  *
  *   (kind, last_batch, del_epoch, generations, rows_total,
  *    tombstoned_docs, purge_backlog_rows, merge_candidates)
  *
  *  - `rows_total`: physical rows across live generations (batch ≤
  *    the high-water mark) — the partition-column count
  *    [[SegmentCompaction.genSizes]] reads from footer metadata.
  *  - `tombstoned_docs`: committed delete ledger size (epochs ≤
  *    del_epoch) — what every serving read anti-joins. The ledger,
  *    the generation listing and the heals are the shared
  *    [[SegmentCompaction]] definitions; each kind supplies its tree
  *    and its committed `del_epoch`.
  *  - `purge_backlog_rows`: physical rows still on disk that belong
  *    to tombstoned docs — the bytes the next compaction reclaims
  *    (0 ⇒ fully purged). The one metric that needs a data-page scan
  *    (one column + a broadcast semi-join); stats runs are
  *    maintenance-cadence, not query-path.
  *  - `merge_candidates`: size of the tiered-merge set the policy
  *    would fire on right now ([[SegmentCompaction.mergeSet]] under
  *    the caller's ratio/minMerge) — 0 means no maintenance due.
  *
  * Every number is an exact integer replayable by an external engine
  * from the persisted trees alone (the q202 oracle re-derives all
  * eight columns per warehouse in SQL, including the tiered policy
  * via suffix sums).
  */
object WarehouseStats {

  private def row(spark: SparkSession, kind: String, t: Tree, last: Long,
                  epoch: Long, ratio: Double, minMerge: Int,
                  countMerge: Boolean, extraPending: Long = 0L,
                  zeroTok: Long = 0L): DataFrame = {
    import spark.implicits._
    // stats are a READ path: crash heals gate on lease liveness (a
    // live writer's in-flight swap state is not a crash to heal)
    SegmentCompaction.healForRead(spark, t)
    val sizes = SegmentCompaction.genSizes(spark, t.path)
      .filter(_._1 <= last)
    val rowsTotal = sizes.map(_._2).sum
    val (nTomb, backlog) =
      if (epoch <= 0L) (0L, 0L)
      else {
        val tomb = SegmentCompaction.tombstones(spark, t, epoch)
        (tomb.distinct().count(),
          spark.read.parquet(t.path).filter(col("batch") <= last)
            .join(broadcast(tomb), Seq(t.key), "left_semi").count())
      }
    val mergeDue =
      if (countMerge) SegmentCompaction.mergeSet(sizes, ratio, minMerge).size
      else 0
    // the concurrency-contract surface (graft.etl.WriterLease):
    // fence_token = last issued writer lease (how many mutations ever
    // ran — 0 on a pre-lease tree), lease_held = a writer is live (or
    // died inside its ttl) RIGHT NOW. A leaked lease after maintenance
    // shows up here — and the q202 oracle pins lease_held to 0.
    val fence = graft.etl.WriterLease.fenceToken(spark, t.dir)
    val held = if (graft.etl.WriterLease.held(spark, t.dir)) 1L else 0L
    // the snapshot-retention surface: committed-but-unpublished hidden
    // rewrites (tiered merges, retained compacts/purges) + a retained
    // rollback's deferred-deletion schedule + (vector kind) a parked
    // retrained root — everything a later maintenance call or an
    // explicit vacuum will publish. The maintenance runner's signal
    // that snapshots are outstanding.
    val pendingPub = SegmentCompaction.pendings(spark, t.path).size.toLong +
      SegmentCompaction.retired(spark, t.path).size.toLong + extraPending
    Seq((kind, last, epoch, sizes.size.toLong, rowsTotal, nTomb,
      backlog, mergeDue.toLong, fence, held, pendingPub, zeroTok))
      .toDF("kind", "last_batch", "del_epoch", "generations",
        "rows_total", "tombstoned_docs", "purge_backlog_rows",
        "merge_candidates", "fence_token", "lease_held",
        "pending_publishes", "zero_token_docs")
  }

  /** Health row of an [[InvertedIndex]] warehouse. */
  def invidx(spark: SparkSession, dir: String, ratio: Double = 4.0,
             minMerge: Int = 2): DataFrame = {
    val c = Load.readTable(spark, s"$dir/corpus").getOrElse(
      sys.error(s"WarehouseStats.invidx: no index at $dir")).head()
    // the zero-token ingest-quality counter (lifetime; 0 on rows
    // written before the counter existed)
    val zeroTok =
      if (c.schema.fieldNames.contains("zero_token_docs"))
        c.getAs[Long]("zero_token_docs")
      else 0L
    row(spark, "invidx", InvertedIndex.tree(dir),
      c.getAs[Long]("last_batch"), InvertedIndex.delEpoch(spark, dir),
      ratio, minMerge, countMerge = true, zeroTok = zeroTok)
  }

  /** Health row of an [[AdcIngest]] vector warehouse. */
  def adc(spark: SparkSession, dir: String, ratio: Double = 4.0,
          minMerge: Int = 2): DataFrame =
    row(spark, "adc", AdcIngest.tree(dir),
      AdcIngest.lastBatch(spark, dir), AdcIngest.delEpoch(spark, dir),
      ratio, minMerge, countMerge = true,
      // a parked retained retrain counts as an outstanding publish
      extraPending = AdcIngest.retrainPending(spark, dir).size.toLong)

  /** Health row of a [[CorpusIngest]] warehouse. The corpus tree has
    * no compaction maintenance (generations are the time-travel /
    * rollback unit, never merged), so merge_candidates is always 0;
    * purge backlog is reclaimed by [[CorpusIngest.purge]].
    */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    row(spark, "corpus", CorpusIngest.tree(dir),
      CorpusIngest.lastBatch(spark, dir), CorpusIngest.delEpoch(spark, dir),
      ratio = 4.0, minMerge = 2, countMerge = false)
}
