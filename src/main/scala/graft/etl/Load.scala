package graft.etl

import org.apache.hadoop.fs.Path

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational.{antiJoin, dedupKeepLast, dedupKeepLastPositional, requireNonNull, semiJoin}

/** Parquet-warehouse sinks with the reference's load semantics
  * (SURVEY.md §2.9): PK-merge upsert for master data (K2), duplicate-PK
  * guarded insert for transactional data (K1 + J3), quarantine side
  * sinks for dropped rows (K5, W3, J4/J5).
  *
  * Scale notes: upsert = read-union-dedup-overwrite staged to a temp
  * dir then atomically swapped — the parquet-world MERGE. The whole-
  * table form ([[upsert]]/[[applyCdc]]) is for catalog-scale tables;
  * big tables use the SCOPED forms ([[upsertPartitioned]] for
  * day-partitioned layouts, [[upsertBucketed]]/[[applyCdcBucketed]]
  * for hash-bucketed PK layouts), which read and rewrite ONLY the
  * partitions/buckets the batch touches — merge cost scales with the
  * batch, not the table. Batching/pacing/retry of the reference's HTTP
  * sink (K3/K4) is subsumed by Spark task parallelism + task retry.
  */
object Load {

  private def tableExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Crash recovery for [[upsert]]'s two-rename swap: a crash between
    * "old aside" and "staging in" leaves the table only at `dir.__old`
    * — restore it; a crash after "staging in" leaves a stale `__old`
    * alongside the new table — drop it. Idempotent; called by both
    * readers and writers so whichever touches the table first heals it.
    */
  private[graft] def recoverSwap(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val old = new Path(s"$dir.__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old)) {
      if (fs.exists(p)) fs.delete(old, true) // swap completed; stale aside
      else fs.rename(old, p) // swap died mid-way; restore previous table
    }
  }

  /** Heal-then-swap shared by every staged writer ([[swapIn]],
    * [[graft.ops.Scale.compact]]): recover any stale `__old` from a
    * prior crash FIRST (otherwise rename(dir, old) would move the live
    * table inside the stale directory), then swap `staging` in with two
    * return-value-checked renames. A failed second rename restores the
    * previous table before aborting — the serving path is never left
    * empty.
    */
  private[graft] def atomicSwap(spark: SparkSession, staging: String,
                                dir: String): Unit = {
    recoverSwap(spark, dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"$dir.__old")
    if (fs.exists(p) && !fs.rename(p, old))
      throw new IllegalStateException(
        s"swap aborted: cannot move $dir aside to $old")
    if (!fs.rename(new Path(staging), p)) {
      if (fs.exists(old)) fs.rename(old, p)
      throw new IllegalStateException(
        s"swap aborted: cannot move $staging into $dir (previous table restored)")
    }
    fs.delete(old, true)
  }

  /** Heal per-partition swap remnants: a crash between a scoped
    * merge's two renames leaves `part.__old` beside (or instead of) a
    * partition dir; left alone, partition discovery would either miss
    * the partition or surface a phantom `day=X.__old` value. One
    * listStatus of the table root, then the same recoverSwap contract
    * per remnant.
    */
  private[graft] def recoverScopedSwaps(spark: SparkSession,
                                        dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.endsWith(".__old"))
          recoverSwap(spark, s"$dir/${name.stripSuffix(".__old")}")
      }
  }

  /** Whether a LIVE writer lease covers `dir` — its own lock or an
    * enclosing warehouse root's (bounded ancestor walk: warehouse
    * tables sit at most a couple of levels under the leased root,
    * e.g. `wh/state`, `wh/langid/meta`). Consulted by [[readTable]]'s
    * heals ONLY when a crash remnant is actually present, so the
    * remnant-free common read pays zero lock-file reads.
    */
  private def liveEnclosingLease(spark: SparkSession,
                                 dir: String): Boolean = {
    var p: Path = new Path(dir)
    var depth = 0
    while (p != null && p.getParent != null && depth < 4) {
      if (WriterLease.liveHolder(spark, p.toString)) return true
      p = p.getParent
      depth += 1
    }
    false
  }

  /** [[recoverSwap]] gated on writer-lease liveness — the READ-path
    * form: a reader running recoverSwap while a live writer is
    * between a swap's two renames would restore `__old` and the
    * writer's commit rename would then land the staged table INSIDE
    * the restored directory. Remnants under a live lease are the
    * writer's in-flight state — left alone; the writer heals its own
    * tree unconditionally inside its lease ([[recoverTreeSwaps]]),
    * and a crashed writer's lease goes silent, after which the next
    * read heals as before.
    */
  private def recoverSwapGated(spark: SparkSession, dir: String): Unit = {
    val old = new Path(s"$dir.__old")
    val fs = old.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old) && !liveEnclosingLease(spark, dir))
      recoverSwap(spark, dir)
  }

  /** [[recoverScopedSwaps]] gated the same way (one liveness check
    * for however many remnants the listing finds).
    */
  private def recoverScopedSwapsGated(spark: SparkSession,
                                      dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory &&
        fs.listStatus(p).exists(_.getPath.getName.endsWith(".__old")) &&
        !liveEnclosingLease(spark, dir))
      recoverScopedSwaps(spark, dir)
  }

  /** Writer-side warehouse-tree heal — [[recoverScopedSwaps]] over
    * `dir` and every direct child directory, run unconditionally
    * INSIDE the caller's held lease. Covers sibling tables (state,
    * meta, codebooks) and nested model tables (nb/counts,
    * langid/meta) whose [[readTable]] heals are liveness-gated and
    * therefore suppressed under the caller's own live lease. Two
    * listStatus levels, no data reads.
    */
  private[graft] def recoverTreeSwaps(spark: SparkSession,
                                      dir: String): Unit = {
    recoverScopedSwaps(spark, dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && !st.getPath.getName.endsWith(".__old"))
          recoverScopedSwaps(spark, st.getPath.toString)
      }
  }

  /** Size cap for [[readTable]]'s driver-side read: tables whose data
    * files total at most this many bytes come back as a LocalRelation.
    * Everything the warehouses keep meta/model-sized (1-row commit
    * points, |sources|-row state, k-row centroid/codebook tables) is
    * far below it; real data tables blow past it and take the Spark
    * scan. Env-overridable so a cluster driver with different headroom
    * can move the line (0 disables the fast path entirely).
    */
  private val localReadMaxBytes: Long =
    parseLocalReadMaxBytes(sys.env.get("SPARK_GRAFT_LOCAL_READ_MAX_BYTES"))

  /** A malformed override falls back to the 8 MiB default instead of
    * failing `Load`'s initialization (and with it every warehouse verb).
    */
  private[graft] def parseLocalReadMaxBytes(raw: Option[String]): Long =
    raw.flatMap(v => Try(v.trim.toLong).toOption).getOrElse(8L * 1024 * 1024)

  def readTable(spark: SparkSession, dir: String): Option[DataFrame] = {
    recoverSwapGated(spark, dir)
    recoverScopedSwapsGated(spark, dir)
    if (!tableExists(spark, dir)) None
    // Meta/model-sized tables (the overwhelming majority of readTable
    // calls on the warehouse verb paths) come back as a LocalRelation:
    // the footers are read once on the driver, and every downstream
    // `.head()`/`.collect()` is then a plan-time take instead of a
    // schema-inference pass plus a scheduled Spark job per access
    // (guide §1.2/§5 — the lifecycle gates ran 100-330 such jobs per
    // bench pass). Partitioned/large/non-flat tables fall through to
    // the Spark reader unchanged.
    else Some(LocalParquet.readAll(spark, dir, localReadMaxBytes) match {
      case Some((schema, rows)) =>
        spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
      case None => spark.read.parquet(dir)
    })
  }

  /** K2 batch UPSERT: existing rows lose to incoming rows on PK match.
    * Staged write + rename so the target is never half-written and the
    * read-own-target hazard (overwriting a dir being scanned) is
    * avoided.
    */
  def upsert(spark: SparkSession, df: DataFrame, dir: String, pk: String): Long = {
    // The reference dedupes the INCOMING frame keep-last by pk before
    // merging (etl/load.py:50-55). Without this, a batch carrying
    // duplicate PKs would seed the warehouse with duplicate rows on the
    // bootstrap write, and later merges would pick a nondeterministic
    // winner among them. Both rules ride ONE window (one shuffle):
    // incoming rows (__prio 1) beat existing ones (__prio 0), and among
    // incoming rows the last one wins. NOTE: "last" is positional
    // (monotonically_increasing_id), meaningful only for frames whose
    // physical row order carries arrival order — fresh file scans, a
    // foreachBatch micro-batch. For a post-shuffle frame the winner
    // among intra-batch duplicates is partitioning-dependent; such
    // callers should pre-dedupe with an explicit ordering column via
    // dedupKeepLast before calling upsert.
    val incoming = df.withColumn("__prio", lit(1))
      .withColumn("__idx", monotonically_increasing_id())
    val candidates = readTable(spark, dir) match {
      case Some(existing) =>
        existing.withColumn("__prio", lit(0)).withColumn("__idx", lit(0L))
          .unionByName(incoming)
      case None => incoming
    }
    val merged = dedupKeepLast(candidates, Seq(pk),
      Seq(col("__prio"), col("__idx"))).drop("__prio", "__idx")
    swapIn(spark, merged, dir)
  }

  /** Replace the whole table with `df` through the same staged-write +
    * rename-aside swap as [[upsert]] — the full-refresh sink for
    * callers whose merge logic lives upstream (e.g. the streaming
    * incremental-agg job folds state BEFORE writing). Returns the new
    * row count.
    */
  def replaceTable(spark: SparkSession, df: DataFrame, dir: String): Long =
    swapIn(spark, df, dir)

  /** Stage `merged` next to `dir`, then swap it in with two renames —
    * never delete-then-rename: a crash after a DELETE would leave NO
    * table at the serving path and the next run's readTable(None) would
    * silently bootstrap from the new batch alone. With rename-aside,
    * every crash point leaves the full previous or the full new table
    * recoverable — [[recoverSwap]] heals either direction on the next
    * read or write. Returns the new row count.
    */
  private def swapIn(spark: SparkSession, merged: DataFrame,
                     dir: String): Long = {
    val staging = s"$dir.__staging"
    // A frame the optimizer already folded to a LocalRelation (the
    // 1-row meta commit points every lifecycle verb writes, built from
    // driver-side literals) stages as one parquet file written on the
    // driver — no write job, no count job; previously each such commit
    // cost a staged write job plus a schema-inference + count re-read
    // (guide §1.2). The file is byte-compatible standard parquet.
    def isLocalPlan(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      // a `.coalesce(1)` over a local frame (the model-writer idiom)
      // is still driver-resident data
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        isLocalPlan(r.child)
      case _ => false
    }
    val localRows = merged.queryExecution.optimizedPlan match {
      case p if isLocalPlan(p) && LocalParquet.supportsWrite(merged.schema) =>
        Some(merged.collect()) // local rows: no scan, at most a coalesce
      case _ => None
    }
    localRows match {
      case Some(rows) =>
        val sp = new Path(staging)
        val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(sp, true) // stale staging from a crashed prior run
        LocalParquet.writeFile(spark, merged.schema,
          rows.toSeq.map(_.toSeq), s"$staging/part-00000.parquet")
        // the same completion marker a Spark write leaves
        fs.create(new Path(sp, "_SUCCESS"), true).close()
        atomicSwap(spark, staging, dir)
        rows.length.toLong
      case None =>
        merged.write.mode("overwrite").parquet(staging)
        atomicSwap(spark, staging, dir)
        // exact count from the footers just written — not a result
        // cache: same number `spark.read.parquet(dir).count()` computed,
        // without re-listing + re-inferring + running a job over the
        // table that was materialized one line above
        LocalParquet.rowCount(spark, dir)
    }
  }

  /** Scoped-merge core: merge `incoming` into the table at `dir`
    * touching ONLY the `scopeCol` partitions the batch contains.
    * `incoming` must carry `scopeCol`; the table layout must be
    * `partitionBy(scopeCol)` (what the bootstrap path here writes).
    *
    * Plan shape: the existing side is read with an `isin` filter on
    * the touched scope values — partition PRUNING, so the scan reads
    * touched directories only, never the table. The merged result is
    * staged `partitionBy(scopeCol)` and each touched partition dir is
    * swapped in with the same two-rename contract as [[atomicSwap]] —
    * untouched partition dirs are never opened, written, or renamed.
    *
    * Crash contract: each partition swap is individually atomic; a
    * crash between partitions leaves earlier scopes merged and later
    * ones not — re-running the SAME batch is idempotent (keep-last /
    * anti-join merges converge), and [[readTable]] heals any
    * mid-rename remnant first. The touched-scope list is a driver
    * collect bounded by the batch's distinct scope values (days in a
    * daily batch, ≤ bucket count for bucketed tables) — never by
    * table size.
    *
    * Returns the merged row count across touched scopes (a full-table
    * count would be the O(table) scan this operator exists to avoid).
    */
  private def scopedMerge(spark: SparkSession, incoming: DataFrame,
                          dir: String, scopeCol: String,
                          merge: (Option[DataFrame], DataFrame) => DataFrame,
                          bootstrapFiles: Map[String, String] = Map.empty)
      : Long = {
    require(incoming.columns.contains(scopeCol),
      s"scoped merge: incoming batch lacks scope column $scopeCol")
    // a NULL scope value would fall outside every touched scope: its
    // rows would stage into the default partition dir and never be
    // swapped in — silent data loss. Fail before any work instead.
    // (In the merge path the check rides the scopes collect for free;
    // the bootstrap path pays one small limit(1) job.)
    def requireNoNullScopes(hasNull: => Boolean): Unit =
      require(!hasNull,
        s"scoped merge: batch contains NULL $scopeCol values " +
          "(null day / null merge key) — fix or filter the batch upstream")
    readTable(spark, dir) match {
      case None =>
        requireNoNullScopes(
          incoming.filter(col(scopeCol).isNull).limit(1).count() > 0)
        val staging = s"$dir.__staging"
        // repartition ON the scope column so each scope's rows land in
        // one task → ONE file per partition dir. A naive partitionBy
        // write sprays tasks×scopes files (32 tasks × 1024 buckets =
        // 32k tiny files) and every later merge pays that listing.
        merge(None, incoming).repartition(col(scopeCol))
          .write.mode("overwrite").partitionBy(scopeCol).parquet(staging)
        val n = LocalParquet.rowCount(spark, staging)
        // layout markers (e.g. _GRAFT_BUCKETS) ride the atomic rename:
        // written into staging BEFORE the swap, so no crash window can
        // leave a valid table whose later merges are rejected for a
        // missing marker. Underscore names are invisible to readers.
        val sfs = new Path(staging)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        bootstrapFiles.foreach { case (name, contents) =>
          val out = sfs.create(new Path(s"$staging/$name"), true)
          try out.write(contents.getBytes("UTF-8")) finally out.close()
        }
        atomicSwap(spark, staging, dir)
        n
      case Some(existing) =>
        val scopeVals = incoming.select(col(scopeCol).cast("string"))
          .distinct().collect().map(_.getString(0))
        requireNoNullScopes(scopeVals.contains(null))
        val scopes = scopeVals.sorted
        require(scopes.nonEmpty, "scoped merge: batch has no scope values")
        // partitionBy URL-escapes special characters in directory names
        // while the swap below addresses partitions by raw value — a
        // value needing escaping would stage under a different name
        // than the swap looks for and the target partition would be
        // wrongly treated as all-deletes. Scope values are dates,
        // months and bucket ids; anything else is a caller bug.
        scopes.filterNot(_.matches("[A-Za-z0-9._=-]+")) match {
          case bad if bad.nonEmpty => throw new IllegalArgumentException(
            s"scoped merge: $scopeCol values need path escaping and " +
              s"cannot be swapped by raw name: ${bad.take(3).mkString(", ")}")
          case _ =>
        }
        val touched = col(scopeCol).cast("string").isin(scopes.toSeq: _*)
        val merged = merge(Some(existing.filter(touched)), incoming)
        val staging = s"$dir.__scoped_staging"
        val sp = new Path(staging)
        val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(sp, true) // stale staging from a crashed prior run
        // one task (→ one file) per touched scope: the merge output is
        // day/bucket-sized, and per-scope files keep later merges and
        // scans from inheriting a tasks×scopes small-file spray
        merged.repartition(scopes.length, col(scopeCol))
          .write.mode("overwrite").partitionBy(scopeCol).parquet(staging)
        // Guard against a non-deterministic batch (limit/sample/rand):
        // the scopes list was collected in one job and the staging write
        // RE-EXECUTED the incoming plan — if re-evaluation produced rows
        // under a scope absent from the collected list, that staged dir
        // would never be swapped in and would vanish with staging:
        // silent row loss. Fail loudly instead; the cost is one driver
        // directory listing of batch-bounded staging.
        val staged = fs.listStatus(sp).map(_.getPath.getName)
          .filter(_.startsWith(s"$scopeCol="))
          .map(_.stripPrefix(s"$scopeCol="))
        val unplanned = staged.toSet -- scopes.toSet
        if (unplanned.nonEmpty) {
          fs.delete(sp, true)
          throw new IllegalStateException(
            "scoped merge: incoming batch is non-deterministic — staging " +
              s"produced $scopeCol values not in the collected scope list " +
              s"(${unplanned.take(3).mkString(", ")}). Materialize the " +
              "batch (cache/eager) before merging.")
        }
        // count the STAGING side (touched scopes only) — counting via
        // the table root would re-run partition discovery over every
        // untouched directory. Footer counts need no schema, so the
        // all-deletes case (no files staged) is simply 0
        val n = LocalParquet.rowCount(spark, staging)
        scopes.foreach { s =>
          val part = s"$scopeCol=$s"
          // a scope can be present in the batch but produce no output
          // rows (all-deletes): swap in the now-empty partition by
          // REMOVING the target dir (an absent dir is the empty
          // partition; staging has no dir to rename in)
          if (fs.exists(new Path(s"$staging/$part")))
            atomicSwap(spark, s"$staging/$part", s"$dir/$part")
          else fs.delete(new Path(s"$dir/$part"), true)
        }
        fs.delete(sp, true)
        n
    }
  }

  /** [[upsert]] for a day-partitioned table, rewriting only the `day=`
    * partitions present in the batch. The merge key is (dayCol, pk):
    * a PK that moves to a different day is a NEW row in that day — the
    * standard partition-scoped-merge contract (Delta's replaceWhere has
    * the same constraint); use the bucketed form when PKs migrate.
    */
  def upsertPartitioned(spark: SparkSession, df: DataFrame, dir: String,
                        pk: String, dayCol: String = "day"): Long = {
    require(df.columns.contains(dayCol),
      s"upsertPartitioned: batch lacks day column $dayCol")
    val incoming = dedupKeepLastPositional(df, Seq(dayCol, pk))
    scopedMerge(spark, incoming, dir, dayCol, {
      case (Some(ex), inc) =>
        dedupKeepLast(
          ex.withColumn("__prio", lit(0))
            .unionByName(inc.withColumn("__prio", lit(1))),
          Seq(dayCol, pk), Seq(col("__prio"))).drop("__prio")
      case (None, inc) => inc
    })
  }

  /** Marker file recording the bucket count a table was laid out with:
    * a merge computing bucket ids under a DIFFERENT count would scope
    * to the wrong directories and duplicate PKs. Underscore-prefixed so
    * partition discovery ignores it. WRITTEN only via [[scopedMerge]]'s
    * `bootstrapFiles` (inside staging, riding the atomic rename — no
    * crash window can leave a marker-less valid table).
    */
  private val BucketMarker = "_GRAFT_BUCKETS"

  private def checkBucketLayout(spark: SparkSession, dir: String,
                                buckets: Int): Unit = {
    val marker = new Path(s"$dir/$BucketMarker")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(marker),
      s"$dir is not a bucketed-layout table (no $BucketMarker marker)")
    val in = fs.open(marker)
    val recorded =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    require(recorded == buckets.toString,
      s"$dir was bucketed with $recorded buckets, merge asked for $buckets")
  }

  /** [[upsert]] for a large PK table in a hash-bucketed layout
    * (`__bucket=K` partition dirs, K = xxhash64(pk) mod buckets):
    * rewrites only buckets containing touched keys. A daily batch of
    * B keys costs O(B + touched-bucket bytes) I/O — independent of
    * table size once `buckets` is sized so a bucket ≈ a comfortable
    * task unit. Bootstraps the layout (and its bucket-count marker)
    * when the table doesn't exist yet.
    */
  def upsertBucketed(spark: SparkSession, df: DataFrame, dir: String,
                     pk: String, buckets: Int): Long =
    upsertKeyBucketed(spark, df, dir, pk = Seq(pk), keyCols = Seq(pk),
      buckets)

  /** [[upsertBucketed]] generalized to a LOOKUP-KEY bucket layout: rows
    * land in `__bucket = xxhash64(keyCols) mod buckets` while merge
    * identity is the (possibly different) composite `pk`. This is the
    * persisted-secondary-index shape: a probe for a set of key values
    * reads ONLY the bucket dirs those keys hash into (partition-pruned
    * `isin`), never the index — e.g. the near-dup signature index
    * ([[graft.ops.IncrementalDedup]]): located by (band, sig),
    * identified by (doc_id, band). Correctness needs every row of one
    * key in one bucket, which the key-derived bucket id guarantees;
    * the pk-dedup inside a merge is then globally correct because a
    * pk's key columns are part of the pk (or functionally determined
    * by it), so both versions of a pk land in the same bucket.
    */
  def upsertKeyBucketed(spark: SparkSession, df: DataFrame, dir: String,
                        pk: Seq[String], keyCols: Seq[String],
                        buckets: Int): Long = {
    require(buckets > 0, "buckets must be positive")
    require(keyCols.nonEmpty && pk.nonEmpty, "pk and keyCols required")
    if (tableExists(spark, dir)) checkBucketLayout(spark, dir, buckets)
    val incoming = dedupKeepLastPositional(df, pk)
      .withColumn("__bucket", keyBucket(keyCols.map(col), buckets))
    scopedMerge(spark, incoming, dir, "__bucket", {
      case (Some(ex), inc) =>
        dedupKeepLast(
          ex.withColumn("__prio", lit(0))
            .unionByName(inc.withColumn("__prio", lit(1))),
          pk, Seq(col("__prio"))).drop("__prio")
      case (None, inc) => inc
    }, bootstrapFiles = Map(BucketMarker -> buckets.toString))
  }

  /** Bucket id of a composite lookup key — the single definition both
    * the [[upsertKeyBucketed]] writer and scoped readers must share
    * (a probe computing ids under a different formula would read the
    * wrong directories and silently miss rows).
    */
  def keyBucket(keys: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(buckets.toLong)).cast("int")

  /** [[applyCdc]] for a hash-bucketed PK table: deletes and upserts
    * scope to the buckets their keys hash into; untouched buckets'
    * files are never rewritten.
    */
  def applyCdcBucketed(spark: SparkSession, changes: DataFrame, dir: String,
                       pk: String, buckets: Int,
                       opCol: String = "op"): Long = {
    require(buckets > 0, "buckets must be positive")
    validateCdcOps(changes, opCol)
    if (tableExists(spark, dir)) checkBucketLayout(spark, dir, buckets)
    val lastPerKey = dedupKeepLastPositional(changes, Seq(pk))
      .withColumn("__bucket", keyBucket(Seq(col(pk)), buckets))
    scopedMerge(spark, lastPerKey, dir, "__bucket", { (exOpt, inc) =>
      val upserts = inc.filter(lower(col(opCol)) =!= "d").drop(opCol)
      exOpt match {
        case Some(ex) =>
          antiJoin(ex, inc.select(col(pk)), Seq(pk)).unionByName(upserts)
        case None => upserts
      }
    }, bootstrapFiles = Map(BucketMarker -> buckets.toString))
  }

  /** [[applyCdc]] for a day-partitioned table: changes carry the day
    * column (a delete names the day it deletes from), and only the
    * named `day=` partitions are rewritten. Merge key is (dayCol, pk),
    * same contract as [[upsertPartitioned]].
    */
  def applyCdcPartitioned(spark: SparkSession, changes: DataFrame,
                          dir: String, pk: String,
                          dayCol: String = "day",
                          opCol: String = "op"): Long = {
    require(changes.columns.contains(dayCol),
      s"applyCdcPartitioned: changes lack day column $dayCol")
    validateCdcOps(changes, opCol)
    val lastPerKey = dedupKeepLastPositional(changes, Seq(dayCol, pk))
    scopedMerge(spark, lastPerKey, dir, dayCol, { (exOpt, inc) =>
      val upserts = inc.filter(lower(col(opCol)) =!= "d").drop(opCol)
      exOpt match {
        case Some(ex) =>
          antiJoin(ex, inc.select(col(dayCol), col(pk)), Seq(dayCol, pk))
            .unionByName(upserts)
        case None => upserts
      }
    })
  }

  /** Fail fast on malformed CDC ops: a NULL op would otherwise slip
    * past the "u"-filter (lower(null) =!= "d" is null → row dropped)
    * while its key still lands in the touched set — unannounced
    * deletion.
    */
  private def validateCdcOps(changes: DataFrame, opCol: String): Unit = {
    require(changes.columns.contains(opCol), s"changes lacks op column $opCol")
    val badOps = changes
      .filter(col(opCol).isNull || !lower(col(opCol)).isin("u", "d"))
      .limit(1).count()
    if (badOps > 0) throw new IllegalArgumentException(
      s"applyCdc: $opCol contains values outside {u, d} (or NULL)")
  }

  /** CDC batch apply — the MERGE the reference's warehouse cannot
    * express: `changes` carries the business key, an op column
    * (`"u"` = upsert, `"d"` = delete; case-insensitive), and the new
    * attribute values. The LAST change per key in batch order wins
    * (same positional contract as [[upsert]]); surviving upserts
    * replace/insert their key, deletes remove theirs, untouched keys
    * pass through. One anti-join + union over the existing table, then
    * the same crash-safe swap as upsert.
    */
  def applyCdc(spark: SparkSession, changes: DataFrame, dir: String,
               pk: String, opCol: String = "op"): Long = {
    validateCdcOps(changes, opCol)
    val lastPerKey = dedupKeepLastPositional(changes, Seq(pk))
    val upserts = lastPerKey.filter(lower(col(opCol)) =!= "d").drop(opCol)
    val touched = lastPerKey.select(col(pk))
    val merged = readTable(spark, dir) match {
      case Some(existing) =>
        antiJoin(existing, touched, Seq(pk)).unionByName(upserts)
      case None => upserts
    }
    swapIn(spark, merged, dir)
  }

  /** K1 validated INSERT with J3 duplicate-PK abort: if any incoming PK
    * already exists in the target, the load fails before writing
    * (reference etl/load.py:59-85).
    *
    * `partitionDay`: name of an ISO-date string column to day-partition
    * the table by (written as a derived `day` partition column, the
    * source column stays in the data). This is the 100 TB layout for
    * daily-incremental tables: each run appends into its own day
    * directories and a day-equality query prunes to one directory
    * instead of scanning the table.
    *
    * Reads `df` once for the duplicate-PK probe (when `pk` is set) and
    * once for the write; returns the number of rows written.
    */
  def insert(spark: SparkSession, df: DataFrame, dir: String,
             pk: Option[String] = None,
             partitionDay: Option[String] = None): Long = {
    for (key <- pk; existing <- readTable(spark, dir)) {
      val dups = semiJoin(df.select(col(key)), existing, Seq(key)).count()
      if (dups > 0) throw new IllegalStateException(
        s"insert into $dir aborted: $dups incoming rows duplicate existing PK $key")
    }
    // the row count rides the write itself (Observation) — no count job
    // and no cache of the batch; a caller whose batch has a wider
    // fan-out than probe + write persists it upstream
    val obs = new Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    partitionDay match {
      case Some(c) => observed.withColumn("day", col(c))
        .write.mode("append").partitionBy("day").parquet(dir)
      case None => observed.write.mode("append").parquet(dir)
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** W3 required-non-null split: quarantine rows with nulls in required
    * columns to a CSV side sink (etl/load.py:33-37,136-154), return the
    * clean rows.
    */
  def requireColumns(df: DataFrame, required: Seq[String],
                     quarantineDir: String): DataFrame = {
    if (required.isEmpty) return df
    val (good, bad) = requireNonNull(df, required)
    writeQuarantine(bad, quarantineDir)
    good
  }

  /** J4/J5 FK enforcement: rows whose key is absent from the referenced
    * table are quarantined (drop_missing_* mode, etl/load.py:88-198);
    * valid rows pass through.
    */
  def enforceFk(df: DataFrame, referenced: DataFrame, key: String,
                quarantineDir: String): DataFrame = {
    val keys = referenced.select(col(key)).na.drop().distinct()
    writeQuarantine(antiJoin(df, keys, Seq(key)), quarantineDir)
    semiJoin(df, broadcast(keys), Seq(key))
  }

  /** K5 quarantine CSV sink (an empty dir is written when nothing was
    * dropped — auditability over cleverness, mirroring the reference's
    * always-produced artifacts).
    */
  private def writeQuarantine(bad: DataFrame, dir: String): Unit =
    bad.write.mode("overwrite").option("header", "true").csv(dir)
}
