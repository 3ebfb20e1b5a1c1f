package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.etl.WriterLease
import graft.ops.{AdcIngest, InvertedIndex, SegmentCompaction, WarehouseStats}

/** The warehouse concurrency contract: (1) a single-writer lease every
  * mutator acquires — a second concurrent writer is refused loudly,
  * stale leases are taken over with a monotonic fencing token, and a
  * fenced-out zombie aborts before its commit point; (2) snapshot-
  * retained tiered merges — with `retainMs > 0` the merged generation
  * lands HIDDEN while the generations it replaces keep serving
  * byte-untouched, so a reader whose plan resolved files before the
  * merge survives the commit and serves the pre-merge snapshot;
  * vacuum publishes after the window, and every crash point of the
  * publish sequence rolls forward.
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/w"

  private def docs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit("w"), pmod(hash(col("id") * 29 + j), lit(500)))): _*)
        .as("text"))

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vecs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), j =>
        (pmod(hash(col("id") * 13 + j), lit(1000))
          .cast(org.apache.spark.sql.types.DoubleType) / 100.0)
          .cast(org.apache.spark.sql.types.FloatType)).as("embedding"))

  test("a second concurrent writer is refused; release frees the lease") {
    val dir = tmp("lease_refuse")
    InvertedIndex.build(spark, docs(0, 100), dir)
    // a live holder (fresh timestamp, default ttl)…
    val held = WriterLease.acquire(spark, dir, "holder-A")
    // …makes every mutator refuse loudly
    val e = intercept[IllegalStateException] {
      InvertedIndex.delete(spark, dir, Seq(1L).toDF("doc_id"))
    }
    assert(e.getMessage.contains("held by 'holder-A'"))
    intercept[IllegalStateException] {
      InvertedIndex.addBatch(spark, docs(100, 110), dir, 1L)
    }
    intercept[IllegalStateException] { InvertedIndex.compact(spark, dir) }
    WriterLease.release(spark, held)
    assert(InvertedIndex.delete(spark, dir, Seq(1L).toDF("doc_id")) == 1L)
  }

  test("stale-lease takeover: monotonic fencing token, zombie aborts " +
      "at its commit point") {
    val dir = tmp("lease_fence")
    fs(dir).mkdirs(new Path(dir))
    val a = WriterLease.acquire(spark, dir, "zombie")
    Thread.sleep(5)
    // a taker-over deeming 1 ms of silence stale gets the NEXT token
    // (the acquirer's ttl is the staleness horizon it asserts)
    val b = WriterLease.acquire(spark, dir, "usurper", ttlMs = 1L)
    assert(b.token == a.token + 1)
    assert(WriterLease.fenceToken(spark, dir) == b.token)
    // the zombie's pre-commit check fails — it can never publish over
    // the usurper's work
    val e = intercept[IllegalArgumentException] {
      WriterLease.check(spark, a)
    }
    assert(e.getMessage.contains("superseded"))
    WriterLease.check(spark, b) // the usurper is fine
    // the zombie's release is a no-op on the usurper's lease
    WriterLease.release(spark, a)
    assert(WriterLease.held(spark, dir))
    WriterLease.release(spark, b)
    assert(!WriterLease.held(spark, dir))
  }

  private def writeLockFile(dir: String, name: String,
                            contents: String): Unit = {
    val p = new Path(s"${WriterLease.lockDir(dir)}/$name")
    val out = fs(dir).create(p, true)
    try out.write(contents.getBytes("UTF-8")) finally out.close()
  }

  test("a burned fencing token is never reused (reserve-then-lock): a " +
      "zombie that crashed between the fence bump and the lease create " +
      "cannot collide with the next acquirer") {
    val dir = tmp("lease_reserve")
    fs(dir).mkdirs(new Path(dir))
    // the crash window: _FENCE says 7 was burned, but no _LEASE ever
    // landed (acquire advanced the fence, then died before the create)
    writeLockFile(dir, "_FENCE", "7")
    val next = WriterLease.acquire(spark, dir, "next")
    assert(next.token == 8L,
      "the burned token 7 must be skipped, never re-minted")
    // the resurrected zombie (holding burned token 7, still no lease
    // file of its own) can never pass a commit check
    intercept[IllegalArgumentException] {
      WriterLease.check(spark,
        WriterLease.Lease(dir, 7L, "dead-nonce", "zombie"))
    }
    WriterLease.release(spark, next)
  }

  test("a numeric token collision cannot defeat fencing — the nonce is " +
      "the lease identity") {
    val dir = tmp("lease_nonce")
    fs(dir).mkdirs(new Path(dir))
    val z = WriterLease.acquire(spark, dir, "zombie") // token 1
    // pathological fence loss: a machine-level stall replays an old
    // _FENCE write AFTER the zombie acquired (object-store put replay)
    // — the counter reads 0 again while the zombie holds token 1
    writeLockFile(dir, "_FENCE", "0")
    Thread.sleep(5)
    // the usurper takes over the silent lease and mints the SAME
    // numeric token — the exact collision the nonce exists for
    val u = WriterLease.acquire(spark, dir, "usurper", ttlMs = 1L)
    assert(u.token == z.token, "collision by construction")
    // identity is (token, nonce): the zombie fails its commit check,
    // the usurper passes
    intercept[IllegalArgumentException] { WriterLease.check(spark, z) }
    WriterLease.check(spark, u)
    // and the zombie's release must not delete the usurper's lease
    WriterLease.release(spark, z)
    assert(WriterLease.held(spark, dir))
    WriterLease.release(spark, u)
    assert(!WriterLease.held(spark, dir))
  }

  test("heartbeats: a live slow holder is never usurped (staleness " +
      "means silence, not elapsed time); a silent holder is taken over") {
    val dir = tmp("lease_hb")
    fs(dir).mkdirs(new Path(dir))
    @volatile var holderDone = false
    val holder = new Thread(() => {
      // ttl 500 ms, body runs 4+ ttls long — only the heartbeat
      // daemon (cadence ttl/3) keeps it alive
      WriterLease.withLease(spark, dir, "slow", ttlMs = 500L) { _ =>
        Thread.sleep(2200)
      }
      holderDone = true
    })
    holder.start()
    Thread.sleep(1200) // several ttls past the ACQUIRE timestamp
    // an acquirer asserting the same ttl is refused: the heartbeat is
    // fresh even though the acquire is 1.2 s old
    val e = intercept[IllegalStateException] {
      WriterLease.acquire(spark, dir, "impatient", ttlMs = 500L)
    }
    assert(e.getMessage.contains("held by 'slow'"))
    holder.join()
    assert(holderDone && !WriterLease.held(spark, dir))
    // a heartbeat-SILENT holder (bare acquire, no withLease daemon) is
    // taken over after one ttl of quiet
    val dead = WriterLease.acquire(spark, dir, "dead")
    Thread.sleep(60)
    val taker = WriterLease.acquire(spark, dir, "taker", ttlMs = 50L)
    assert(taker.token == dead.token + 1)
    intercept[IllegalArgumentException] { WriterLease.check(spark, dead) }
    WriterLease.release(spark, taker)
  }

  test("the fence counts every mutation and mutators always release") {
    val dir = tmp("lease_count")
    InvertedIndex.build(spark, docs(0, 100), dir) // 1
    val f1 = WriterLease.fenceToken(spark, dir)
    assert(f1 == 1L && !WriterLease.held(spark, dir))
    InvertedIndex.addBatch(spark, docs(100, 110), dir, 1L) // 2
    InvertedIndex.delete(spark, dir, Seq(5L).toDF("doc_id")) // 3
    InvertedIndex.compact(spark, dir) // 4
    assert(WriterLease.fenceToken(spark, dir) == 4L)
    assert(!WriterLease.held(spark, dir), "no mutator may leak a lease")
    // a FAILED mutation releases too (replay refused → loud throw …)
    intercept[Exception] {
      InvertedIndex.addBatch(spark, docs(200, 210), dir, 5L)
    }
    assert(!WriterLease.held(spark, dir))
  }

  test("snapshot retention: a reader planned before a tiered merge " +
      "survives the commit and serves the pre-merge snapshot") {
    val dir = tmp("snap_read")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 830), dir, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), dir, 2L)
    val terms = Seq("w17", "w42", "w133")
    val expect = InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq)
    // the slow reader: plan resolved (files pinned) BEFORE the merge
    val slowReader = InvertedIndex.search(spark, dir, terms, 30)
    val preStamps = SegmentCompaction.fileStamps(spark, s"$dir/postings")
    // merge with a retention window: committed but NOT published
    val merged = InvertedIndex.tieredCompact(spark, dir,
      retainMs = 24L * 3600 * 1000)
    assert(merged == Seq(1L, 2L))
    assert(SegmentCompaction.pending(spark, s"$dir/postings").nonEmpty)
    // every pre-merge file byte-untouched (the hidden merged dir is
    // new, but nothing the reader pinned moved or died)
    assert(SegmentCompaction.fileStamps(spark, s"$dir/postings")
      .filterNot(_._1.contains("/.merged-")) == preStamps)
    // the in-flight reader completes, serving the pre-merge snapshot
    assert(slowReader.collect().toSeq.map(_.toSeq) == expect)
    // new readers are also correct (both views are the same physical
    // rows — the merge is a pure move)
    assert(InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect)
    // maintenance BACKS OFF while the window is open
    assert(InvertedIndex.tieredCompact(spark, dir,
      retainMs = 3600 * 1000L).isEmpty)
    // vacuum publishes: generations collapse, results identical
    assert(InvertedIndex.vacuum(spark, dir) == Seq(1L, 2L))
    assert(SegmentCompaction.pending(spark, s"$dir/postings").isEmpty)
    assert(InvertedIndex.segmentCount(spark, dir) == 2) // 0 + merged 1
    assert(InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect)
    assert(InvertedIndex.vacuum(spark, dir).isEmpty, "vacuum idempotent")
  }

  test("publish crash windows roll forward on the next entry") {
    val terms = Seq("w17", "w42", "w133")
    // window A: crashed between moving the lowest gen aside and the
    // merged-dir swap (live batch=1 missing, .merged-1 present)
    val a = tmp("snap_crash_a")
    InvertedIndex.build(spark, docs(0, 800), a)
    InvertedIndex.addBatch(spark, docs(800, 830), a, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), a, 2L)
    val expectA = InvertedIndex.search(spark, a, terms, 30)
      .collect().toSeq.map(_.toSeq)
    InvertedIndex.tieredCompact(spark, a, retainMs = 3600 * 1000L)
    val fsa = fs(a)
    assert(fsa.rename(new Path(s"$a/postings/batch=1"),
      new Path(s"$a/postings/.old-1")))
    // next read heals (rolls FORWARD — the pre-merge view is gone)
    assert(InvertedIndex.search(spark, a, terms, 30)
      .collect().toSeq.map(_.toSeq) == expectA)
    assert(SegmentCompaction.pending(spark, s"$a/postings").isEmpty)
    assert(!fsa.exists(new Path(s"$a/postings/.old-1")) &&
      !fsa.exists(new Path(s"$a/postings/batch=2")))
    // window B: crashed right after the merged-dir swap (live batch=1
    // carries the _MERGED_IDS marker, replaced gens still present)
    val b = tmp("snap_crash_b")
    InvertedIndex.build(spark, docs(0, 800), b)
    InvertedIndex.addBatch(spark, docs(800, 830), b, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), b, 2L)
    val expectB = InvertedIndex.search(spark, b, terms, 30)
      .collect().toSeq.map(_.toSeq)
    InvertedIndex.tieredCompact(spark, b, retainMs = 3600 * 1000L)
    val fsb = fs(b)
    assert(fsb.rename(new Path(s"$b/postings/batch=1"),
      new Path(s"$b/postings/.old-1")))
    assert(fsb.rename(new Path(s"$b/postings/.merged-1"),
      new Path(s"$b/postings/batch=1")))
    assert(InvertedIndex.search(spark, b, terms, 30)
      .collect().toSeq.map(_.toSeq) == expectB)
    assert(!fsb.exists(new Path(s"$b/postings/.old-1")) &&
      !fsb.exists(new Path(s"$b/postings/batch=2")) &&
      !fsb.exists(new Path(s"$b/postings/batch=1/_MERGED_IDS")))
  }

  test("snapshot retention: a reader planned before a retained FULL " +
      "compact survives; publish collapses generations with results " +
      "identical") {
    val dir = tmp("snap_compact")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 830), dir, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), dir, 2L)
    InvertedIndex.delete(spark, dir,
      spark.range(0, 20).select(col("id").as("doc_id")))
    val terms = Seq("w17", "w42", "w133")
    val expect = InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq)
    val slowReader = InvertedIndex.search(spark, dir, terms, 30)
    val preStamps = SegmentCompaction.fileStamps(spark, s"$dir/postings")
    InvertedIndex.compact(spark, dir, retainMs = 24L * 3600 * 1000)
    // committed hidden over ALL live generations; live tree untouched
    val pend = SegmentCompaction.pendings(spark, s"$dir/postings")
    assert(pend.map(_.ids) == Seq(Seq(0L, 1L, 2L)))
    assert(SegmentCompaction.fileStamps(spark, s"$dir/postings")
      .filterNot(_._1.contains("/.merged-")) == preStamps)
    assert(slowReader.collect().toSeq.map(_.toSeq) == expect)
    assert(InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect)
    // vacuum publishes the full rewrite: one generation, same results,
    // tombstoned rows physically gone
    assert(InvertedIndex.vacuum(spark, dir) == Seq(0L, 1L, 2L))
    assert(InvertedIndex.segmentCount(spark, dir) == 1)
    assert(InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect)
    assert(graft.ops.WarehouseStats.invidx(spark, dir).head()
      .getAs[Long]("purge_backlog_rows") == 0L)
  }

  test("snapshot retention: a reader planned before a retained DEBT " +
      "purge survives; the indebted generation publishes after the " +
      "window") {
    val dir = tmp("snap_purge")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 860), dir, 1L)
    // concentrate the debt in generation 1
    InvertedIndex.delete(spark, dir,
      spark.range(800, 840).select(col("id").as("doc_id")))
    val terms = Seq("w17", "w42", "w133")
    val expect = InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq)
    val slowReader = InvertedIndex.search(spark, dir, terms, 30)
    val preStamps = SegmentCompaction.fileStamps(spark, s"$dir/postings")
    assert(InvertedIndex.purgeDebt(spark, dir, tau = 0.3,
      retainMs = 24L * 3600 * 1000) == Seq(1L))
    // hidden single-generation pending; BOTH live generations untouched
    assert(SegmentCompaction.pendings(spark, s"$dir/postings")
      .map(_.ids) == Seq(Seq(1L)))
    assert(SegmentCompaction.fileStamps(spark, s"$dir/postings")
      .filterNot(_._1.contains("/.merged-")) == preStamps)
    assert(slowReader.collect().toSeq.map(_.toSeq) == expect)
    // a SECOND retained purge skips the pending-covered generation —
    // it neither discards the first pending (snapshots survive) nor
    // refuses loudly (its debt drains when that pending publishes)
    assert(InvertedIndex.purgeDebt(spark, dir, tau = 0.3,
      retainMs = 24L * 3600 * 1000).isEmpty)
    assert(SegmentCompaction.pendings(spark, s"$dir/postings")
      .map(_.ids) == Seq(Seq(1L)))
    // vacuum publishes: backlog drains, generation count unchanged,
    // results identical (the purge is a pure physical filter)
    assert(InvertedIndex.vacuum(spark, dir) == Seq(1L))
    assert(InvertedIndex.segmentCount(spark, dir) == 2)
    assert(InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect)
    assert(graft.ops.WarehouseStats.invidx(spark, dir).head()
      .getAs[Long]("purge_backlog_rows") == 0L)
  }

  test("snapshot retention: a reader planned before a retained " +
      "ROLLBACK survives on the deferred-deletion schedule; a " +
      "re-append goes live again and is never deleted") {
    val dir = tmp("snap_rollback")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 830), dir, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), dir, 2L)
    val terms = Seq("w17", "w42", "w133")
    val expectPre = InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq)
    val slowReader = InvertedIndex.search(spark, dir, terms, 30)
    InvertedIndex.rollback(spark, dir, 0L, retainMs = 24L * 3600 * 1000)
    // the cut generations stay physically in place on the schedule
    assert(SegmentCompaction.retired(spark, s"$dir/postings")
      .map(_._1) == Some(Seq(1L, 2L)))
    assert(fs(dir).exists(new Path(s"$dir/postings/batch=1")) &&
      fs(dir).exists(new Path(s"$dir/postings/batch=2")))
    // the in-flight reader completes on the pre-rollback snapshot
    assert(slowReader.collect().toSeq.map(_.toSeq) == expectPre)
    // new readers see the rolled-back view
    assert(InvertedIndex.lastBatch(spark, dir) == 0L)
    val expect0 = InvertedIndex.search(spark, dir, terms, 30)
      .collect().toSeq.map(_.toSeq)
    val fresh = tmp("snap_rollback_fresh")
    InvertedIndex.build(spark, docs(0, 800), fresh)
    assert(InvertedIndex.search(spark, fresh, terms, 30)
      .collect().toSeq.map(_.toSeq) == expect0)
    // re-append id 1: it leaves the schedule (live again)
    assert(InvertedIndex.addBatch(spark, docs(800, 830), dir, 1L))
    assert(SegmentCompaction.retired(spark, s"$dir/postings")
      .map(_._1) == Some(Seq(2L)))
    // vacuum executes the schedule: 2 goes, the re-appended 1 stays
    assert(InvertedIndex.vacuum(spark, dir) == Seq(2L))
    assert(!fs(dir).exists(new Path(s"$dir/postings/batch=2")) &&
      fs(dir).exists(new Path(s"$dir/postings/batch=1")))
    assert(SegmentCompaction.retired(spark, s"$dir/postings").isEmpty)
    assert(InvertedIndex.search(spark, dir, terms, 30).collect()
      .nonEmpty)
  }

  test("snapshot retention: a retained retrain parks the new root — " +
      "readers serve the old root untouched, mutators are blocked " +
      "inside the window, vacuum publishes the swap") {
    val dir = tmp("snap_retrain")
    AdcIngest.bootstrap(spark, vecs(0, 400), dir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(400, 430), dir, 1L)
    val slowReader = AdcIngest.index(spark, dir)
    val n = slowReader.count()
    assert(AdcIngest.retrain(spark, vecs(0, 430), dir,
      k = 4, m = 4, ks = 8, retainMs = 24L * 3600 * 1000) == 430L)
    assert(AdcIngest.retrainPending(spark, dir).nonEmpty)
    // the OLD root serves byte-untouched: model epoch unmoved, pinned
    // and fresh readers both see the pre-retrain index
    assert(AdcIngest.modelEpoch(spark, dir) == 0L)
    assert(slowReader.count() == n)
    assert(AdcIngest.index(spark, dir).count() == n)
    // a mutation inside the window is refused loudly (it would be
    // lost at publish or corrupt the serving view)
    val e = intercept[IllegalStateException] {
      AdcIngest.append(spark, vecs(430, 440), dir, 2L)
    }
    assert(e.getMessage.contains("retrain"))
    // vacuum performs the atomic root swap: epoch advances, the
    // re-encode floor moves to the mark, counts preserved, and
    // mutations flow again
    AdcIngest.vacuum(spark, dir)
    assert(AdcIngest.retrainPending(spark, dir).isEmpty)
    assert(AdcIngest.modelEpoch(spark, dir) == 1L)
    assert(AdcIngest.index(spark, dir).count() == n)
    assert(AdcIngest.append(spark, vecs(430, 440), dir, 2L))
    assert(AdcIngest.index(spark, dir).count() == n + 10L)
  }

  test("retained-retrain publish crash windows heal: a crash between " +
      "the swap's renames restores the old root; the pending survives " +
      "for a retried publish") {
    val dir = tmp("snap_retrain_crash")
    AdcIngest.bootstrap(spark, vecs(0, 300), dir, k = 4, m = 4, ks = 8)
    val n = AdcIngest.index(spark, dir).count()
    AdcIngest.retrain(spark, vecs(0, 300), dir,
      k = 4, m = 4, ks = 8, retainMs = 24L * 3600 * 1000)
    // simulate the publish crashing between atomicSwap's two renames:
    // the old root sits only in dir.__old, the pending still parked
    assert(fs(dir).rename(new Path(dir), new Path(s"$dir.__old")))
    // a lease-free READ heals the root swap (no live lease) and keeps
    // serving the old epoch; the pending is untouched
    assert(AdcIngest.index(spark, dir).count() == n)
    assert(AdcIngest.modelEpoch(spark, dir) == 0L)
    assert(AdcIngest.retrainPending(spark, dir).nonEmpty)
    // the retried publish (vacuum) completes the swap
    AdcIngest.vacuum(spark, dir)
    assert(AdcIngest.retrainPending(spark, dir).isEmpty)
    assert(AdcIngest.modelEpoch(spark, dir) == 1L)
    assert(AdcIngest.index(spark, dir).count() == n)
  }

  test("snapshot retention on the vector warehouse: retained rollback " +
      "schedule + retained compact pending, vacuum drains both") {
    val dir = tmp("snap_adc_ret")
    AdcIngest.bootstrap(spark, vecs(0, 500), dir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(500, 520), dir, 1L)
    AdcIngest.append(spark, vecs(520, 540), dir, 2L)
    val slowReader = AdcIngest.index(spark, dir)
    val n2 = slowReader.count()
    AdcIngest.rollback(spark, dir, 1L, retainMs = 24L * 3600 * 1000)
    assert(SegmentCompaction.retired(spark, s"$dir/index")
      .map(_._1) == Some(Seq(2L)))
    // in-flight reader still sees its pinned snapshot's files; new
    // reads see the cut view
    assert(slowReader.count() == n2)
    assert(AdcIngest.index(spark, dir).count() < n2)
    // retained compact commits hidden over the REMAINING live gens
    val nLive = AdcIngest.index(spark, dir).count()
    AdcIngest.compact(spark, dir, retainMs = 24L * 3600 * 1000)
    assert(SegmentCompaction.pendings(spark, s"$dir/index")
      .map(_.ids) == Seq(Seq(0L, 1L)))
    assert(AdcIngest.index(spark, dir).count() == nLive)
    // vacuum publishes the compact AND executes the schedule
    assert(AdcIngest.vacuum(spark, dir).toSet == Set(0L, 1L, 2L))
    assert(AdcIngest.segmentCount(spark, dir) == 1)
    assert(AdcIngest.index(spark, dir).count() == nLive)
  }

  test("renew refuses to resurrect a legally-usurpable lease: a " +
      "zombie whose heartbeat went silent past the ttl cannot " +
      "re-stamp its lease over an in-flight takeover") {
    val dir = tmp("lease_resurrect")
    fs(dir).mkdirs(new Path(dir))
    // bare acquire (no heartbeat daemon), tiny ttl — after one ttl of
    // quiet the lease is legally usurpable
    val zombie = WriterLease.acquire(spark, dir, "zombie", ttlMs = 50L)
    Thread.sleep(80)
    // the zombie's stalled heartbeat thread resumes HERE — exactly the
    // resurrection window: (token, nonce) still match, but a takeover
    // may be interleaving. renew must refuse, not write a fresh stamp.
    assert(!WriterLease.renew(spark, zombie),
      "renew must not resurrect a lease already older than its ttl")
    // the takeover proceeds untouched and the zombie fences out
    val usurper = WriterLease.acquire(spark, dir, "usurper", ttlMs = 50L)
    intercept[IllegalArgumentException] { WriterLease.check(spark, zombie) }
    WriterLease.check(spark, usurper)
    // …and the zombie's renew against the usurper's lease is refused
    // by identity, as before
    assert(!WriterLease.renew(spark, zombie))
    WriterLease.check(spark, usurper)
    WriterLease.release(spark, usurper)
  }

  test("a torn (mid-create) lease is live while young — never deleted " +
      "by a concurrent acquirer — and taken over once its file age " +
      "passes the ttl") {
    val dir = tmp("lease_torn")
    fs(dir).mkdirs(new Path(dir))
    // simulate the create-then-write window: _LEASE exists, zero bytes
    val lp = new Path(s"${WriterLease.lockDir(dir)}/_LEASE")
    fs(dir).mkdirs(lp.getParent)
    fs(dir).create(lp, true).close()
    // while the file is young, both paths agree it is a LIVE writer:
    // reads gate their heals, acquirers refuse instead of deleting it
    assert(WriterLease.liveHolder(spark, dir, ttlMs = 60 * 1000L))
    val e = intercept[IllegalStateException] {
      WriterLease.acquire(spark, dir, "rival", ttlMs = 60 * 1000L)
    }
    assert(e.getMessage.contains("torn mid-create"))
    assert(fs(dir).exists(lp), "the live creator's lease must survive")
    // age the FILE past the ttl: the creator crashed inside its
    // create — both paths now agree it is dead
    val old = System.currentTimeMillis() - 120 * 1000L
    fs(dir).setTimes(lp, old, old)
    assert(!WriterLease.liveHolder(spark, dir, ttlMs = 60 * 1000L))
    val taker = WriterLease.acquire(spark, dir, "taker", ttlMs = 60 * 1000L)
    WriterLease.check(spark, taker)
    WriterLease.release(spark, taker)
  }

  test("liveHolder judges staleness by the ttl the HOLDER recorded at " +
      "acquire, not the caller's default") {
    val dir = tmp("lease_ttl_rec")
    fs(dir).mkdirs(new Path(dir))
    // a holder that asserted a 50 ms ttl and then went silent is dead
    // to readers judging with the (much larger) default
    val dead = WriterLease.acquire(spark, dir, "short", ttlMs = 50L)
    Thread.sleep(80)
    assert(!WriterLease.liveHolder(spark, dir),
      "a holder silent past ITS OWN ttl is stale under any caller")
    WriterLease.release(spark, dead)
    // and a holder that asserted a ttl LARGER than the default stays
    // live to default-judging readers for its whole ttl
    val long = WriterLease.acquire(spark, dir, "long",
      ttlMs = 4L * WriterLease.DefaultTtlMs)
    assert(WriterLease.liveHolder(spark, dir))
    WriterLease.release(spark, long)
  }

  test("readTable heals are gated on writer-lease liveness: a reader " +
      "never restores a swap remnant out from under a LIVE writer") {
    val root = tmp("read_heal_gate")
    val fsys = fs(root)
    fsys.mkdirs(new Path(root))
    // a committed table plus a writer's in-flight swap remnant
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$root/state")
    fsys.mkdirs(new Path(s"$root/state.__old"))
    val writer = WriterLease.acquire(spark, root, "writer")
    // under the LIVE lease the reader serves the current table and
    // leaves the remnant alone (it is the writer's in-flight state)
    val served = graft.etl.Load.readTable(spark, s"$root/state")
    assert(served.map(_.count()) == Some(1L))
    assert(fsys.exists(new Path(s"$root/state.__old")),
      "a reader must not heal under a live writer lease")
    // lease released (writer done/crashed-and-silent): the next read
    // heals the remnant as before
    WriterLease.release(spark, writer)
    assert(graft.etl.Load.readTable(spark, s"$root/state")
      .map(_.count()) == Some(1L))
    assert(!fsys.exists(new Path(s"$root/state.__old")),
      "with no live lease the crash remnant heals on read")
  }

  test("a published retained retrain leaves no stray _PUBLISH_AFTER " +
      "marker in the serving root") {
    val dir = tmp("retrain_marker")
    AdcIngest.bootstrap(spark, vecs(0, 300), dir, k = 4, m = 4, ks = 8)
    AdcIngest.retrain(spark, vecs(0, 300), dir,
      k = 4, m = 4, ks = 8, retainMs = 24L * 3600 * 1000)
    assert(AdcIngest.retrainPending(spark, dir).nonEmpty)
    AdcIngest.vacuum(spark, dir)
    assert(AdcIngest.retrainPending(spark, dir).isEmpty)
    assert(!fs(dir).exists(new Path(s"$dir/_PUBLISH_AFTER")),
      "the stage's publish marker must not ride into the live root")
    assert(AdcIngest.modelEpoch(spark, dir) == 1L)
  }

  test("rollback and full compact discard an unpublished merge " +
      "instead of racing its publish") {
    val dir = tmp("snap_discard")
    InvertedIndex.build(spark, docs(0, 800), dir)
    InvertedIndex.addBatch(spark, docs(800, 830), dir, 1L)
    InvertedIndex.addBatch(spark, docs(830, 860), dir, 2L)
    InvertedIndex.tieredCompact(spark, dir, retainMs = 3600 * 1000L)
    assert(SegmentCompaction.pending(spark, s"$dir/postings").nonEmpty)
    // rollback to batch 0: gens 1, 2 die; the pending merged dir
    // covering them must die too, or a later publish would resurrect
    InvertedIndex.rollback(spark, dir, 0L)
    assert(SegmentCompaction.pending(spark, s"$dir/postings").isEmpty)
    assert(InvertedIndex.lastBatch(spark, dir) == 0L)
    val expect0 = InvertedIndex.search(spark, dir,
      Seq("w17", "w42"), 20).collect().toSeq.map(_.toSeq)
    val fresh = tmp("snap_discard_fresh")
    InvertedIndex.build(spark, docs(0, 800), fresh)
    assert(InvertedIndex.search(spark, fresh, Seq("w17", "w42"), 20)
      .collect().toSeq.map(_.toSeq) == expect0)
    // same for the vector twin through full compact
    val vdir = tmp("snap_discard_adc")
    AdcIngest.bootstrap(spark, vecs(0, 500), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(500, 520), vdir, 1L)
    AdcIngest.append(spark, vecs(520, 540), vdir, 2L)
    val n0 = AdcIngest.index(spark, vdir).count()
    assert(AdcIngest.tieredCompact(spark, vdir,
      retainMs = 3600 * 1000L) == Seq(1L, 2L))
    AdcIngest.compact(spark, vdir)
    assert(SegmentCompaction.pending(spark, s"$vdir/index").isEmpty)
    assert(AdcIngest.index(spark, vdir).count() == n0)
  }

  test("reads under a purger's live lease never throw or double-serve") {
    val dir = tmp("lease_gen_remnant")
    InvertedIndex.build(spark, docs(0, 400), dir)
    InvertedIndex.addBatch(spark, docs(400, 450), dir, 1L)
    val vdir = tmp("lease_gen_remnant_adc")
    AdcIngest.bootstrap(spark, vecs(0, 300), vdir, k = 4, m = 4, ks = 8)
    AdcIngest.append(spark, vecs(300, 340), vdir, 1L)
    val terms = Seq("w17", "w42", "w133")
    def hits(d: String) = InvertedIndex.search(spark, d, terms, 1000)
      .select(col("doc_id")).as[Long].collect().toSeq
    val allHits = hits(dir)
    def vecIds = AdcIngest.index(spark, vdir).select(col("vec_id"))
      .as[Long].collect().toSeq
    // a non-retained purge of generation 1, caught between its commit's
    // aside rename and its commit rename: the generation sits in
    // <tree>.__tiered_old, live batch=1 is missing. Under the purger's
    // live lease the read paths must not heal it, and every serving
    // read sees the generation absent, never twice
    val held = Seq(dir, vdir).map(WriterLease.acquire(spark, _, "purger"))
    val aside = new Path(s"$dir/postings.__tiered_old")
    try {
      crashMidCommit(s"$dir/postings", Seq(1L))
      crashMidCommit(s"$vdir/index", Seq(1L))
      assert(InvertedIndex.segmentCount(spark, dir) == 1)
      assert(WarehouseStats.invidx(spark, dir).head()
        .getAs[Long]("generations") == 1L)
      assert(AdcIngest.segmentCount(spark, vdir) == 1)
      assert(WarehouseStats.adc(spark, vdir).head()
        .getAs[Long]("generations") == 1L)
      val racing = hits(dir)
      assert(racing.distinct == racing && racing.forall(_ < 400L) &&
        racing.toSet == allHits.filter(_ < 400L).toSet)
      assert(vecIds.sorted == (0L until 300L))
      // the commit rename lands, the aside dir is not yet deleted: the
      // generation serves exactly once
      Seq(s"$dir/postings", s"$vdir/index").foreach { t =>
        assert(org.apache.hadoop.fs.FileUtil.copy(fs(t),
          new Path(s"$t.__tiered_old/batch=1"), fs(t),
          new Path(s"$t/batch=1"), false, fs(t).getConf))
      }
      assert(hits(dir) == allHits)
      assert(vecIds.sorted == (0L until 340L))
      assert(AdcIngest.readAsOf(spark, vdir, 0L).count() == 300L)
      assert(fs(dir).exists(aside), "no heal under a live writer lease")
    } finally held.foreach(WriterLease.release(spark, _))
    // the lease is gone: the next read heals the remnant
    assert(InvertedIndex.segmentCount(spark, dir) == 2)
    assert(!fs(dir).exists(aside))
    assert(AdcIngest.segmentCount(spark, vdir) == 2)
    assert(!fs(vdir).exists(new Path(s"$vdir/index.__tiered_old")))
  }
}
