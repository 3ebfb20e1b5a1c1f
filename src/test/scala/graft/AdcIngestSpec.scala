package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.AdcIngest

/** Incremental PQ/ADC index warehouse: the frozen-model contract that
  * makes incremental ≡ one-shot rebuild BIT-identically, exactly-once
  * replay semantics, and full-reset re-bootstrap.
  */
class AdcIngestSpec extends SparkSpec {
  import spark.implicits._

  // dim-8 deterministic pseudo-random vectors
  private def vecs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), j =>
        (pmod(hash(col("id") * 13 + j), lit(1000)).cast(DoubleType) / 100.0)
          .cast(FloatType)).as("embedding"))

  private def tmp() = Files.createTempDirectory("adcingest").toString + "/w"

  private def rows(dir: String): Map[Long, (Long, Seq[Int], Double)] =
    AdcIngest.index(spark, dir).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster_id"),
          r.getAs[scala.collection.Seq[Int]]("codes").toSeq,
          r.getAs[Double]("vn")))
    }.toMap

  test("incremental append equals the one-shot rebuild bit-identically") {
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 96), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.append(spark, vecs(96, 128), dir, 1L))
    val incremental = rows(dir)
    assert(incremental.size == 128)
    // rebuild: same frozen models (copied), ALL vectors in one batch 0
    val dir2 = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 96), dir2, k = 4, m = 2, ks = 4)
    // wipe dir2's generations and re-encode everything in one pass
    // under ITS models (== dir's models: same input, same train)
    val oneShot = AdcIngest.encodeBatch(spark, vecs(0, 128), dir2)
      .collect().map { r =>
        r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cluster_id"),
            r.getAs[scala.collection.Seq[Int]]("codes").toSeq,
            r.getAs[Double]("vn")))
      }.toMap
    assert(incremental == oneShot,
      "incrementally-built index diverged from the one-shot encode")
  }

  test("replays are loud no-ops and ids must stay contiguous") {
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.lastBatch(spark, dir) == 0L)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    val before = rows(dir)
    assert(!AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(rows(dir) == before)
    val e = intercept[IllegalArgumentException](
      AdcIngest.append(spark, vecs(80, 90), dir, 3L))
    assert(e.getMessage.contains("contiguous"))
    assert(AdcIngest.lastBatch(spark, dir) == 1L)
  }

  test("streaming maintainer: waves == one-shot encode, restart no-op, fresh checkpoint refused") {
    val src = Files.createTempDirectory("adc_src").toString
    val (dir, ckpt) = (tmp(), Files.createTempDirectory("adc_ck").toString)
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    def wave(from: Long, until: Long): Unit =
      vecs(from, until).coalesce(1).write.mode("append").parquet(src)
    wave(64, 80)
    graft.streaming.StreamingJobs
      .runAdcIngestAvailableNow(spark, src, dir, ckpt).awaitTermination()
    wave(80, 96)
    graft.streaming.StreamingJobs
      .runAdcIngestAvailableNow(spark, src, dir, ckpt).awaitTermination()
    // restart with nothing new: replayed micro-batches must not double
    graft.streaming.StreamingJobs
      .runAdcIngestAvailableNow(spark, src, dir, ckpt).awaitTermination()
    assert(rows(dir).keySet == (0L until 96L).toSet)
    // bit-parity with the one-shot encode under the same frozen models
    val oneShot = AdcIngest.encodeBatch(spark, vecs(0, 96), dir)
      .collect().map { r =>
        r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cluster_id"),
            r.getAs[scala.collection.Seq[Int]]("codes").toSeq,
            r.getAs[Double]("vn")))
      }.toMap
    assert(rows(dir) == oneShot)
    // a FRESH checkpoint against the maintained warehouse must refuse
    val ckpt2 = Files.createTempDirectory("adc_ck2").toString
    wave(96, 100)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StreamingJobs
        .runAdcIngestAvailableNow(spark, src, dir, ckpt2).awaitTermination()
    }
    assert(err.getMessage.contains("checkpoint") ||
      Option(err.getCause).exists(_.getMessage.contains("checkpoint")))
  }

  test("compact: generations collapse, rows bit-equal, lifecycle continues") {
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(AdcIngest.append(spark, vecs(80, 96), dir, 2L))
    assert(AdcIngest.segmentCount(spark, dir) == 3)
    val before = rows(dir)
    AdcIngest.compact(spark, dir)
    assert(AdcIngest.segmentCount(spark, dir) == 1)
    assert(rows(dir) == before, "compaction must be a pure physical move")
    // exactly-once survives: replay refused, next id lands
    assert(AdcIngest.lastBatch(spark, dir) == 2L)
    assert(!AdcIngest.append(spark, vecs(80, 96), dir, 2L))
    assert(AdcIngest.append(spark, vecs(96, 104), dir, 3L))
    assert(AdcIngest.segmentCount(spark, dir) == 2)
    assert(rows(dir).keySet == (0L until 104L).toSet)
    // the policy hook: no-op at/below budget, compacts above
    assert(!AdcIngest.compactIfNeeded(spark, dir, maxSegments = 2))
    assert(AdcIngest.segmentCount(spark, dir) == 2)
    assert(AdcIngest.compactIfNeeded(spark, dir, maxSegments = 1))
    assert(AdcIngest.segmentCount(spark, dir) == 1)
    assert(rows(dir).keySet == (0L until 104L).toSet)
  }

  test("append after a crashed compaction swap loses no generations") {
    // Simulate compact dying inside its commit: every generation moved
    // into index.__tiered_old, the staged batch=0 not yet promoted. The
    // next append must heal FIRST — landing its batch beside a tree
    // missing every prior generation would serve it while meta still
    // claimed they landed.
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    crashMidCommit(s"$dir/index", Seq(0L, 1L))
    assert(AdcIngest.append(spark, vecs(80, 96), dir, 2L))
    assert(rows(dir).keySet == (0L until 96L).toSet,
      "prior generations lost after crashed-swap append")
    assert(!new java.io.File(s"$dir/index.__tiered_old").exists())
  }

  test("rollback truncates bit-identically and the lifecycle continues") {
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    val base = rows(dir)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(AdcIngest.append(spark, vecs(80, 96), dir, 2L))
    AdcIngest.rollback(spark, dir, 0L)
    assert(rows(dir) == base, "rollback to 0 diverged from bootstrap")
    assert(AdcIngest.lastBatch(spark, dir) == 0L)
    // the lifecycle continues: batch 1 re-lands, its replay refused
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(!AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(rows(dir).keySet == (0L until 80L).toSet)
    // partial rollback: 2 of 3 generations survive
    assert(AdcIngest.append(spark, vecs(80, 96), dir, 2L))
    AdcIngest.rollback(spark, dir, 1L)
    assert(rows(dir).keySet == (0L until 80L).toSet)
    assert(AdcIngest.lastBatch(spark, dir) == 1L)
  }

  test("rollback refuses merged generations after compaction") {
    // post-compact, later batches' rows hide inside batch=0 —
    // deletion-by-generation would silently corrupt, so it must throw
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    AdcIngest.compact(spark, dir)
    val before = rows(dir)
    intercept[IllegalArgumentException](AdcIngest.rollback(spark, dir, 0L))
    assert(rows(dir) == before, "refused rollback must not touch data")
  }

  test("re-bootstrap into a dirty dir resurrects nothing") {
    val dir = tmp()
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    AdcIngest.bootstrap(spark, vecs(0, 64), dir, k = 4, m = 2, ks = 4)
    assert(rows(dir).keySet == (0L until 64L).toSet,
      "stale batch>=1 vectors survived the re-bootstrap")
    assert(AdcIngest.lastBatch(spark, dir) == 0L)
    assert(AdcIngest.append(spark, vecs(64, 80), dir, 1L))
    assert(rows(dir).keySet == (0L until 80L).toSet)
  }

  test("meta passthrough: attributes ride in the index rows; a " +
      "schema-diverging append is refused") {
    val dir = tmp()
    val tagged = vecs(0, 96)
      .withColumn("label", pmod(col("vec_id"), lit(5)).cast(LongType))
    AdcIngest.bootstrap(spark, tagged, dir, k = 4, m = 2, ks = 4,
      meta = Seq("label"))
    assert(AdcIngest.append(spark,
      vecs(96, 128).withColumn("label",
        pmod(col("vec_id"), lit(5)).cast(LongType)),
      dir, 1L, meta = Seq("label")))
    // round-trip: every served row carries its source attribute
    val got = AdcIngest.index(spark, dir)
      .select(col("vec_id"), col("label")).as[(Long, Long)]
      .collect().toMap
    assert(got.size == 128 && got.forall { case (v, l) => l == v % 5 })
    // the attribute is a pure payload: codes/vn identical to an
    // untagged encode under the same models
    val plain = AdcIngest.encodeBatch(spark, vecs(0, 128), dir)
      .select(col("vec_id"), col("vn")).as[(Long, Double)].collect().toMap
    val taggedVn = AdcIngest.index(spark, dir)
      .select(col("vec_id"), col("vn")).as[(Long, Double)].collect().toMap
    assert(taggedVn == plain)
    // filtered serving: the predicate lands before any window
    assert(AdcIngest.index(spark, dir).filter(col("label") === 2)
      .select(col("vec_id")).as[Long].collect()
      .forall(_ % 5 == 2))
    // a generation that would not reproduce the schema is refused
    val e = intercept[IllegalArgumentException] {
      AdcIngest.append(spark, vecs(128, 160), dir, 2L)
    }
    assert(e.getMessage.contains("index schema"))
  }
}
