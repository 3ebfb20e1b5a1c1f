package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.Load

/** Load sink error paths and edge semantics beyond the happy-path
  * pipeline run: duplicate-PK abort (J3), first-write upsert, repeated
  * idempotent upsert, FK quarantine contents.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/t"

  test("insert aborts on duplicate PK against existing data (J3)") {
    val dir = tmp("ins")
    val a = Seq(("k1", 1), ("k2", 2)).toDF("pk", "v")
    assert(Load.insert(spark, a, dir, pk = Some("pk")) == 2)
    // overlapping PK -> abort BEFORE writing anything
    val b = Seq(("k2", 9), ("k3", 3)).toDF("pk", "v")
    val e = intercept[IllegalStateException] {
      Load.insert(spark, b, dir, pk = Some("pk"))
    }
    assert(e.getMessage.contains("duplicate existing PK"))
    assert(spark.read.parquet(dir).count() == 2) // target untouched
    // disjoint PKs -> appends
    val c = Seq(("k3", 3)).toDF("pk", "v")
    assert(Load.insert(spark, c, dir, pk = Some("pk")) == 1)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("insert of an empty batch writes no rows and returns 0") {
    val dir = tmp("ins_empty")
    assert(Load.insert(spark, Seq(("k1", 1)).toDF("pk", "v"), dir,
      pk = Some("pk")) == 1)
    val empty = Seq.empty[(String, Int)].toDF("pk", "v")
    assert(Load.insert(spark, empty, dir, pk = Some("pk")) == 0)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("a malformed local-read size override falls back to the default") {
    val default = 8L * 1024 * 1024
    assert(Load.parseLocalReadMaxBytes(None) == default)
    assert(Load.parseLocalReadMaxBytes(Some("8MB")) == default)
    assert(Load.parseLocalReadMaxBytes(Some("")) == default)
    assert(Load.parseLocalReadMaxBytes(Some(" 1024 ")) == 1024L)
    assert(Load.parseLocalReadMaxBytes(Some("0")) == 0L)
  }

  test("upsert bootstraps an absent table and is idempotent") {
    val dir = tmp("ups")
    val a = Seq(("k1", "v1"), ("k2", "v2")).toDF("pk", "v")
    assert(Load.upsert(spark, a, dir, "pk") == 2) // first write = insert
    assert(Load.upsert(spark, a, dir, "pk") == 2) // replay = no growth
    val b = Seq(("k2", "v2b"), ("k3", "v3")).toDF("pk", "v")
    assert(Load.upsert(spark, b, dir, "pk") == 3)
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3"))
  }

  test("readTable heals a crashed upsert swap from the __old aside") {
    val dir = tmp("swap")
    val df = Seq(("k1", 1), ("k2", 2)).toDF("pk", "v")
    // crash AFTER "old aside", BEFORE "staging in": the table exists
    // only at dir.__old — a reader must restore it, not report None
    df.write.parquet(s"$dir.__old")
    val recovered = Load.readTable(spark, dir)
    assert(recovered.isDefined && recovered.get.count() == 2)
    assert(!new java.io.File(s"$dir.__old").exists())

    // crash AFTER "staging in", BEFORE the aside delete: both exist —
    // the NEW table (at dir) wins and the stale aside is dropped
    val dir2 = tmp("swap2")
    Seq(("new", 9)).toDF("pk", "v").write.parquet(dir2)
    df.write.parquet(s"$dir2.__old")
    val kept = Load.readTable(spark, dir2)
    assert(kept.get.collect().map(_.getString(0)).toSeq == Seq("new"))
    assert(!new java.io.File(s"$dir2.__old").exists())
  }

  test("upsert never leaves the serving path empty (rename-aside swap)") {
    val dir = tmp("noempty")
    Load.upsert(spark, Seq(("k1", 1)).toDF("pk", "v"), dir, "pk")
    Load.upsert(spark, Seq(("k1", 2), ("k2", 2)).toDF("pk", "v"), dir, "pk")
    val m = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("k1" -> 2, "k2" -> 2))
    // no stale staging/aside artifacts after a clean swap
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).toSet == Set("t"))
  }

  test("applyCdc upserts, deletes, and inserts in one batch") {
    val dir = tmp("cdc")
    Load.upsert(spark,
      Seq(("A", 1), ("B", 2), ("C", 3)).toDF("pk", "v"), dir, "pk")
    val changes = Seq(
      ("B", 20, "u"), // update
      ("C", 0, "d"), // delete
      ("D", 4, "u")) // insert
      .toDF("pk", "v", "op")
    Load.applyCdc(spark, changes, dir, "pk")
    val m = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("A" -> 1, "B" -> 20, "D" -> 4))
  }

  test("applyCdc: the LAST change per key in batch order wins") {
    val dir = tmp("cdc2")
    Load.upsert(spark, Seq(("A", 1)).toDF("pk", "v"), dir, "pk")
    // update then delete for the same key: the delete is later → wins
    Load.applyCdc(spark,
      Seq(("A", 9, "u"), ("A", 0, "d")).toDF("pk", "v", "op"), dir, "pk")
    assert(spark.read.parquet(dir).count() == 0)
    // and on an absent key, a delete is a no-op while an upsert lands
    Load.applyCdc(spark,
      Seq(("Z", 0, "d"), ("A", 5, "u")).toDF("pk", "v", "op"), dir, "pk")
    val m = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("A" -> 5))
  }

  test("enforceFk quarantines exactly the orphans, keeps the rest") {
    val q = Files.createTempDirectory("fkq").toString + "/orphans"
    val facts = Seq(("k1", 10), ("kX", 20), ("k2", 30), ("kY", 40))
      .toDF("fk", "v")
    val dim = Seq("k1", "k2", "k3").toDF("fk")
    val kept = Load.enforceFk(facts, dim, "fk", q)
    assert(kept.select("fk").as[String].collect().sorted.toSeq == Seq("k1", "k2"))
    val quarantined = spark.read.option("header", "true").csv(q)
      .select("fk").as[String].collect().sorted.toSeq
    assert(quarantined == Seq("kX", "kY"))
  }
}
