package graft

import java.nio.file.{Files, Paths}

import graft.queries.Catalog

/** `Catalog.buildOnce`, the one build-once gate of the catalog's fixture
  * warehouses: which calls build, when `stale` is consulted, and that the
  * marker lands only after a build that returned.
  */
class BuildOnceSpec extends SparkSpec {

  /** A marker path in a fresh dir, plus counters of the `stale` and
    * `build` arguments each call evaluated.
    */
  private class Fixture {
    val marker = s"${Files.createTempDirectory("graft_build_once")}/fixture"
    var stales = 0
    var builds = 0
    def call(tag: String, stale: Boolean = false,
        fail: Boolean = false): Boolean =
      Catalog.buildOnce(spark, marker, tag) { stales += 1; stale } {
        builds += 1
        if (fail) throw new IllegalStateException("build failed")
      }
    def recorded: String = spark.read.parquet(marker).head().getString(0)
  }

  test("an absent marker builds and records the tag") {
    val f = new Fixture
    assert(f.call("sf|r1"))
    assert(f.builds == 1 && f.stales == 0)
    assert(f.recorded == "sf|r1")
  }

  test("a matching tag that is not stale skips the build") {
    val f = new Fixture
    f.call("sf")
    assert(!f.call("sf"))
    assert(f.builds == 1 && f.stales == 1)
  }

  test("a tag mismatch rebuilds without evaluating stale") {
    val f = new Fixture
    f.call("sf0.001")
    assert(f.call("sf0.01", stale = false))
    assert(f.builds == 2 && f.stales == 0)
    assert(f.recorded == "sf0.01")
  }

  test("a stale warehouse under a matching tag rebuilds") {
    val f = new Fixture
    f.call("sf")
    assert(f.call("sf", stale = true))
    assert(f.builds == 2 && f.stales == 1)
    assert(f.recorded == "sf")
  }

  test("a build that throws leaves no marker, so the next call builds") {
    val f = new Fixture
    intercept[IllegalStateException](f.call("sf", fail = true))
    assert(!Files.exists(Paths.get(f.marker)))
    assert(f.call("sf"))
    assert(f.builds == 2 && f.stales == 0)
    assert(f.recorded == "sf")
  }
}
