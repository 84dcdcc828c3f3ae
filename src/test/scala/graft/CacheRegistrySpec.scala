package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-memo tier's contract: one build per (application, key), a
  * hit returns the very same value, keys never share entries, and
  * [[CacheRegistry.clear]] both uncaches frames and forces a rebuild of
  * every other memoized value. (The stopped-session purge is not
  * exercised: it would need the shared test context stopped.) */
class CacheRegistrySpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  private def freshKey(family: String) =
    s"$family:${java.util.UUID.randomUUID}"

  test("memo runs build once per key and returns the same value on a hit") {
    val key = freshKey("spec-memo")
    var builds = 0
    val first = CacheRegistry.memo(spark, key) { builds += 1; Array(1.0, 2.0) }
    val second = CacheRegistry.memo(spark, key) { builds += 1; Array(3.0) }
    assert(builds == 1)
    assert(second eq first)
  }

  test("different keys are independent") {
    val (a, b) = (freshKey("spec-a"), freshKey("spec-b"))
    assert(CacheRegistry.memo(spark, a)("left") == "left")
    assert(CacheRegistry.memo(spark, b)("right") == "right")
    assert(CacheRegistry.memo(spark, a)("other") == "left")
    assert(CacheRegistry.memo(spark, b)("other") == "right")
  }

  test("clear uncaches cached frames and rebuilds memo'd constants") {
    val frameKey = freshKey("spec-frame")
    val constKey = freshKey("spec-const")
    val df = CacheRegistry.cached(spark, frameKey)(
      spark.range(50).selectExpr("id * 7 AS x"))
    assert(df.count() == 50)
    assert(df.storageLevel != StorageLevel.NONE)
    var builds = 0
    val before = CacheRegistry.memo(spark, constKey) { builds += 1; Seq(4L, 2L) }
    CacheRegistry.clear(spark)
    assert(df.storageLevel == StorageLevel.NONE,
      "clear must drop the frame from the session's cache manager")
    val after = CacheRegistry.memo(spark, constKey) { builds += 1; Seq(4L, 2L) }
    assert(builds == 2, "a memo'd constant must be rebuilt after clear")
    assert(after == before && !(after eq before))
    // the frame key is free again: the next cached() call builds anew
    val again = CacheRegistry.cached(spark, frameKey)(
      spark.range(50).selectExpr("id * 7 AS x"))
    assert(!(again eq df))
  }
}
