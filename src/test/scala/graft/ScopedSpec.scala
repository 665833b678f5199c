package graft

import graft.core.Scoped
import scala.collection.mutable.ArrayBuffer

/** The engine's resource lifecycle: release on every exit path, nested
  * scopes released inner-first exactly once, and `materialize` handing
  * the inner scope's resources back as soon as its result is cached. */
class ScopedSpec extends SparkSpec {

  test("use releases when the body throws") {
    val log = ArrayBuffer.empty[String]
    val s = Scoped(1)(log += "released")
    val e = intercept[IllegalStateException] {
      s.use(_ => throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(log == Seq("released"))
    s.release() // a second release is a no-op
    assert(log == Seq("released"))
  }

  test("flatMap releases inner then outer, each exactly once") {
    val log = ArrayBuffer.empty[String]
    val composed = Scoped("a")(log += "outer")
      .flatMap(a => Scoped(a + "b")(log += "inner"))
      .map(_.length)
    assert(composed.use(identity) == 2)
    assert(log == Seq("inner", "outer"))
    composed.release()
    assert(log == Seq("inner", "outer"))
  }

  test("flatMap releases the outer scope when building the inner one throws") {
    val log = ArrayBuffer.empty[String]
    intercept[RuntimeException] {
      Scoped(0)(log += "outer").flatMap[Int](_ => throw new RuntimeException("no inner"))
    }
    assert(log == Seq("outer"))
  }

  test("materialize releases the inner scope after its count; the result owns only itself") {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    val inner = spark.range(100).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    inner.count()
    val innerRdds = sc.getPersistentRDDs.keySet.toSet -- pre
    // at release time: RDDs holding cached blocks that the inner scope
    // does not own — the result's cache, filled by materialize's count
    var cachedAtRelease = Set.empty[Int]
    val out = Scoped(inner.selectExpr("id * 2 AS v")) {
      cachedAtRelease = sc.getRDDStorageInfo
        .filter(i => !innerRdds(i.id) && i.numCachedPartitions > 0).map(_.id).toSet
      inner.unpersist(blocking = true)
    }.materialize
    assert(cachedAtRelease.nonEmpty, "inner scope released before the result was counted")
    assert(innerRdds.forall(id => !sc.getPersistentRDDs.contains(id)),
      "inner persist still held after materialize")
    assert(sc.getPersistentRDDs.keySet.toSet == pre ++ cachedAtRelease,
      "materialize should hold exactly its result")
    assert(out.use(_.selectExpr("sum(v)").head().getLong(0)) == 9900L)
    assert(!cachedAtRelease.exists(sc.getPersistentRDDs.contains),
      "result persist not released by use")
  }
}
