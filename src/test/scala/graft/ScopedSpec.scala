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

  test("localize returns the same rows in one local partition, releasing after the collect and on a throw") {
    import org.apache.spark.sql.functions.{col, udf}
    val sc = spark.sparkContext
    // the accumulator counts rows the frame's plan evaluated: at release
    // time the collect must already have run
    val evaluated = sc.longAccumulator("localize-rows")
    val times3 = udf { (x: Long) => evaluated.add(1); x * 3 }
    val frame = spark.range(10).toDF("id").select(times3(col("id")).as("v"))
    var seenAtRelease = -1L
    val local = Scoped(frame) { seenAtRelease = evaluated.value }.localize
    assert(seenAtRelease == 10L, "released before the collect")
    assert(local.rdd.getNumPartitions == 1)
    assert(local.schema == frame.schema)
    assert(local.collect().map(_.getLong(0)).toSeq == (0L until 10L).map(_ * 3))

    var released = false
    val boom = udf { (x: Long) => if (x == 2L) throw new IllegalStateException("boom"); x }
    intercept[Exception] {
      Scoped(spark.range(3).toDF("id").select(boom(col("id")))) { released = true }.localize
    }
    assert(released, "a failed collect must still release")
  }
}
