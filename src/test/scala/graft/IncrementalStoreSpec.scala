package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cache.{Fingerprints, IncrementalStore}

class IncrementalStoreSpec extends SparkSpec {
  import spark.implicits._
  import IncrementalStore.KeyColumn

  private val schema = StructType(Seq(
    StructField("state", StringType), StructField("value", LongType)))

  private def merged(df: DataFrame): Map[String, Long] =
    df.groupBy("state").agg(sum("value").as("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Records every call; each call returns the given keys' partials. */
  private class Compute(data: Map[String, Seq[(String, Int)]]) extends (Seq[String] => DataFrame) {
    var calls = Vector.empty[Seq[String]]
    def apply(keys: Seq[String]): DataFrame = {
      calls :+= keys
      keys.flatMap(k => data(k).map { case (s, n) => (k, s, n) })
        .toDF(KeyColumn, "state", "n")
        .groupBy(KeyColumn, "state").agg(sum("n").as("value"))
    }
  }

  private val v1 = Map(
    "2023" -> Seq(("A", 1), ("B", 2)),
    "2024" -> Seq(("A", 10)))
  private val v2 = v1.updated("2024", Seq(("A", 20), ("B", 5)))

  test("build reuses unchanged partitions, rebuilds changed, merges exactly") {
    val dir = java.nio.file.Files.createTempDirectory("incr").toFile.getAbsolutePath
    val store = new IncrementalStore(spark, dir, buildSignature = "v1")

    // first build: everything computes, in one call
    val c1 = new Compute(v1)
    val (out1, s1) = store.build(Seq("2023" -> "fp23a", "2024" -> "fp24a"), schema, c1)
    assert(s1.rebuilt.toSet == Set("2023", "2024") && s1.reused.isEmpty)
    assert(c1.calls == Vector(Seq("2023", "2024")))
    assert(merged(out1) == Map("A" -> 11L, "B" -> 2L))

    // second build, same fingerprints: zero compute
    val c2 = new Compute(v1)
    val (_, s2) = store.build(Seq("2023" -> "fp23a", "2024" -> "fp24a"), schema, c2)
    assert(s2.rebuilt.isEmpty && s2.reused.toSet == Set("2023", "2024"))
    assert(c2.calls.isEmpty)

    // 2024 input changes: one compute call with exactly the stale key
    val c3 = new Compute(v2)
    val (out3, s3) = store.build(Seq("2023" -> "fp23a", "2024" -> "fp24b"), schema, c3)
    assert(s3.rebuilt == Seq("2024") && s3.reused == Seq("2023"))
    assert(c3.calls == Vector(Seq("2024")))
    assert(merged(out3) == Map("A" -> 21L, "B" -> 7L))
  }

  test("build signature change invalidates everything") {
    val dir = java.nio.file.Files.createTempDirectory("incr2").toFile.getAbsolutePath
    val kn = StructType(Seq(StructField("k", StringType), StructField("n", IntegerType)))
    def compute(keys: Seq[String]) = keys.map(k => (k, k, 1)).toDF(KeyColumn, "k", "n")
    val (_, s1) = new IncrementalStore(spark, dir, "v1")
      .build(Seq("a" -> "fp"), kn, compute)
    assert(s1.rebuilt == Seq("a"))
    val (_, s2) = new IncrementalStore(spark, dir, "v2")
      .build(Seq("a" -> "fp"), kn, compute)
    assert(s2.rebuilt == Seq("a")) // signature bumped → recompute
  }

  test("a compute frame off the declared partial schema is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("incr3").toFile.getAbsolutePath
    val e = intercept[IllegalArgumentException] {
      new IncrementalStore(spark, dir, "v1").build(Seq("a" -> "fp"), schema,
        keys => keys.map(k => (k, "A", 1)).toDF(KeyColumn, "state", "value"))
    }
    assert(e.getMessage.contains(KeyColumn))
  }

  test("a stale stage left by a crash is cleared and never read") {
    val dir = java.nio.file.Files.createTempDirectory("incr4").toFile.getAbsolutePath
    val store = new IncrementalStore(spark, dir, "v1")
    val parts = Seq("2023" -> "fp23a", "2024" -> "fp24a")
    store.build(parts, schema, new Compute(v1))
    // poison staged by a build that died before promotion
    Seq(("2023", "Z", 999L)).toDF(KeyColumn, "state", "value")
      .write.partitionBy(KeyColumn).parquet(s"$dir/_stage")
    val c = new Compute(v1)
    val (out, s) = store.build(parts, schema, c)
    assert(s.reused.toSet == Set("2023", "2024") && c.calls.isEmpty)
    assert(merged(out) == Map("A" -> 11L, "B" -> 2L))
    assert(!new java.io.File(s"$dir/_stage").exists())
  }

  test("crash after staging, before promotion: the stale keys rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("incr5").toFile.getAbsolutePath
    val store = new IncrementalStore(spark, dir, "v1")
    store.build(Seq("2023" -> "fp23a", "2024" -> "fp24a"), schema, new Compute(v1))
    val v3 = v2.updated("2023", Seq(("B", 4)))
    val fresh = Seq("2023" -> "fp23b", "2024" -> "fp24b")
    // the crashed build staged both keys and promoted only 2023; the
    // manifest still names the old fingerprints
    new Compute(v3)(Seq("2023", "2024"))
      .write.partitionBy(KeyColumn).parquet(s"$dir/_stage")
    val stagedDir = java.nio.file.Paths.get(dir, "_stage", s"$KeyColumn=2023")
    val promoted = java.nio.file.Paths.get(dir, "part_2023")
    org.apache.commons.io.FileUtils.deleteDirectory(promoted.toFile)
    java.nio.file.Files.move(stagedDir, promoted)

    val c = new Compute(v3)
    val (out, s) = store.build(fresh, schema, c)
    assert(s.rebuilt == Seq("2023", "2024") && s.reused.isEmpty)
    assert(c.calls == Vector(Seq("2023", "2024")))
    val clean = java.nio.file.Files.createTempDirectory("incr5c").toFile.getAbsolutePath
    val (want, _) = new IncrementalStore(spark, clean, "v1").build(fresh, schema, new Compute(v3))
    assert(merged(out) == merged(want))
    assert(merged(out) == Map("A" -> 20L, "B" -> 9L))
  }

  test("zip fingerprint changes with content") {
    import java.io.{File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = java.nio.file.Files.createTempDirectory("fps").toFile
    def mkzip(name: String, content: String): String = {
      val f = new File(dir, name)
      val z = new ZipOutputStream(new FileOutputStream(f))
      z.putNextEntry(new ZipEntry("m.csv")); z.write(content.getBytes); z.closeEntry(); z.close()
      f.getAbsolutePath
    }
    val a = Fingerprints.zipFingerprint(mkzip("a.zip", "x,y\n1,2\n"))
    val b = Fingerprints.zipFingerprint(mkzip("b.zip", "x,y\n1,2\n"))
    val c = Fingerprints.zipFingerprint(mkzip("c.zip", "x,y\n9,9\n"))
    assert(a == b)   // same members+sizes+crcs
    assert(a != c)   // different content → different crc
  }
}
