package graft

import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import graft.core.Stores

/** `core.Stores`: the store-presence rule, the memoized tiny-directory
  * reader (store meta and the vector-index metadata tables), the
  * capped keyed write layout, the bucketed stores' geometry lifecycle
  * (the growth rule and the staged re-bucket) and their bucket-dir
  * read, plus the source guards on directory renames and thread pools. */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("hasData: a committed part file, top-level or one partition dir down, and nothing else") {
    val root = tmp("has_data")
    def touch(rel: String): Unit = {
      val f = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.createFile(f)
    }
    assert(!Stores.hasData(spark, s"$root/missing"))
    // an empty committed write: no sketch rows, nothing to read
    touch("success/_SUCCESS")
    assert(!Stores.hasData(spark, s"$root/success"))
    // a killed first write leaves only its task attempt's output
    touch("killed/_temporary/0/_temporary/attempt_0/part-00000.parquet")
    assert(!Stores.hasData(spark, s"$root/killed"))
    touch("parted/_SUCCESS")
    touch("parted/b=3/part-0.parquet")
    assert(Stores.hasData(spark, s"$root/parted"))
    // the walk stops one partition level down
    touch("deep/a=1/b=2/part-0.parquet")
    assert(!Stores.hasData(spark, s"$root/deep"))
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$root/flat")
    assert(Stores.hasData(spark, s"$root/flat"))
  }

  test("memoRows: a rewritten directory reads fresh rows; two callers' arrays never alias") {
    val dir = tmp("memo_fresh") + "/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1).write.parquet(dir)
    val (_, a1) = Stores.memoRows(spark, dir)
    val (_, a2) = Stores.memoRows(spark, dir)
    assert(a1.map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(a1 ne a2, "two callers share one array")
    // one caller's in-place edit reaches neither the memo nor the other caller
    a1(0) = null
    assert(a2.forall(_ != null))
    assert(Stores.memoRows(spark, dir)._2.forall(_ != null))
    // a rewrite lists new part files: the next read returns the new rows
    Seq((3, "c")).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(Stores.memoRows(spark, dir)._2.map(_.getInt(0)).toSeq == Seq(3))
  }

  test("memoRows holds at most MemoDirs directories and drops the least recently read") {
    // one tiny parquet file, copied into MemoDirs + 1 directories
    val src = tmp("memo_src") + "/t"
    Seq((7, "x")).toDF("k", "v").coalesce(1).write.parquet(src)
    val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
    val dirs = (0 to Stores.MemoDirs).map { _ =>
      val d = new java.io.File(tmp("memo_lru"), "t")
      assert(d.mkdirs())
      java.nio.file.Files.copy(part.toPath, new java.io.File(d, part.getName).toPath)
      d.getPath
    }
    dirs.init.foreach(Stores.memoRows(spark, _))
    assert(dirs.init.forall(Stores.memoHolds))
    // re-read the oldest, then read one dir more: the second goes
    Stores.memoRows(spark, dirs.head)
    Stores.memoRows(spark, dirs.last)
    assert(Stores.memoHolds(dirs.head) && Stores.memoHolds(dirs.last))
    assert(!Stores.memoHolds(dirs(1)), "the least recently read dir was kept")
    assert(dirs.count(Stores.memoHolds) == Stores.MemoDirs)
    // an evicted dir reads again from disk
    assert(Stores.memoRows(spark, dirs(1))._2.map(_.getInt(0)).toSeq == Seq(7))
  }

  test("writeLayout(df, maxParts, cols): one file per key from at most maxParts non-empty partitions") {
    val df = spark.range(0, 400).repartition(8)
      .select((col("id") % 10).cast("int").as("k"), col("id"))
    val laid = Stores.writeLayout(df, 3, col("k"))
    val nonEmpty = laid.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum()
    assert(nonEmpty >= 1 && nonEmpty <= 3, s"$nonEmpty non-empty partitions")
    val dir = tmp("laid") + "/t"
    laid.write.partitionBy("k").parquet(dir)
    val filesPerKey = new java.io.File(dir).listFiles().filter(_.getName.startsWith("k="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerKey.length == 10 && filesPerKey.forall(_ == 1), filesPerKey.toSeq)
    assert(spark.read.parquet(dir).count() == 400)
  }

  test("grownBuckets: grows past growFactor × target to the ceil, and never wraps Int") {
    // 1 bucket, target 1000, growFactor 4: the threshold is 4000 rows a bucket
    assert(Stores.grownBuckets(3999L, 1, 1000L, 4).isEmpty)
    assert(Stores.grownBuckets(4000L, 1, 1000L, 4).isEmpty)
    assert(Stores.grownBuckets(4001L, 1, 1000L, 4).contains(5))
    assert(Stores.grownBuckets(8000L, 1, 1000L, 4).contains(8))
    // the mean bucket decides, not the total
    assert(Stores.grownBuckets(8000L, 2, 1000L, 4).isEmpty)
    assert(Stores.grownBuckets(12001L, 2, 1000L, 4).contains(13))
    // a bucket count past Int.MaxValue fails instead of wrapping
    val e = intercept[IllegalArgumentException] {
      Stores.grownBuckets(Int.MaxValue.toLong * 3, 1, 1L, 1)
    }
    assert(e.getMessage.contains("overflows Int"))
    assert(Stores.grownBuckets(Int.MaxValue.toLong, 1, 1L, 1).contains(Int.MaxValue))
  }

  private def exists(p: String) = new java.io.File(p).exists()

  test("rebucket: an absent or empty dir is a no-op that creates nothing") {
    val root = tmp("rebucket_absent")
    val bucket = pmod(xxhash64(col("k")), lit(5L)).cast("int")
    assert(Stores.rebucket(spark, s"$root/missing", "b", bucket, 5) == 0L)
    assert(new java.io.File(root).list().isEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "empty"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "empty", "_SUCCESS"))
    assert(Stores.rebucket(spark, s"$root/empty", "b", bucket, 5) == 0L)
    assert(new java.io.File(root).list().toSeq == Seq("empty"))
    assert(Stores.readGeometry(spark, s"$root/empty").isEmpty)
  }

  test("rebucket: heals a crashed .old, replaces a stale .rebal, stamps the new geometry, keeps every row") {
    val dir = tmp("rebucket") + "/store"
    val rows = (1L to 200L).map(i => (i, s"v${i % 17}"))
    rows.toDF("k", "v").withColumn("b", pmod(xxhash64(col("k")), lit(3L)).cast("int"))
      .write.partitionBy("b").parquet(dir)
    Stores.stampGeometry(spark, dir, 3)
    // a crash between the swap renames: the store sits aside at .old
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    // and an earlier crashed run left a partial staged copy
    Seq((999L, "stale")).toDF("k", "v").withColumn("b", lit(0))
      .write.partitionBy("b").parquet(dir + ".rebal")
    val n = Stores.rebucket(spark, dir, "b",
      pmod(xxhash64(col("k")), lit(7L)).cast("int"), 7)
    assert(n == rows.size)
    assert(exists(dir) && !exists(dir + ".old") && !exists(dir + ".rebal"))
    assert(Stores.readGeometry(spark, dir).contains(7))
    val back = spark.read.parquet(dir)
    assert(back.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq == rows)
    val bs = back.select("b").distinct().collect().map(_.getInt(0))
    assert(bs.nonEmpty && bs.forall(b => b >= 0 && b < 7), bs.toSeq)
  }

  test("only core.Stores, IncrementalStore and IngestFingerprints rename store directories") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val allowed = Set("core/Stores.scala", "cache/IncrementalStore.scala",
      "streaming/IngestFingerprints.scala")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val renaming = files(root).filter(_.getName.endsWith(".scala")).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      src.contains("fs.rename(")
    }.map(f => root.toPath.relativize(f.toPath).toString)
    assert(renaming.nonEmpty && renaming.toSet.subsetOf(allowed),
      s"fs.rename( outside the staged-swap homes: ${renaming.filterNot(allowed).sorted}")
  }

  test("bucketRead over more than the discovery threshold of dirs runs no listing job") {
    // Spark lists more paths than parallelPartitionDiscoveryThreshold
    // (32) in a distributed job; the grouped reads list on the driver
    val dir = tmp("bread_wide")
    spark.range(640).selectExpr("id", "CAST(id % 64 AS INT) AS b")
      .repartition($"b").write.mode("overwrite").partitionBy("b").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "b").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    for (bs <- Seq(0 until 40, 0 until 64)) {
      var read: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { read = Stores.bucketRead(spark, dir, "b", bs, 64) } == 0,
        s"building a read of ${bs.size} of 64 buckets ran a job")
      assert(rows(read.where($"b".isin(bs: _*))) ==
        rows(spark.read.parquet(dir).where($"b".isin(bs: _*))))
    }
  }

  test("only the ingest sink helper and ZipCsv build thread pools") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val allowed = Set("streaming/package.scala", "sources/ZipCsv.scala")
    val builders = Seq("newFixedThreadPool", "ForkJoinPool", "ExecutionContext.from")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val pooling = files(root).filter(_.getName.endsWith(".scala")).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      builders.exists(src.contains)
    }.map(f => root.toPath.relativize(f.toPath).toString)
    assert(pooling.nonEmpty && pooling.toSet.subsetOf(allowed),
      s"thread pool built outside the two homes: ${pooling.filterNot(allowed).sorted}")
  }
}
