package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.streaming.{IngestDedup, IngestVectors}

/** Offline compaction of the at-least-once parquet stores: replayed
  * appends leave bit-identical duplicate rows; compaction keeps one
  * row per key, reproduces the store layout, and changes no answer. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("ivfCompact: replayed vector batch dedupes; search results unchanged") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("cmp_idx")
    val base = Similarity.ivfBuild(all.where($"vec_id" < 400), 4)
    Similarity.ivfSave(base, dir)
    base.release()
    val batch = all.where($"vec_id" >= 400 && $"vec_id" < 450)
    IngestVectors.processBatch(batch, dir)
    IngestVectors.processBatch(batch, dir)          // the replay
    assert(spark.read.parquet(s"$dir/assigned").count() == 500)  // 400 + 50 + 50
    val dupSearch = {
      val idx = Similarity.ivfLoad(spark, dir)
      val r = Similarity.ivfSearch(idx, all.where($"vec_id" === 0), 5, 4)
        .collect().map(x => (x.getInt(1), x.getLong(2))).toSeq
      idx.release(); r
    }
    assert(Similarity.ivfCompact(spark, dir) == 450)
    val assigned = spark.read.parquet(s"$dir/assigned")
    assert(assigned.count() == 450)                  // one row per vid again
    assert(assigned.select("vid").distinct().count() == 450)
    // layout preserved: still partitioned by list_id, still loadable,
    // and the compaction changed no search answer
    val idx2 = Similarity.ivfLoad(spark, dir)
    val after = Similarity.ivfSearch(idx2, all.where($"vec_id" === 0), 5, 4)
      .collect().map(x => (x.getInt(1), x.getLong(2))).toSeq
    idx2.release()
    assert(after == dupSearch)
  }

  test("crash between the swap renames self-heals: a rerun restores .old instead of deleting it") {
    val dir = tmp("cmp_heal") + "/store"
    Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: rename(p -> old) done, promote not —
    // the .old IS the only complete store copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    // a rerun must rename it back (NOT delete it) and then compact
    assert(graft.core.Stores.rewriteDeduped(spark, dir, Seq("id")) == 2L)
    assert(spark.read.parquet(dir).count() == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    // and a genuinely stale .old (path present) is still cleared
    Seq((9L, "z")).toDF("id", "v").write.parquet(dir + ".old")
    assert(graft.core.Stores.rewriteDeduped(spark, dir, Seq("id")) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
  }

  test("codesCompact: replayed appends dedupe across all three code-store layouts") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val batch = all.where($"vec_id" >= 400 && $"vec_id" < 450)

    // binary flat store
    val binDir = tmp("cmp_bin")
    val bi = Similarity.binBuild(all.where($"vec_id" < 400))
    try Similarity.binSave(bi, binDir) finally bi.release()
    IngestVectors.processBatch(batch, binDir)
    IngestVectors.processBatch(batch, binDir)        // the replay
    assert(spark.read.parquet(s"$binDir/bincodes").count() == 500)
    assert(Similarity.codesCompact(spark, binDir) == 450)
    val loaded = Similarity.binLoad(spark, binDir)
    try {
      val hits = Similarity.binSearch(loaded, all.where($"vec_id" === 405), 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(hits == Seq((405L, 405L))) // self is Hamming-0 nearest
    } finally loaded.release()

    // flat PQ store
    val pqDir = tmp("cmp_pq")
    val pi = Similarity.pqBuild(all.where($"vec_id" < 400))
    try Similarity.pqSave(pi, pqDir) finally pi.release()
    IngestVectors.processBatch(batch, pqDir)
    IngestVectors.processBatch(batch, pqDir)
    assert(spark.read.parquet(s"$pqDir/codes").count() == 500)
    assert(Similarity.codesCompact(spark, pqDir) == 450)

    // IVF,PQ store (list_id-partitioned codes): layout survives
    val ipqDir = tmp("cmp_ipq")
    val ii = Similarity.pqBuild(all.where($"vec_id" < 400), nList = 4)
    try Similarity.pqSave(ii, ipqDir) finally ii.release()
    IngestVectors.processBatch(batch, ipqDir)
    IngestVectors.processBatch(batch, ipqDir)
    assert(spark.read.parquet(s"$ipqDir/codes").count() == 500)
    assert(Similarity.codesCompact(spark, ipqDir) == 450)
    val reload = Similarity.pqLoad(spark, ipqDir)
    try assert(reload.coded.select("vid").distinct().count() == 450)
    finally reload.release()
  }

  test("codesCompact rejects IVF assigned/ stores and unrecognized layouts explicitly") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivfDir = tmp("cmp_rej_ivf")
    val idx = Similarity.ivfBuild(all.where($"vec_id" < 100), 4)
    try Similarity.ivfSave(idx, ivfDir) finally idx.release()
    val e1 = intercept[IllegalArgumentException] {
      Similarity.codesCompact(spark, ivfDir)
    }
    assert(e1.getMessage.contains("ivfCompact"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.codesCompact(spark, tmp("cmp_rej_empty"))
    }
    assert(e2.getMessage.contains("not a"))
  }

  test("ivfCompact preserves SQ8 stores (codes survive the rewrite)") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("cmp_idx8")
    val base = Similarity.ivfBuild(all.where($"vec_id" < 100), 4,
      codec = Similarity.ListCodec.Sq8)
    Similarity.ivfSave(base, dir)
    base.release()
    val batch = all.where($"vec_id" >= 100 && $"vec_id" < 110)
    IngestVectors.processBatch(batch, dir)
    IngestVectors.processBatch(batch, dir)
    assert(Similarity.ivfCompact(spark, dir) == 110)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.assigned.columns.contains("qc"))   // still the int8 layout
    assert(loaded.assigned.count() == 110)
    loaded.release()
  }

  test("compactKept: partial-failure replay dedupes to exactly-once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where($"doc_id" < 60)
    val (sigs, out) = (tmp("cmp_sigs"), tmp("cmp_out"))
    val n1 = IngestDedup.processBatch(docs, sigs, out, 0.5)
    // simulate the crash-between-sinks-and-store replay: the kept rows
    // and signatures land AGAIN (bit-identical, same doc_ids)
    spark.read.parquet(out).write.mode("append").parquet(out + "_stage")
    spark.read.parquet(out + "_stage").write.mode("append").parquet(out)
    Dedup.signatureLoad(spark, sigs).write.mode("append").parquet(sigs + "_stage")
    spark.read.parquet(sigs + "_stage").write.mode("append").parquet(sigs)
    assert(spark.read.parquet(out).count() == 2 * n1)
    assert(graft.streaming.compactKept(spark, out) == n1)
    assert(graft.streaming.compactKept(spark, sigs) == n1)
    val kept = spark.read.parquet(out)
    assert(kept.count() == n1 && kept.select("doc_id").distinct().count() == n1)
    // the compacted signature store still gates a following batch
    val more = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where($"doc_id" >= 60 && $"doc_id" < 80)
    val n2 = IngestDedup.processBatch(more, sigs, out, 0.5)
    assert(spark.read.parquet(out).count() == n1 + n2)
  }

  test("bucketRead: named-dir reads equal the full read + filter on every path") {
    // the listing-wall fix (SCALE.md round 12): probes read only their
    // named bucket=N dirs — rows must be identical to the full-listing
    // read for probed subsets, missing dirs, full coverage, and an
    // all-missing probe (fallback)
    val dir = tmp("cmp_bread")
    val df = spark.range(1000).selectExpr("id", "CAST(id % 7 AS INT) AS b")
    df.repartition($"b").write.mode("overwrite").partitionBy("b").parquet(dir)
    def full(bs: Seq[Int]) = spark.read.parquet(dir)
      .where($"b".isin(bs.map(Integer.valueOf): _*))
      .select("id", "b").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def pruned(bs: Seq[Int]) = graft.core.Stores.bucketRead(spark, dir, "b", bs, 7)
      .where($"b".isin(bs.map(Integer.valueOf): _*))
      .select("id", "b").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(pruned(Seq(2)) == full(Seq(2)) && pruned(Seq(2)).nonEmpty)
    assert(pruned(Seq(1, 4, 4)) == full(Seq(1, 4)))        // dup bucket ids
    assert(pruned(Seq(3, 99)) == full(Seq(3)))             // missing dir skipped
    assert(pruned(Seq(98, 99)).isEmpty)                    // all-missing fallback
    assert(pruned(0 until 7) == full(0 until 7))           // full coverage path
    // the named-dir read keeps the partition column in the schema
    assert(graft.core.Stores.bucketRead(spark, dir, "b", Seq(2), 7)
      .columns.contains("b"))
  }
}
