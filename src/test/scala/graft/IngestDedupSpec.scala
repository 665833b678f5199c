package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Dedup
import graft.streaming.IngestDedup

/** Streaming ingest gate over the signature store: planted dups across
  * every boundary (vs pre-seeded store, within a micro-batch, across
  * micro-batches), first-batch bootstrap with no store, and parity with
  * the sequential batch `dedupIncremental` fold — the property that a
  * streaming ingest path and a batch backfill share one dedup policy. */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val seeded = docs(
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    2L -> "completely different content about spark shuffles partitions and broadcast joins")

  private val batchA = Seq(
    // dup of seeded 1 → drop vs store
    10L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    // novel → keep
    11L -> "a totally unrelated document discussing minhash signatures and band keys here",
    // dup of 11 → within-batch keep-first drop
    12L -> "a totally unrelated document discussing minhash signatures and band keys here")
  private val batchB = Seq(
    // dup of 11, which batch A appended to the store → drop across batches
    20L -> "a totally unrelated document discussing minhash signatures and band keys here",
    // novel → keep
    21L -> "fresh prose about parquet row groups and column statistics for pruning scans",
    // dup of seeded 2 → drop vs store
    22L -> "completely different content about spark shuffles partitions and broadcast joins")

  test("stream dedups against store, within batch, and across batches") {
    val (store, out, ckpt) = (tmp("ing_store"), tmp("ing_out"), tmp("ing_ckpt"))
    Dedup.signatureSave(seeded, store)

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.start(input.toDF().toDF("doc_id", "text"),
      store, out, 0.5, ckpt)
    input.addData(batchA: _*)
    q.processAllAvailable()
    input.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 21L))
    // store = seeded + survivors' signatures, bit-identical to direct
    val storeSigs = Dedup.signatureLoad(spark, store)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = Dedup.minhashSignatures(
        seeded.unionByName(docs(batchA ++ batchB: _*))
          .where($"doc_id".isin(1L, 2L, 11L, 21L)))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(storeSigs == want)
  }

  test("first batch bootstraps an empty store") {
    val (store, out) = (tmp("ing_boot_store"), tmp("ing_boot_out"))
    val n = IngestDedup.processBatch(docs(batchA: _*), store, out, 0.5)
    assert(n == 2L) // 10 and 11 survive (no store yet); 12 drops within batch
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    assert(Dedup.signatureLoad(spark, store).count() == 2L)
  }

  test("streamed kept set equals the sequential batch dedupIncremental fold") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val cuts = Seq(0L, 150L, 300L, Long.MaxValue)
    val batches = cuts.sliding(2).map { case Seq(lo, hi) =>
      all.where($"doc_id" >= lo && $"doc_id" < hi)
    }.toSeq

    // streaming path: empty store, three micro-batches via processBatch
    // (same code the foreachBatch closure runs)
    val (store, out) = (tmp("ing_fold_store"), tmp("ing_fold_out"))
    batches.foreach(b => IngestDedup.processBatch(b, store, out, 0.5))
    val streamed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // sequential batch fold: accumulate kept signatures by hand
    var sigs = Dedup.minhashSignatures(all.limit(0))
    var kept = Set.empty[Long]
    // every batch's drop set stays cached until the fold is done: later
    // batches' store frames read the earlier survivors
    val scopes = batches.map { b =>
      val scope = Dedup.dedupIncremental(b, sigs, 0.5)
      val surv = scope.value
      kept ++= surv.select("doc_id").collect().map(_.getLong(0))
      sigs = sigs.unionByName(Dedup.minhashSignatures(surv))
      scope
    }
    scopes.foreach(_.release())
    assert(streamed == kept)
    assert(streamed.nonEmpty)
    info(s"kept ${streamed.size} of ${all.count()} across ${batches.size} batches")
  }
}
