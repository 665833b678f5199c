package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Incremental dedup against a parquet signature store: batch-vs-store
  * and batch-vs-batch policies on planted docs, the save/load round
  * trip, and agreement with the exact full-corpus pair set on the
  * driver testdata (sketch-estimated Jaccard vs exact Jaccard on the
  * same banded candidates). */
class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val storeDocs = docs(
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    2L -> "completely different content about spark shuffles partitions and broadcast joins")

  test("batch doc matching a store doc drops; novel and keep-first policies hold") {
    val dir = java.nio.file.Files.createTempDirectory("sig_store").toString
    Dedup.signatureSave(storeDocs, dir)
    val store = Dedup.signatureLoad(spark, dir)
    val batch = docs(
      // exact copy of store doc 1 → estimated jaccard 1.0 → dropped
      10L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      // novel → kept
      11L -> "a totally unrelated document discussing minhash signatures and band keys here",
      // exact copy of batch doc 11 → within-batch keep-first drops the larger id
      12L -> "a totally unrelated document discussing minhash signatures and band keys here")
    val kept = Dedup.dedupIncremental(batch, store, 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("signature store round-trips through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("sig_rt").toString
    Dedup.signatureSave(storeDocs, dir)
    val loaded = Dedup.signatureLoad(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val direct = Dedup.minhashSignatures(storeDocs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(loaded == direct)
  }

  test("append mode grows the store and the grown store catches the new batch's dups") {
    val dir = java.nio.file.Files.createTempDirectory("sig_app").toString
    Dedup.signatureSave(storeDocs, dir)
    val batch1 = docs(
      20L -> "first wave document with some entirely fresh words flowing through the pipeline")
    // batch1 survives against the initial store; append its signatures
    assert(Dedup.dedupIncremental(batch1, Dedup.signatureLoad(spark, dir), 0.5)
      .use(_.count()) == 1L)
    Dedup.signatureSave(batch1, dir, mode = "append")
    // a later batch duplicating batch1 must now drop against the store
    val batch2 = docs(
      30L -> "first wave document with some entirely fresh words flowing through the pipeline",
      31L -> "yet another novel document that matches nothing stored so far anywhere")
    val kept = Dedup.dedupIncremental(batch2, Dedup.signatureLoad(spark, dir), 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(kept == Set(31L))
  }

  test("testdata agreement: incremental drops track the exact full-corpus pair set") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cut = 250L
    val store = Dedup.minhashSignatures(all.where(col("doc_id") < cut))
    val batch = all.where(col("doc_id") >= cut)
    val kept = Dedup.dedupIncremental(batch, store, 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val gotDrops = batchIds.diff(kept)
    // exact ground truth: a batch doc drops iff the EXACT pair set pairs
    // it (a < b always, and every store id < every batch id)
    val wantDrops = Dedup.minhashPairs(all, 0.5)
      .use(_.select("b").collect()).map(_.getLong(0)).toSet.intersect(batchIds)
    assert(wantDrops.nonEmpty, "testdata must contain cross-cut near-dups")
    val agree = gotDrops.intersect(wantDrops).size.toDouble /
      gotDrops.union(wantDrops).size
    info(s"drops est=${gotDrops.size} exact=${wantDrops.size} jaccard=$agree")
    assert(agree >= 0.9,
      s"estimated-vs-exact drop agreement $agree < 0.9")
  }
}
