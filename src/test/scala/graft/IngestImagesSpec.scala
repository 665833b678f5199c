package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Multimodal
import graft.streaming.{IngestFingerprints, IngestImages}

/** Streaming image near-dup gate over the persisted dHash store:
  * planted perceptual duplicates across every boundary (vs pre-seeded
  * store, within a batch, across batches), the greedy sequential
  * reference fold, replay idempotence, null/undecodable passthrough,
  * and the banding-layout guard. Brightness variants of the patterned
  * PNGs are hamming-0 duplicates BY CONSTRUCTION (dHash cancels a
  * uniform shift), distinct md5 patterns sit far outside the radius. */
class IngestImagesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  // (doc_id, seed, bright) → a row with a real PNG payload
  private def rows(rs: (Long, Long, Int)*): DataFrame =
    rs.map { case (id, seed, bright) =>
      (id, Multimodal.pngPatternBytes(seed, bright, 36, 32))
    }.toDF("doc_id", "image")

  private def dh(seed: Long, bright: Int): Long =
    Multimodal.dHash64(Multimodal.pngPatternBytes(seed, bright, 36, 32)).get

  /** Greedy sequential reference: per batch (ascending id), drop on any
    * store match (hamming ≤ d) or any smaller-id same-batch match;
    * survivors join the store. */
  private def greedyFold(seed: Seq[(Long, Long)],
                         batches: Seq[Seq[(Long, Long)]], d: Int): Set[Long] = {
    var store = seed.toVector
    var kept = Set.empty[Long]
    for (b <- batches) {
      val sorted = b.sortBy(_._1)
      val surv = sorted.filter { case (id, h) =>
        !store.exists(t => java.lang.Long.bitCount(t._2 ^ h) <= d) &&
          !sorted.exists(a => a._1 < id &&
            java.lang.Long.bitCount(a._2 ^ h) <= d)
      }
      kept ++= surv.map(_._1)
      store ++= surv
    }
    kept
  }

  test("gates against store, within batch, and across batches") {
    val (store, out) = (tmp("im_store"), tmp("im_out"))
    IngestImages.dhashSave(spark, Seq((1L, dh(100L, 0))).toDF("id", "h"),
      store, maxHamming = 2)
    val batchA = Seq(
      (10L, 100L, 40), // brightness twin of the seeded 100 → drop vs store
      (11L, 200L, 0),  // novel pattern → keep
      (12L, 200L, 40)) // twin of 11 → within-batch drop
    val batchB = Seq(
      (20L, 200L, 25), // twin of 11 (kept in A) → drop across batches
      (21L, 300L, 0))  // novel → keep
    assert(IngestImages.processBatch(rows(batchA: _*), store, out) == 1L)
    assert(IngestImages.processBatch(rows(batchB: _*), store, out) == 1L)
    val keptIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(11L, 21L))
    // matches the greedy reference
    val want = greedyFold(Seq(1L -> dh(100L, 0)),
      Seq(batchA.map(r => (r._1, dh(r._2, r._3))),
          batchB.map(r => (r._1, dh(r._2, r._3)))), 2)
    assert(keptIds == want)
    // store grew by exactly the survivors
    assert(spark.read.parquet(s"$store/hashes").count() == 3L)
  }

  test("replay is idempotent; null and undecodable payloads pass through") {
    val (store, out) = (tmp("im_store2"), tmp("im_out2"))
    IngestImages.dhashSave(spark, Seq.empty[(Long, Long)].toDF("id", "h"),
      store, maxHamming = 2)
    val batch = rows((1L, 500L, 0), (2L, 501L, 0))
      .unionByName(Seq((3L, null: Array[Byte]),
        (4L, "hostile bytes".getBytes("UTF-8"))).toDF("doc_id", "image"))
    assert(IngestImages.processBatch(batch, store, out) == 4L)
    // replay: both real images re-find themselves at hamming 0 and
    // drop; the hashless rows pass again (at-least-once duplicates,
    // reclaimed by compact)
    assert(IngestImages.processBatch(batch, store, out) == 2L)
    graft.streaming.compactKept(spark, out)
    assert(spark.read.parquet(out).count() == 4L)
    IngestFingerprints.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/hashes").count() == 2L)
  }

  test("streaming loop matches the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (store, out, ckpt) = (tmp("im_s3"), tmp("im_o3"), tmp("im_c3"))
    IngestImages.dhashSave(spark, Seq.empty[(Long, Long)].toDF("id", "h"),
      store, maxHamming = 2)
    val ms = MemoryStream[(Long, Long, Int)]
    val q = IngestFingerprints.start(
      ms.toDF().toDF("doc_id", "seed", "bright")
        .as[(Long, Long, Int)]
        .map { case (id, s, b) =>
          (id, Multimodal.pngPatternBytes(s, b, 36, 32)) }
        .toDF("doc_id", "image"),
      store, out, ckpt, IngestFingerprints.imageFps(_))
    ms.addData((1L, 700L, 0), (2L, 700L, 40), (3L, 701L, 0))
    q.processAllAvailable()
    ms.addData((4L, 701L, 25), (5L, 702L, 0))
    q.processAllAvailable()
    q.stop()
    val keptIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(1L, 3L, 5L))
  }
}
