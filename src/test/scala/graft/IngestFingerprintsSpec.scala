package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Multimodal
import graft.streaming.IngestFingerprints

/** The generic multi-part fingerprint gate, exercised through its two
  * NEW channels (audio energy aHash, video per-frame dHash — images
  * ride the same code via IngestImages, pinned in IngestImagesSpec):
  * planted perceptual duplicates across every boundary (vs pre-seeded
  * store, within a batch, across batches), the video all-frames rule
  * (one tampered frame keeps the clip; a part-count mismatch keeps the
  * clip), replay idempotence, and null/undecodable passthrough. */
class IngestFingerprintsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  // ---- audio channel: (doc_id, seed, amp) → a real WAV payload ----
  private def audioRows(rs: (Long, Long, Int)*): DataFrame =
    rs.map { case (id, seed, amp) =>
      (id, Multimodal.wavToneBytes(seed, amp, 1600))
    }.toDF("doc_id", "audio")

  test("audio channel: volume twins drop vs store, in batch, and across batches") {
    val (store, out) = (tmp("fp_a_store"), tmp("fp_a_out"))
    IngestFingerprints.fpSave(spark,
      Seq.empty[(Long, Int, Long)].toDF("id", "p", "h"), store, maxHamming = 0)
    val batchA = audioRows(
      (1L, 5L, 500),  // novel tone → keep
      (2L, 5L, 250),  // exact half-volume twin of 1 → within-batch drop
      (3L, 6L, 500))  // novel → keep
    val batchB = audioRows(
      (10L, 6L, 250), // twin of 3 (kept in A) → drop vs store
      (11L, 7L, 500)) // novel → keep
      .unionByName(Seq((12L, null: Array[Byte]),
        (13L, "hostile bytes".getBytes("UTF-8"))).toDF("doc_id", "audio"))
    assert(IngestFingerprints.processBatch(batchA, store, out,
      IngestFingerprints.audioFps(batchA)) == 2L)
    // null + undecodable rows yield no fingerprints and pass through
    assert(IngestFingerprints.processBatch(batchB, store, out,
      IngestFingerprints.audioFps(batchB)) == 3L)
    val keptIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(1L, 3L, 11L, 12L, 13L))
    // store holds one single-part row per fingerprinted survivor
    val st = spark.read.parquet(s"$store/hashes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    assert(st.map(_._1).toSet == Set(1L, 3L, 11L))
    assert(st.forall(t => t._2 == 0 && t._3 == 1))
  }

  // ---- video channel: explicit frame seeds → a real AVI payload ----
  private def clip(frameSeeds: Seq[Long], bright: Int): Array[Byte] =
    Multimodal.aviBytesOf(
      frameSeeds.zipWithIndex.map { case (s, f) =>
        Multimodal.dibPatternFrame(s, f, bright, 36, 32) },
      36, 32)

  private def videoRows(rs: (Long, Seq[Long], Int)*): DataFrame =
    rs.map { case (id, seeds, bright) => (id, clip(seeds, bright)) }
      .toDF("doc_id", "video")

  test("video channel: all-frames rule — full twins drop, tampered or truncated clips survive") {
    val (store, out) = (tmp("fp_v_store"), tmp("fp_v_out"))
    IngestFingerprints.fpSave(spark,
      Seq.empty[(Long, Int, Long)].toDF("id", "p", "h"), store, maxHamming = 2)
    val batchA = videoRows(
      (1L, Seq(0L, 0L, 0L), 0),   // novel 3-frame clip → keep
      (2L, Seq(0L, 0L, 0L), 30),  // full brightness twin of 1 → drop in batch
      (3L, Seq(0L, 0L, 99L), 30), // last frame differs → NOT a near-dup → keep
      (4L, Seq(0L, 0L), 0),       // 2-frame prefix: part-count mismatch → keep
      (5L, Seq(7L, 7L, 7L), 0))   // novel → keep
    val batchB = videoRows(
      (10L, Seq(0L, 0L, 0L), 15), // twin of 1 (kept in A) → drop vs store
      (11L, Seq(0L, 0L, 99L), 0), // twin of the TAMPERED 3 → drop vs store
      (12L, Seq(0L, 0L), 30))     // twin of the 2-frame 4 → drop vs store
    assert(IngestFingerprints.processBatch(batchA, store, out,
      IngestFingerprints.videoFps(batchA)) == 4L)
    assert(IngestFingerprints.processBatch(batchB, store, out,
      IngestFingerprints.videoFps(batchB)) == 0L)
    val keptIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(1L, 3L, 4L, 5L))
    // the store carries per-frame parts with the clip's part count
    val np = spark.read.parquet(s"$store/hashes")
      .select("id", "np").distinct()
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(np == Map(1L -> 3, 3L -> 3, 4L -> 2, 5L -> 3))
  }

  test("video channel: replay is idempotent; compact reclaims duplicates") {
    val (store, out) = (tmp("fp_v2_store"), tmp("fp_v2_out"))
    IngestFingerprints.fpSave(spark,
      Seq.empty[(Long, Int, Long)].toDF("id", "p", "h"), store, maxHamming = 2)
    val batch = videoRows((1L, Seq(3L, 4L), 0), (2L, Seq(5L, 6L), 0))
    assert(IngestFingerprints.processBatch(batch, store, out,
      IngestFingerprints.videoFps(batch)) == 2L)
    // replay: both clips re-find themselves at hamming 0 on every
    // aligned frame and drop
    assert(IngestFingerprints.processBatch(batch, store, out,
      IngestFingerprints.videoFps(batch)) == 0L)
    graft.streaming.compactKept(spark, out)
    assert(spark.read.parquet(out).count() == 2L)
    IngestFingerprints.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/hashes").count() == 4L)
  }

  test("parts-bounded auto-split: a tiny maxBandRows folds slices with bit-identical gate decisions") {
    val (store, out) = (tmp("fp_split_store"), tmp("fp_split_out"))
    IngestFingerprints.fpSave(spark,
      Seq.empty[(Long, Int, Long)].toDF("id", "p", "h"), store, maxHamming = 2)
    val seedB = videoRows((1L, Seq(0L, 1L, 2L), 0))
    IngestFingerprints.processBatch(seedB, store, out,
      IngestFingerprints.videoFps(seedB))
    val batch = videoRows(
      (10L, Seq(0L, 1L, 2L), 25), // brightness twin of stored 1 → drop
      (11L, Seq(3L, 4L), 0),      // novel → keep
      (12L, Seq(3L, 4L), 30),     // twin of 11, later slice → drop
      (13L, Seq(5L), 0),          // novel single-frame → keep
      (14L, Seq(3L, 4L, 9L), 0),  // part-count mismatch with 11 → keep
      (15L, Seq(5L), 10))         // twin of 13 → drop
    val fps = IngestFingerprints.videoFps(batch)
    def run(maxBandRows: Long): (Set[Long], Set[(Long, Int, Long)]) = {
      IngestFingerprints.gateBatch(batch, store, fps, maxBandRows).use { case (k, f) =>
        val kept = k.select("doc_id").collect().map(_.getLong(0)).toSet
        val fpRows = f.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        (kept, fpRows)
      }
    }
    val (kept1, fps1) = run(1L << 21) // single slice (the default)
    // maxBandRows = 1 → every id folds as its own slice (ids are
    // never split across slices; the all-parts predicate needs a
    // record whole)
    val (kept2, fps2) = run(1L)
    assert(kept1 == Set(11L, 13L, 14L))
    assert(kept2 == kept1 && fps2 == fps1)
  }

  test("fpProbe serving: bands/ index equals the scan-derived probe, appends keep it fresh, point probes prune") {
    val store = tmp("fp_serve_store")
    IngestFingerprints.fpSave(spark,
      (0L until 200L).map(i => (i, 0, i * 0x9e3779b97f4a7c15L))
        .toDF("id", "p", "h"), store, maxHamming = 2)
    val probe = Seq((1000L, 0, 7L * 0x9e3779b97f4a7c15L), // twin of id 7
      (1001L, 0, 0x123456789abcdefL)).toDF("id", "p", "h")
    def pairs() = IngestFingerprints.fpProbe(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scanP = pairs() // no bands/ yet: the hashes/-derived fallback
    assert(scanP.contains((1000L, 7L)))
    IngestFingerprints.bandsSave(spark, store, targetRowsPerBucket = 100)
    assert(pairs() == scanP, "bands/ path diverged from the scan path")
    // appends ride into bands/: a new fingerprint serves immediately
    IngestFingerprints.appendFps(spark, store,
      Seq((500L, 0, 0x123456789abcdefL)).toDF("id", "p", "h"))
    val after = pairs()
    assert(after.contains((1001L, 500L)) &&
      (after -- scanP) == Set((1001L, 500L)))
    // the point probe reads named bucket dirs, never the whole tree:
    // one record = ≤ 20 band keys → ≤ 20 of the 40 bucket partitions
    val one = Seq((2000L, 0, 11L * 0x9e3779b97f4a7c15L)).toDF("id", "p", "h")
    val plan = IngestFingerprints.fpProbe(spark, store, one)
      .queryExecution.sparkPlan
    val scans = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("bands")) => s
    }
    assert(scans.nonEmpty, "point probe lost the bands/ read")
    assert(scans.forall(_.selectedPartitions.partitionCount <= 20),
      "point probe read more bucket partitions than its band keys")
  }

  test("store probe plan: the batch side broadcasts, store band rows never shuffle") {
    // the corpus-scale side of the probe is hashes/; it must stream
    // straight from parquet into the join — the batch band rows carry
    // the explicit broadcast, so the shape holds at any store size,
    // independent of static size estimates (the IngestLinkage pin)
    val store = tmp("fp_plan_store")
    val seed = (0L until 50L).map(i => (i, 0, i * 0x9e3779b97f4a7c15L))
      .toDF("id", "p", "h")
    IngestFingerprints.fpSave(spark, seed, store, maxHamming = 2)
    val bh = Seq((100L, 0, 7L, 1), (101L, 0, 9L, 1)).toDF("id", "p", "h", "np")
    val probe = IngestFingerprints.storeProbe(bh,
      spark.read.parquet(s"$store/hashes"), 2, 3)
    val p = probe.queryExecution.sparkPlan // pre-AQE, the planned shape
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val joins = p.collectWithSubqueries { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "probe lost its broadcast join")
    joins.foreach { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      assert(build.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.isEmpty, "the store scan sits on the broadcast build side")
    }
    assert(p.collectWithSubqueries { case j: SortMergeJoinExec => j }.isEmpty
      && p.collectWithSubqueries { case j: ShuffledHashJoinExec => j }.isEmpty,
      "the store probe plans a shuffle join")
  }

  test("streaming loop (audio) matches the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (store, out, ckpt) = (tmp("fp_s"), tmp("fp_o"), tmp("fp_c"))
    IngestFingerprints.fpSave(spark,
      Seq.empty[(Long, Int, Long)].toDF("id", "p", "h"), store, maxHamming = 0)
    val ms = MemoryStream[(Long, Long, Int)]
    val q = IngestFingerprints.start(
      ms.toDF().toDF("doc_id", "seed", "amp")
        .as[(Long, Long, Int)]
        .map { case (id, s, a) => (id, Multimodal.wavToneBytes(s, a, 1600)) }
        .toDF("doc_id", "audio"),
      store, out, ckpt, IngestFingerprints.audioFps(_))
    ms.addData((1L, 20L, 500), (2L, 20L, 250), (3L, 21L, 500))
    q.processAllAvailable()
    ms.addData((4L, 21L, 250), (5L, 22L, 500))
    q.processAllAvailable()
    q.stop()
    val keptIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(1L, 3L, 5L))
  }
}
