package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.streaming.{IngestDedup, IngestPipeline, IngestVectors, MonitorQuality}

/** The unified streaming ingest (gate → land → index → telemetry in one
  * foreachBatch): the three stores must stay MUTUALLY CONSISTENT batch
  * over batch — kept parquet rows == vectors appended to the index ==
  * telemetry doc counts — and the composite must equal running the
  * standalone loops separately (same gate policy, same store growth). */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("batch-driven pipeline: kept == indexed == telemetry, equals standalone loops") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select("doc_id", "source", "text", "embedding")

    // seed the searchable index with vectors 0-299 (frozen quantizer)
    val indexPath = tmp("pipe_index")
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    Similarity.ivfSave(seedIdx, indexPath)
    seedIdx.release()

    // stream docs 300+; batch 2 plants clones of batch-1 texts under
    // fresh ids (9000-9004) — the gate must drop them against the store
    val b1 = feed.where($"doc_id" >= 300 && $"doc_id" < 350)
    val clones = feed.where($"doc_id" >= 300 && $"doc_id" < 305)
      .select(($"doc_id" + 8700L).as("doc_id"), $"source", $"text", $"embedding")
    val b2 = feed.where($"doc_id" >= 350 && $"doc_id" < 400).unionByName(clones)
    val b3 = feed.where($"doc_id" >= 400 && $"doc_id" < 450)
    val batches = Seq(b1, b2, b3)

    val (sigs, out, tele, vocab) =
      (tmp("pipe_sigs"), tmp("pipe_out"), tmp("pipe_tele"), tmp("pipe_vocab"))
    val perBatchKept = batches.zipWithIndex.map { case (b, i) =>
      IngestPipeline.processBatch(b, i.toLong, sigs, out, indexPath, tele, 0.5,
        vocabPath = Some(vocab))
    }

    val keptIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.sum > 0 && perBatchKept.sum == keptIds.size)
    // every clone dropped against the cross-batch store
    assert(keptIds.intersect((9000L to 9004L).toSet).isEmpty)

    // consistency 1: the index grew by exactly the kept set
    val idx = Similarity.ivfLoad(spark, indexPath)
    val vids = idx.assigned.select("vid").collect().map(_.getLong(0))
    idx.release()
    assert(vids.length == 300 + keptIds.size)   // exactly-once in one run
    assert(vids.toSet == (0L until 300L).toSet ++ keptIds)

    // consistency 2: telemetry rows mirror the per-batch kept counts
    val teleRows = spark.read.parquet(tele)
      .select("batch_id", "n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(teleRows == perBatchKept.zipWithIndex.collect {
      case (n, i) if n > 0 => i.toLong -> n
    }.toMap)
    // and the drift report reads clean over the composite's store
    assert(MonitorQuality.report(spark, tele).count() == teleRows.size)

    // consistency 3: the vocab sketch store accounted every kept token
    // exactly (n_tokens is an exact count), over exactly the kept
    // docs' sources
    val keptDocs = feed.where($"doc_id".isin(keptIds.toSeq: _*))
    val keptTokens = keptDocs
      .select(size(split(lower(trim($"text")), " ")).cast("long").as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    val vocabRep = graft.streaming.IngestVocab.report(spark, vocab)
    assert(vocabRep.agg(sum($"n_tokens")).collect()(0).getLong(0) == keptTokens)
    assert(vocabRep.select("source").collect().map(_.getString(0)).toSet ==
      keptDocs.select("source").distinct().collect().map(_.getString(0)).toSet)

    // parity: the standalone gate loop with the same batches keeps the
    // same ids — one dedup policy for composite and standalone paths
    val (sigs2, out2) = (tmp("pipe_sigs2"), tmp("pipe_out2"))
    batches.foreach(b =>
      IngestDedup.processBatch(b.select("doc_id", "text"), sigs2, out2, 0.5))
    val keptAlone = spark.read.parquet(out2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAlone == keptIds)

    // parity: standalone vector ingest of the kept embeddings grows an
    // identically-sized index (same frozen centroids ⇒ same lists)
    val indexPath2 = tmp("pipe_index2")
    val seedIdx2 = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    Similarity.ivfSave(seedIdx2, indexPath2)
    seedIdx2.release()
    val keptVecs = feed.where($"doc_id".isin(keptIds.toSeq: _*))
      .select($"doc_id".as("vec_id"), $"embedding")
    IngestVectors.processBatch(keptVecs, indexPath2)
    val idx2 = Similarity.ivfLoad(spark, indexPath2)
    val pairs2 = idx2.assigned.select("vid", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    idx2.release()
    val idx1 = Similarity.ivfLoad(spark, indexPath)
    val pairs1 = idx1.assigned.select("vid", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    idx1.release()
    assert(pairs1 == pairs2)
  }

  test("neighbor sink: per-batch mining equals offline search on the pre-append store, prior corpus only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select("doc_id", "text", "embedding")

    // one seeded build, saved to three identical stores: A (pipeline
    // with the neighbor sink), B (replays batch 1 only — the state
    // batch 2's search must have seen), C (never appended — the state
    // batch 1's search must have seen)
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    val (pathA, pathB, pathC) = (tmp("nb_a"), tmp("nb_b"), tmp("nb_c"))
    Seq(pathA, pathB, pathC).foreach(Similarity.ivfSave(seedIdx, _))
    seedIdx.release()

    val b1 = feed.where($"doc_id" >= 300 && $"doc_id" < 350)
    val b2 = feed.where($"doc_id" >= 350 && $"doc_id" < 400)
    val (sigsA, outA, teleA, nbrs) =
      (tmp("nb_sigs"), tmp("nb_out"), tmp("nb_tele"), tmp("nb_pairs"))
    IngestPipeline.processBatch(b1, 0L, sigsA, outA, pathA, teleA, 0.5,
      neighborsPath = Some(nbrs), neighborK = 3)
    IngestPipeline.processBatch(b2, 1L, sigsA, outA, pathA, teleA, 0.5,
      neighborsPath = Some(nbrs), neighborK = 3)

    val mined = spark.read.parquet(nbrs)
      .select("batch_id", "qid", "rnk", "vid").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getLong(3))))
    val mined0 = mined.filter(_._1 == 0L).map(_._2).toSet
    val mined1 = mined.filter(_._1 == 1L).map(_._2).toSet

    // prior-corpus-only + consume-before-append: batch 1 mines against
    // the seed alone — no batch-1 vid can appear among its neighbors
    assert(mined0.nonEmpty)
    assert(mined0.forall(_._3 < 300L),
      "batch-1 neighbors leaked post-append store state")

    // replay the same gate on a separate store to learn each batch's
    // kept set (the gate is deterministic)
    val (sigsB, outB) = (tmp("nb_sigs_b"), tmp("nb_out_b"))
    graft.streaming.IngestDedup.processBatch(
      b1.select("doc_id", "text"), sigsB, outB, 0.5)
    val kept1 = spark.read.parquet(outB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept1Vecs = feed.where($"doc_id".isin(kept1.toSeq: _*))
      .select($"doc_id".as("vec_id"), $"embedding")

    // batch 1 mining == offline search against the untouched seed store
    val exp0 = IngestVectors.searchBatch(kept1Vecs, pathC, 3)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    assert(mined0 == exp0)

    // batch 2 mining == offline search against seed + kept batch 1
    IngestVectors.processBatch(kept1Vecs, pathB)
    graft.streaming.IngestDedup.processBatch(
      b2.select("doc_id", "text"), sigsB, outB, 0.5)
    val kept2 = spark.read.parquet(outB)
      .select("doc_id").collect().map(_.getLong(0)).toSet -- kept1
    val kept2Vecs = feed.where($"doc_id".isin(kept2.toSeq: _*))
      .select($"doc_id".as("vec_id"), $"embedding")
    val exp1 = IngestVectors.searchBatch(kept2Vecs, pathB, 3)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    assert(mined1 == exp1)
    // and batch 2 may (and on this data does) surface batch-1 docs
    assert(mined1.exists(t => t._3 >= 300L && t._3 < 350L))
  }

  test("neighborScanFrac: mining holds its scan fraction across a mid-stream generation swap") {
    // the supervisor pattern: maintenance rebuilds the index into a
    // generation with MORE lists mid-stream; a fixed neighborProbe
    // would silently scan a shrinking corpus share (round-6 law), while
    // neighborScanFrac re-resolves against the new generation's nList
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select("doc_id", "text", "embedding")

    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 2)
    val g0 = tmp("gen_g0")
    Similarity.ivfSave(seedIdx, g0)
    seedIdx.release()

    val b1 = feed.where($"doc_id" >= 300 && $"doc_id" < 350)
    val b2 = feed.where($"doc_id" >= 350 && $"doc_id" < 400)
    val (sigsA, outA, teleA, nbrs) =
      (tmp("gen_sigs"), tmp("gen_out"), tmp("gen_tele"), tmp("gen_pairs"))
    IngestPipeline.processBatch(b1, 0L, sigsA, outA, g0, teleA, 0.5,
      neighborsPath = Some(nbrs), neighborK = 3, neighborScanFrac = Some(1.0))

    // supervisor swaps generations: the grown store rebalances to 2×
    // the lists; batch 2 is pointed at the new path
    val liveIdx = Similarity.ivfLoad(spark, g0)
    val reb = Similarity.ivfRebalance(liveIdx, nList = 4) // releases liveIdx
    val g1 = tmp("gen_g1")
    Similarity.ivfSave(reb, g1)
    reb.release()

    // learn batch 2's kept set by replaying the deterministic gate
    val (sigsB, outB) = (tmp("gen_sigs_b"), tmp("gen_out_b"))
    graft.streaming.IngestDedup.processBatch(
      b1.select("doc_id", "text"), sigsB, outB, 0.5)
    val kept1 = spark.read.parquet(outB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.streaming.IngestDedup.processBatch(
      b2.select("doc_id", "text"), sigsB, outB, 0.5)
    val kept2 = spark.read.parquet(outB)
      .select("doc_id").collect().map(_.getLong(0)).toSet -- kept1
    val kept2Vecs = feed.where($"doc_id".isin(kept2.toSeq: _*))
      .select($"doc_id".as("vec_id"), $"embedding")

    // offline expectation against the PRE-append new generation: the
    // fraction must resolve to the new nList (4), i.e. equal explicit
    // nProbe = 4 — not the pre-swap generation's 2
    val expF = IngestVectors.searchBatch(kept2Vecs, g1, 3, scanFrac = Some(1.0))
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    val expP = IngestVectors.searchBatch(kept2Vecs, g1, 3, nProbe = 4)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    assert(expF == expP, "scanFrac did not resolve against the new generation's nList")

    IngestPipeline.processBatch(b2, 1L, sigsA, outA, g1, teleA, 0.5,
      neighborsPath = Some(nbrs), neighborK = 3, neighborScanFrac = Some(1.0))
    val mined1 = spark.read.parquet(nbrs)
      .where($"batch_id" === 1L).select("qid", "rnk", "vid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(mined1 == expF)
  }

  test("streaming start: one foreachBatch drives all three stores consistently") {
    // tiny synthetic corpus so the MemoryStream tuple encoder stays simple
    val dim = 4
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(j => ((seed * 31 + j * 7) % 13).toFloat / 13f)
    val seedVecs = (0L until 10L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val indexPath = tmp("pipe_s_index")
    val idx = Similarity.ivfBuild(seedVecs, 4)
    Similarity.ivfSave(idx, indexPath)
    idx.release()

    val (sigs, out, tele, ckpt) =
      (tmp("pipe_s_sigs"), tmp("pipe_s_out"), tmp("pipe_s_tele"), tmp("pipe_s_ckpt"))
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Seq[Float])]
    val q = IngestPipeline.start(
      input.toDF().toDF("doc_id", "text", "embedding"),
      sigs, out, indexPath, tele, 0.5, ckpt)
    input.addData(
      (100L, "the quick brown fox jumps over the lazy dog near the quiet river bank today", vec(100)),
      (101L, "a totally unrelated document discussing minhash signatures and band keys here", vec(101)))
    q.processAllAvailable()
    input.addData(
      // dup of 101 across batches → dropped
      (200L, "a totally unrelated document discussing minhash signatures and band keys here", vec(200)),
      (201L, "fresh prose about parquet row groups and column statistics for pruning scans", vec(201)))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 101L, 201L))
    val grown = Similarity.ivfLoad(spark, indexPath)
    val vids = grown.assigned.select("vid").collect().map(_.getLong(0)).toSet
    grown.release()
    assert(vids == (0L until 10L).toSet ++ kept)
    val tRows = spark.read.parquet(tele)
      .select("n_docs").collect().map(_.getLong(0)).sorted.toSeq
    assert(tRows == Seq(1L, 2L))            // batch1 kept 2, batch2 kept 1
  }

  test("mid-stream store-geometry maintenance changes no answer; geometry grows") {
    // the maintenance hook runs in the serialized slot after each
    // batch (the supervisor.maintain() discipline applied to store
    // geometry): a fuzzyMaintain with a tiny target must re-bucket the
    // fuzzy store mid-stream while every gate decision stays
    // bit-identical to the unmaintained run
    import graft.streaming.IngestFuzzy
    val dim = 4
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(j => ((seed * 31 + j * 7) % 13).toFloat / 13f)
    val seedVecs = (0L until 10L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    def run(maintained: Boolean): (Set[Long], Int) = {
      val indexPath = tmp(s"pipe_m_index$maintained")
      val idx = Similarity.ivfBuild(seedVecs, 4)
      Similarity.ivfSave(idx, indexPath)
      idx.release()
      val (sigs, out, tele, ckpt, fz) = (tmp("pipe_m_sigs"), tmp("pipe_m_out"),
        tmp("pipe_m_tele"), tmp("pipe_m_ckpt"), tmp("pipe_m_fz"))
      IngestFuzzy.fuzzySave(spark,
        Seq.empty[(Long, String)].toDF("id", "s"), fz, maxDist = 1,
        nBuckets = 2)
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(Long, String, Seq[Float], String)]
      val q = IngestPipeline.start(
        input.toDF().toDF("doc_id", "text", "embedding", "key"),
        sigs, out, indexPath, tele, 0.5, ckpt,
        fuzzyStorePath = Some(fz),
        maintenance = if (maintained)
          _ => { IngestFuzzy.fuzzyMaintain(spark, fz,
            targetRowsPerBucket = 2L, growFactor = 1); () }
        else _ => ())
      input.addData(
        (100L, "the quick brown fox jumps over the lazy dog near the quiet river bank today", vec(100), "alpha data pipeline key"),
        (101L, "a totally unrelated document discussing minhash signatures and band keys here", vec(101), "beta query engine key!!"))
      q.processAllAvailable()
      input.addData(
        (200L, "fresh prose about parquet row groups and column statistics for pruning scans", vec(200), "alpha data pipeline keX"), // 1 edit of 100's key → fuzzy drop
        (201L, "more fresh prose on broadcast joins and adaptive query execution behavior now", vec(201), "gamma wholly novel key!"))
      q.processAllAvailable()
      q.stop()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val nB = spark.read.parquet(s"$fz/meta").head().getInt(2)
      (kept, nB)
    }
    val (plain, nb0) = run(maintained = false)
    val (maint, nb1) = run(maintained = true)
    assert(plain == Set(100L, 101L, 201L))
    assert(maint == plain)      // geometry-independent decisions
    assert(nb0 == 2 && nb1 > 2) // the hook actually re-bucketed mid-stream
  }

  test("start with a supervised index: the supervisor swaps generations inside the stream; kept == indexed across swaps") {
    // growth-gated: seed 16 vecs in 4 lists (occupancy 4, target 4);
    // batch 1 lands 24 more (occupancy 10 > 2×target) → the supervisor
    // must rebuild to ⌈40/4⌉ = 10 lists between batches, and batch 2
    // must append to (and mine against) the NEW generation
    val dim = 4
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(j => (((seed * 31 + j * 7) % 13) - 6).toFloat / 13f)
    def rows(ids: Range) =
      ids.map(i => (i.toLong, (0 until 12).map(t => s"w${i}x$t").mkString(" "), vec(i)))
    val seedVecs = (0L until 16L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val g0 = tmp("sup_g0")
    val idx = Similarity.ivfBuild(seedVecs, 4)
    Similarity.ivfSave(idx, g0)
    idx.release()
    val sup = new graft.streaming.IngestVectors.IndexSupervisor(
      spark, g0, tmp("sup_gens"), maxSkew = 100.0, targetClusterRows = 4L)

    val (sigs, out, tele, ckpt, nbrs) = (tmp("sup_sigs"), tmp("sup_out"),
      tmp("sup_tele"), tmp("sup_ckpt"), tmp("sup_nbrs"))
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Seq[Float])]
    val q = IngestPipeline.start(
      input.toDF().toDF("doc_id", "text", "embedding"),
      sigs, out, indexPath = sup.currentPath, tele, 0.5, ckpt,
      neighborsPath = Some(nbrs), neighborK = 2, neighborScanFrac = Some(1.0),
      maintenance = _ => { sup.maintain(); () })
    input.addData(rows(100 until 124): _*)
    q.processAllAvailable()
    val genAfterB1 = sup.generation
    input.addData(rows(200 until 205): _*)
    q.processAllAvailable()
    q.stop()

    assert(genAfterB1 >= 1, "growth gate never fired inside the stream")
    assert(sup.currentPath != g0)
    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ((100L until 124L) ++ (200L until 205L)).toSet)
    // the final generation holds seed + every kept doc exactly once
    val fin = Similarity.ivfLoad(spark, sup.currentPath)
    try {
      assert(fin.nList >= 10)
      val vids = fin.assigned.select("vid").collect().map(_.getLong(0)).toSeq
      assert(vids.sorted == ((0L until 16L) ++ kept.toSeq.sorted).toSeq.sorted)
    } finally fin.release()
    // batch 2 mined against the NEW generation at scanFrac 1.0 — its
    // neighbor rows must equal exhaustive search on the pre-batch-2
    // store content (seed + batch 1), for a probe vector we control
    val mined = spark.read.parquet(nbrs).where($"batch_id" === 1L)
      .select("qid", "rnk", "vid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(mined.nonEmpty)
    assert(mined.forall(t => t._3 < 124L), "batch-2 mining leaked batch-2 vids")
  }

  test("generation swap mid-ingest: maintenance rebuild preserves kept == indexed across the swap") {
    // the supervisor pattern maintainIndex is written for: ingest into
    // g0, drift skews it, maintenance writes g1 (rebuilt from g0's FULL
    // contents), the supervisor points the pipeline at g1, ingest
    // continues — and the kept-set == indexed-set invariant must hold
    // ACROSS the generation boundary because g1 carries everything g0
    // held at swap time
    def region(axis: Int, ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map { i =>
        // token-disjoint texts: the gate must keep everything (the
        // dedup behavior itself is the first test's subject)
        (i.toLong, (0 until 12).map(t => s"w${i}x$t").mkString(" "),
          Seq.tabulate(8)(d =>
            (if (d == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.05f))
      }
    }
    def feed(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .selectExpr("doc_id", "text", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

    val root = tmp("pipe_gen")
    val g0 = s"$root/g0"; val g1 = s"$root/g1"
    val seed = feed(region(0, 0 until 30, 41))
      .selectExpr("doc_id AS vec_id", "embedding")
    val built = Similarity.ivfBuild(seed, 4)
    Similarity.ivfSave(built, g0)
    built.release()

    val (sigs, out, tele) = (tmp("pipe_g_sigs"), tmp("pipe_g_out"), tmp("pipe_g_tele"))
    // two drifted bursts into g0 through the full pipeline
    val k1 = IngestPipeline.processBatch(
      feed(region(2, 100 until 140, 42)), 0L, sigs, out, g0, tele, 0.5)
    val k2 = IngestPipeline.processBatch(
      feed(region(3, 200 until 240, 43)), 1L, sigs, out, g0, tele, 0.5)
    assert(k1 > 0 && k2 > 0)

    // skew-gated maintenance fires and writes the next generation
    assert(IngestVectors.maintainIndex(spark, g0, maxSkew = 1.3, g1))
    // supervisor swap: ingest continues into g1
    val k3 = IngestPipeline.processBatch(
      feed(region(1, 300 until 330, 44)), 2L, sigs, out, g1, tele, 0.5)
    assert(k3 > 0)

    val keptIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val g1Idx = Similarity.ivfLoad(spark, g1)
    val vids = g1Idx.assigned.select("vid").collect().map(_.getLong(0)).toSet
    g1Idx.release()
    // g1 = seed + every kept doc from BOTH sides of the swap
    assert(vids == (0L until 30L).toSet ++ keptIds,
      s"missing: ${((0L until 30L).toSet ++ keptIds) -- vids}; extra: ${vids -- (0L until 30L).toSet -- keptIds}")
  }

  test("lexical sink: the BM25 store grows by exactly the gated set; search == rescan of kept") {
    import graft.operators.{Lexical, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select("doc_id", "text", "embedding")

    val indexPath = tmp("pipe_lex_idx")
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    Similarity.ivfSave(seedIdx, indexPath)
    seedIdx.release()
    // seed the lexical store with the same 0-299 corpus slice
    val lexPath = tmp("pipe_lex_store")
    Lexical.lexSave(spark, docs.where($"doc_id" < 300), lexPath)

    // batch 2 replants batch-1 texts under fresh ids: the gate drops
    // them, so the lexical store must NOT contain the clone doc_ids
    val b1 = feed.where($"doc_id" >= 300 && $"doc_id" < 350)
    val clones = feed.where($"doc_id" >= 300 && $"doc_id" < 305)
      .select(($"doc_id" + 8700L).as("doc_id"), $"text", $"embedding")
    val b2 = feed.where($"doc_id" >= 350 && $"doc_id" < 400).unionByName(clones)
    val (sigs, out, tele) = (tmp("pl_sigs"), tmp("pl_out"), tmp("pl_tele"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      IngestPipeline.processBatch(b, i.toLong, sigs, out, indexPath, tele,
        0.5, lexPath = Some(lexPath))
    }

    val keptIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.intersect((9000L to 9004L).toSet).isEmpty)
    val lexIds = spark.read.parquet(s"$lexPath/docstats")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lexIds == (0L until 300L).toSet ++ keptIds,
      "lexical store must hold seed + exactly the gated set")
    // and the store search equals re-scoring the kept corpus directly
    val terms = Seq("spark", "merge", "dup")
    val keptCorpus = docs.where($"doc_id" < 300)
      .unionByName(docs.where($"doc_id".isin(keptIds.toSeq: _*)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(Lexical.lexSearch(spark, lexPath, terms, 20)) ==
      rows(TextAnalysis.bm25TopK(keptCorpus, terms, 20)))
  }

  test("composed pipeline with fuzzy auto-split: slice fold == unsplit, all stores") {
    import graft.streaming.IngestFuzzy
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select($"doc_id", $"text", $"embedding",
        substring($"text", 1, 40).as("key"))
    def run(maxKeys: Int): (Set[Long], Seq[(Long, String)]) = {
      val idxP = tmp(s"pipesp_idx$maxKeys")
      val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
      Similarity.ivfSave(seedIdx, idxP)
      seedIdx.release()
      val (sigs, out, tele, fz) = (tmp(s"pipesp_sigs$maxKeys"),
        tmp(s"pipesp_out$maxKeys"), tmp(s"pipesp_tele$maxKeys"),
        tmp(s"pipesp_fz$maxKeys"))
      IngestFuzzy.fuzzySave(spark,
        Seq.empty[(Long, String)].toDF("id", "s"), fz, maxDist = 2)
      Seq(base.where($"doc_id" >= 300 && $"doc_id" < 380),
          base.where($"doc_id" >= 380 && $"doc_id" < 450))
        .zipWithIndex.foreach { case (b, i) =>
          IngestPipeline.processBatch(b, i.toLong, sigs, out, idxP, tele, 0.5,
            fuzzyStorePath = Some(fz), fuzzyMaxKeys = maxKeys)
        }
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSet,
       spark.read.parquet(s"$fz/keys").orderBy("id")
         .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    }
    val unsplit = run(1000000)
    val split = run(16) // ~5 slices per batch inside the composed gate
    assert(split == unsplit)
    assert(unsplit._1.nonEmpty)
  }

  test("a failing sink append propagates and releases every gate persist") {
    import graft.streaming.IngestFuzzy
    val rows = (0L until 40L).map { i =>
      (i, s"document $i about topic ${i % 7} with words w$i x${i * 3}",
        Seq(i.toFloat, (i % 5).toFloat, 1f, (i % 3).toFloat))
    }
    val emb = rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
    val batch = rows.toDF("doc_id", "text", "embedding")
      .withColumn("key", substring($"text", 1, 12))
      .where($"doc_id" >= 20)
    val indexPath = tmp("pipefail_index")
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 20), 2)
    Similarity.ivfSave(seedIdx, indexPath)
    seedIdx.release()
    val fz = tmp("pipefail_fz")
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), fz, maxDist = 1)
    // the kept-docs sink is a regular file: its parquet append throws
    // after both gates have persisted their frames
    val notADir = java.io.File.createTempFile("pipefail_out", ".file")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[Exception] {
      IngestPipeline.processBatch(batch, 0L, tmp("pipefail_sigs"), notADir.getPath,
        indexPath, tmp("pipefail_tele"), 0.5, fuzzyStorePath = Some(fz))
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    assert(left.isEmpty, s"persisted RDDs left behind by the failed batch: $left")
  }

  test("fuzzy-key gate composes in series: equals the standalone two-gate fold") {
    import graft.streaming.IngestFuzzy
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select($"doc_id", $"text", $"embedding",
        substring($"text", 1, 40).as("key"))

    val indexPath = tmp("pipefz_index")
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    Similarity.ivfSave(seedIdx, indexPath)
    seedIdx.release()

    // two planted drops, one per gate: 9100 carries NOVEL text under a
    // one-edit TYPO of doc 300's key (passes the near-dup gate, must
    // drop at the fuzzy gate); 9200 carries a CLONE of doc 301's text
    // under a fresh far-away key (drops at the near-dup gate — its key
    // must never reach the fuzzy store)
    val key300 = base.where($"doc_id" === 300L)
      .select("key").head().getString(0)
    val typoKey = key300.dropRight(1) + (if (key300.last == 'z') 'y' else 'z')
    val plant9100 = base.where($"doc_id" === 480L)
      .select(lit(9100L).as("doc_id"), $"text", $"embedding",
        lit(typoKey).as("key"))
    val plant9200 = base.where($"doc_id" === 301L)
      .select(lit(9200L).as("doc_id"), $"text", $"embedding",
        lit("a key with no neighbors anywhere").as("key"))
    val b1 = base.where($"doc_id" >= 300 && $"doc_id" < 350)
    val b2 = base.where($"doc_id" >= 350 && $"doc_id" < 400)
      .unionByName(plant9100).unionByName(plant9200)
    val batches = Seq(b1, b2)

    // composite pipeline with both gates
    val (sigs, out, tele, fz) =
      (tmp("pipefz_sigs"), tmp("pipefz_out"), tmp("pipefz_tele"), tmp("pipefz_store"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), fz, maxDist = 1)
    batches.zipWithIndex.foreach { case (b, i) =>
      IngestPipeline.processBatch(b, i.toLong, sigs, out, indexPath, tele, 0.5,
        fuzzyStorePath = Some(fz))
    }
    val keptIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // the planted records dropped at their respective gates; doc 300
    // (smallest id of the bootstrap batch) is always kept
    assert(!keptIds.contains(9100L) && !keptIds.contains(9200L))
    assert(keptIds.contains(300L))

    // standalone two-gate fold over separate stores — same policy
    val (sigs2, fz2) = (tmp("pipefz_sigs2"), tmp("pipefz_store2"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), fz2, maxDist = 1)
    var foldKept = Set.empty[Long]
    var foldSigIds = Set.empty[Long]
    batches.foreach { b =>
      IngestDedup.gateBatch(b, sigs2, 0.5)
        .flatMap { case (k1, sigs1) => IngestFuzzy.gateBatch(k1, fz2, "key").map((_, sigs1)) }
        .use { case (k2, sigs1) =>
          foldKept ++= k2.select("doc_id").collect().map(_.getLong(0))
          // the composed contract: fuzzy keys grow by the doubly-gated set,
          // signatures by the CONTENT-gate survivors (fuzzy-dropped docs'
          // content is still seen — and the frame's lineage never reads the
          // fuzzy store, the two-store refreshByPath discipline)
          foldSigIds ++= sigs1.select("doc_id").collect().map(_.getLong(0))
          IngestFuzzy.appendKeys(spark, fz2,
            k2.where($"key".isNotNull)
              .select($"doc_id".cast("long").as("id"), $"key".as("s")))
          sigs1.write.mode("append").parquet(sigs2)
        }
    }
    assert(keptIds == foldKept)

    // store consistency: fuzzy keys == kept keys exactly (9200's fresh
    // key never entered — it fell at the content gate), the index grew
    // by exactly the kept set, and the signature store holds the
    // content-gate survivors (9100 INCLUDED: novel prose, dropped only
    // for its typo key — a later clone of it must still drop)
    val storeKeyIds = spark.read.parquet(s"$fz/keys")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(storeKeyIds == keptIds)
    val idx = Similarity.ivfLoad(spark, indexPath)
    val vids = idx.assigned.select("vid").collect().map(_.getLong(0)).toSet
    idx.release()
    assert(vids == (0L until 300L).toSet ++ keptIds)
    val sigIds = Dedup.signatureLoad(spark, sigs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == foldSigIds)
    assert(sigIds.contains(9100L) && !sigIds.contains(9200L))
  }

  test("image gate composes third in series: the three-store append cascade") {
    import graft.operators.Multimodal
    import graft.streaming.{IngestFuzzy, IngestImages}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val mkImg = udf((id: Long) => Multimodal.pngPatternBytes(id, 0, 36, 32))
    val base = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select($"doc_id", $"text", $"embedding",
        substring($"text", 1, 40).as("key"), mkImg($"doc_id").as("image"))

    val indexPath = tmp("pipeim_index")
    val seedIdx = Similarity.ivfBuild(emb.where($"vec_id" < 300), 8)
    Similarity.ivfSave(seedIdx, indexPath)
    seedIdx.release()

    // one planted drop per gate: 9100 = novel text + novel key +
    // BRIGHTNESS TWIN of doc 300's image (falls only at the image
    // gate — its key must still reach the fuzzy store, the cascade
    // contract); 9200 = novel text + one-edit typo of doc 300's key +
    // novel image (falls at the fuzzy gate — its image hash must never
    // reach the image store)
    val key300 = base.where($"doc_id" === 300L)
      .select("key").head().getString(0)
    val typoKey = key300.dropRight(1) + (if (key300.last == 'z') 'y' else 'z')
    val img300Twin = Multimodal.pngPatternBytes(300L, 40, 36, 32)
    val plant9100 = base.where($"doc_id" === 480L)
      .select(lit(9100L).as("doc_id"), $"text", $"embedding",
        lit("a key with no neighbors anywhere").as("key"),
        lit(img300Twin).as("image"))
    val plant9200 = base.where($"doc_id" === 481L)
      .select(lit(9200L).as("doc_id"), $"text", $"embedding",
        lit(typoKey).as("key"), mkImg(lit(9200L)).as("image"))
    val b1 = base.where($"doc_id" >= 300 && $"doc_id" < 350)
    val b2 = base.where($"doc_id" >= 350 && $"doc_id" < 400)
      .unionByName(plant9100).unionByName(plant9200)
    val batches = Seq(b1, b2)

    val (sigs, out, tele, fz, im) = (tmp("pipeim_sigs"), tmp("pipeim_out"),
      tmp("pipeim_tele"), tmp("pipeim_fz"), tmp("pipeim_im"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), fz, maxDist = 1)
    IngestImages.dhashSave(spark,
      Seq.empty[(Long, Long)].toDF("id", "h"), im, maxHamming = 2)
    batches.zipWithIndex.foreach { case (b, i) =>
      IngestPipeline.processBatch(b, i.toLong, sigs, out, indexPath, tele, 0.5,
        fuzzyStorePath = Some(fz), imageStorePath = Some(im))
    }
    val keptIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!keptIds.contains(9100L) && !keptIds.contains(9200L))
    assert(keptIds.contains(300L))

    // standalone three-gate fold over separate stores — same policy
    val (sigs2, fz2, im2) =
      (tmp("pipeim_sigs2"), tmp("pipeim_fz2"), tmp("pipeim_im2"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), fz2, maxDist = 1)
    IngestImages.dhashSave(spark,
      Seq.empty[(Long, Long)].toDF("id", "h"), im2, maxHamming = 2)
    var foldKept = Set.empty[Long]
    batches.foreach { b =>
      IngestDedup.gateBatch(b, sigs2, 0.5).use { case (k1, sigs1) =>
        IngestFuzzy.gateBatch(k1, fz2, "key").use { k2 =>
          IngestImages.gateBatch(k2, im2).use { case (k3, kh) =>
            foldKept ++= k3.select("doc_id").collect().map(_.getLong(0))
            IngestImages.appendHashes(spark, im2, kh)
            IngestFuzzy.appendKeys(spark, fz2,
              k2.where($"key".isNotNull)
                .select($"doc_id".cast("long").as("id"), $"key".as("s")))
            sigs1.write.mode("append").parquet(sigs2)
          }
        }
      }
    }
    assert(keptIds == foldKept)

    // the cascade contracts: image hashes == full survivors (9200's
    // novel image fell with it at the fuzzy gate); fuzzy keys == key
    // survivors INCLUDING 9100 (novel key, dropped only for its image);
    // signatures == content survivors including both plants
    val imIds = spark.read.parquet(s"$im/hashes")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(imIds == keptIds)
    val fzIds = spark.read.parquet(s"$fz/keys")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(fzIds == keptIds + 9100L)
    val sigIds = Dedup.signatureLoad(spark, sigs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds.contains(9100L) && sigIds.contains(9200L))
    // index grew by exactly the kept set
    val idx = Similarity.ivfLoad(spark, indexPath)
    val vids = idx.assigned.select("vid").collect().map(_.getLong(0)).toSet
    idx.release()
    assert(vids == (0L until 300L).toSet ++ keptIds)
  }

  // feed rows carrying every column the armed gates and sinks read, and
  // stores seeded from docs 0-299 (each store exists before the batch)
  private def armed(name: String) = {
    import graft.operators.Multimodal
    import graft.streaming.{IngestFingerprints, IngestFuzzy, IngestImages}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val mkImg = udf((id: Long) => Multimodal.pngPatternBytes(id, 0, 36, 32))
    val base = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select($"doc_id", $"source", $"text", $"embedding",
        substring($"text", 1, 40).as("key"), mkImg($"doc_id").as("image"))
    val seed = base.where($"doc_id" < 300)
    val (sigs, fz, im) = (tmp(s"${name}_sigs"), tmp(s"${name}_fz"), tmp(s"${name}_im"))
    Dedup.signatureSave(seed.select("doc_id", "text"), sigs)
    IngestFuzzy.fuzzySave(spark, seed.select($"doc_id".as("id"), $"key".as("s")),
      fz, maxDist = 1)
    IngestImages.dhashSave(spark,
      IngestFingerprints.imageFps(seed).select("id", "h"), im, maxHamming = 2)
    (base, sigs, fz, im)
  }

  test("gated frames read no state store: appending the batch's own signatures, keys and hashes keeps kept") {
    import graft.streaming.{IngestFuzzy, IngestImages}
    val (base, sigs, fz, im) = armed("immune")
    val batch = base.where($"doc_id" >= 300 && $"doc_id" < 340)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    IngestDedup.gateBatch(batch, sigs, 0.5).use { case (k1, sigs1) =>
      IngestFuzzy.gateBatch(k1, fz, "key").use { k2 =>
        IngestImages.gateBatch(k2, im).use { case (kept, hashes) =>
          val (ids1, ids2, keptIds) = (ids(k1), ids(k2), ids(kept))
          assert(keptIds.nonEmpty)
          // signatures first, the order the crash contract rules out: a
          // kept frame that read the signature store would now re-run
          // against its own signatures and come back empty
          sigs1.write.mode("append").parquet(sigs)
          IngestFuzzy.appendKeys(spark, fz,
            k2.select($"doc_id".cast("long").as("id"), $"key".as("s")))
          IngestImages.appendHashes(spark, im, hashes)
          assert(ids(kept) == keptIds)
          assert(ids(k2) == ids2 && ids(k1) == ids1)
        }
      }
    }
    // the batch did land in the stores: gated again, none of it is kept
    IngestDedup.gateBatch(batch, sigs, 0.5).use { case (k1, _) =>
      IngestFuzzy.gateBatch(k1, fz, "key").use(k2 => assert(ids(k2).isEmpty))
    }
  }

  // one batch of 40 new docs plus a clone of doc 301 (the content gate
  // drops it) through every gate and sink, into stores seeded from
  // docs 0-299; `out` is where kept docs land. Returns the run, the
  // state stores (signatures, fuzzy, image) and the other sinks
  // (telemetry, index, lexical, vocab, neighbours)
  private def armedBatch(name: String, out: String) = {
    import graft.operators.Lexical
    val (base, sigs, fz, im) = armed(name)
    val seed = base.where($"doc_id" < 300)
    val (tele, idx, lex, vocab, nbrs) = (tmp(s"${name}_tele"), tmp(s"${name}_idx"),
      tmp(s"${name}_lex"), tmp(s"${name}_vocab"), tmp(s"${name}_nbrs"))
    val seedIdx = Similarity.ivfBuild(seed.select($"doc_id".as("vec_id"), $"embedding"), 8)
    Similarity.ivfSave(seedIdx, idx)
    seedIdx.release()
    Lexical.lexSave(spark, seed.select("doc_id", "text"), lex)
    val batch = base.where($"doc_id" >= 300 && $"doc_id" < 340)
      .unionByName(base.where($"doc_id" === 301L).withColumn("doc_id", lit(9301L)))
    val run = () => IngestPipeline.processBatch(batch, 0L, sigs, out, idx, tele, 0.5,
      vocabPath = Some(vocab), neighborsPath = Some(nbrs), lexPath = Some(lex),
      fuzzyStorePath = Some(fz), imageStorePath = Some(im))
    (run, Seq(sigs, fz, im), (tele, idx, lex, vocab, nbrs))
  }

  test("a failing sink fails the batch after every other sink, appends no state store, and replays like a clean run") {
    import scala.jdk.CollectionConverters._
    def ids(path: String, c: String) =
      spark.read.parquet(path).select(col(c).cast("long")).collect().map(_.getLong(0)).toSet
    // what each sink other than `out` holds after the batch
    def sinks(p: (String, String, String, String, String)) = {
      val (tele, idx, lex, vocab, nbrs) = p
      (spark.read.parquet(tele).select("batch_id", "n_docs").collect().toSet,
       ids(s"$idx/assigned", "vid"), ids(s"$lex/docstats", "doc_id"),
       spark.read.parquet(vocab).select("source", "n_tokens").collect().toSet,
       ids(nbrs, "qid"))
    }
    def stateIds(st: Seq[String]) =
      (Dedup.signatureLoad(spark, st(0)).select("doc_id").collect().map(_.getLong(0)).toSet,
       ids(s"${st(1)}/keys", "id"), ids(s"${st(2)}/hashes", "id"))
    // every file under a store, with its size
    def files(dir: String) = {
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f)).toSet
    }

    val cleanOut = tmp("sinkclean_out")
    val (clean, cleanState, cleanSinks) = armedBatch("sinkclean", cleanOut)
    val kept = clean()
    assert(kept > 0)

    // the kept-docs sink is a regular file: its append throws while the
    // other sinks are still writing
    val notADir = java.io.File.createTempFile("sinkfail_out", ".file")
    val (failing, state, sinkPaths) = armedBatch("sinkfail", notADir.getPath)
    val stateBefore = state.map(files)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[Exception](failing())
    // every other sink had landed the whole batch when the failure surfaced
    assert(sinks(sinkPaths) == sinks(cleanSinks))
    assert(state.map(files) == stateBefore, "a state store was appended after a failed sink")
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(persisted)
    assert(left.isEmpty, s"persisted RDDs left behind by the failed batch: $left")

    // the replay without the fault keeps what a clean run keeps
    assert(notADir.delete())
    assert(failing() == kept)
    assert(ids(notADir.getPath, "doc_id") == ids(cleanOut, "doc_id"))
    assert(stateIds(state) == stateIds(cleanState))
  }

  test("one composed batch with every store armed stays within its job budget") {
    // the sink pool's threads outlive a batch: a first batch makes them
    // outside any job group, as in a long-lived session, so a unit that
    // ran under the pool thread's own local properties shows below
    armedBatch("budget_warm", tmp("budget_warm_out"))._1()
    val (run, _, _) = armedBatch("budget", tmp("budget_out"))
    var kept = 0L
    // every job that starts, whatever its job group: the sinks run on
    // pool threads, and a job that lost the caller's local properties
    // would fall out of jobsOf's group count and hide under the budget
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val all = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(all)
    val jobs = try jobsOf { kept = run() }
      finally spark.sparkContext.removeSparkListener(all)
    assert(kept > 0 && kept <= 40)
    assert(started.get == jobs, s"${started.get} jobs started, $jobs in the caller's job group")
    // the count measured once every gate collected its batch keys once
    // and probed its store in one broadcast job, and the index layout
    // was read from a footer; a persist + count, or a schema-inference
    // read, put back into any gate exceeds it
    assert(jobs <= 52, s"one armed batch ran $jobs Spark jobs")
  }
}
