package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.operators.Similarity
import graft.streaming.IngestVectors

/** Streaming vector ingest into a persisted IVF index: batches append
  * against frozen centroids while searches keep working from reloads,
  * and the streamed store equals the batch `appendSave` fold. */
class IngestVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("streamed batches land in the store; search finds them after reload") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("ingv_idx")
    val base = Similarity.ivfBuild(all.where($"vec_id" >= 20 && $"vec_id" < 400), 4)
    Similarity.ivfSave(base, dir)
    base.release()
    val baseCount = spark.read.parquet(s"$dir/assigned").count()

    // two micro-batches of re-keyed duplicates of corpus vectors
    val batch1 = all.where($"vec_id" >= 20 && $"vec_id" < 23)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val batch2 = all.where($"vec_id" >= 23 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IngestVectors.start(
      input.toDF().toDF("vec_id", "embedding"), dir, tmp("ingv_ckpt"))
    input.addData(batch1.toSeq: _*)
    q.processAllAvailable()
    input.addData(batch2.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    assert(spark.read.parquet(s"$dir/assigned").count() == baseCount + 5)
    val loaded = Similarity.ivfLoad(spark, dir)
    try {
      // every streamed twin sits in its duplicate's list
      val lists = loaded.assigned.select("vid", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      for (v <- 20L until 25L)
        assert(lists(v + 10000L) == lists(v), s"twin of $v misplaced")
      // and a search with the original's embedding surfaces the twin
      val hits = Similarity.ivfSearch(loaded, all.where($"vec_id" === 24), 3, 4)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(hits.head == ((1, 24L)) && hits.map(_._2).contains(10024L), s"$hits")
    } finally loaded.release()
  }

  test("processBatch dispatches on store layout: PQ and IVF,PQ stores grow too") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val batch = all.where($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")

    val pqDir = tmp("ingv_pq")
    val pqIdx = Similarity.pqBuild(all.where($"vec_id" >= 25 && $"vec_id" < 400))
    try Similarity.pqSave(pqIdx, pqDir) finally pqIdx.release()
    val pqBase = spark.read.parquet(s"$pqDir/codes").count()
    assert(IngestVectors.processBatch(batch, pqDir) == 5)
    assert(spark.read.parquet(s"$pqDir/codes").count() == pqBase + 5)
    // a streamed twin is its original's nearest ADC neighbor
    val pqLoaded = Similarity.pqLoad(spark, pqDir)
    try {
      val self = Similarity.pqSearch(pqLoaded, all.where($"vec_id" === 22), 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(self == Seq((22L, 10022L)), s"twin not nearest: $self")
    } finally pqLoaded.release()

    val opqDir = tmp("ingv_opq")
    val opqIdx = Similarity.pqBuild(all.where($"vec_id" >= 25 && $"vec_id" < 400), opq = true)
    try Similarity.pqSave(opqIdx, opqDir) finally opqIdx.release()
    val opqBase = spark.read.parquet(s"$opqDir/codes").count()
    assert(IngestVectors.processBatch(batch, opqDir) == 5)
    assert(spark.read.parquet(s"$opqDir/codes").count() == opqBase + 5)
    // the appended twin rode the FROZEN rotation: ADC self-match holds
    val opqLoaded = Similarity.pqLoad(spark, opqDir)
    try {
      val self = Similarity.pqSearch(opqLoaded, all.where($"vec_id" === 22), 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(self == Seq((22L, 10022L)), s"twin not nearest: $self")
    } finally opqLoaded.release()

    // OPQ,IVF,PQ store: rot/ + centroids/ dispatches to the rotated
    // append, and the appended twin is searchable through searchBatch
    val iopqDir = tmp("ingv_ivfopq")
    val iopqIdx = Similarity.pqBuild(
      all.where($"vec_id" >= 25 && $"vec_id" < 400), nList = 4, opq = true)
    try Similarity.pqSave(iopqIdx, iopqDir) finally iopqIdx.release()
    val iopqBase = spark.read.parquet(s"$iopqDir/codes").count()
    assert(IngestVectors.processBatch(batch, iopqDir) == 5)
    assert(spark.read.parquet(s"$iopqDir/codes").count() == iopqBase + 5)
    IngestVectors.searchBatch(
      all.where($"vec_id" === 22), iopqDir, 1, nProbe = 4).use { iopqHits =>
      assert(iopqHits.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
        == Seq((22L, 10022L)), "twin not nearest through the OPQ,IVF,PQ tier")
    }

    val ivfpqDir = tmp("ingv_ivfpq")
    val ipqIdx = Similarity.pqBuild(all.where($"vec_id" >= 25 && $"vec_id" < 400), nList = 4)
    try Similarity.pqSave(ipqIdx, ivfpqDir) finally ipqIdx.release()
    val ipqBase = spark.read.parquet(s"$ivfpqDir/codes").count()
    assert(IngestVectors.processBatch(batch, ivfpqDir) == 5)
    assert(spark.read.parquet(s"$ivfpqDir/codes").count() == ipqBase + 5)
    val ipqLoaded = Similarity.pqLoad(spark, ivfpqDir)
    try {
      val self = Similarity.pqSearch(ipqLoaded,
        all.where($"vec_id" === 22), 1, 4)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(self == Seq((22L, 10022L)), s"twin not nearest: $self")
    } finally ipqLoaded.release()
  }

  test("maintainIndex: skew-gated generation swap after a drifted ingest burst") {
    // two tight initial regions; the ingest burst arrives in two NEW
    // orthogonal regions, which frozen centroids cram into one list
    // (IvfRebalanceSpec pins the mechanism; here: the ingest wiring)
    def region(axis: Int, ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map { i =>
        (i.toLong, Array.tabulate(8)(d =>
          (if (d == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.05f).toSeq)
      }
    }
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

    val dir = tmp("ingv_maint")
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val base = Similarity.ivfBuild(
      emb(region(0, 0 until 40, 1) ++ region(1, 40 until 80, 2)), 4)
    Similarity.ivfSave(base, src)
    base.release()

    // balanced store: below threshold, nothing happens
    assert(!IngestVectors.maintainIndex(spark, src, maxSkew = 3.0, dst))
    assert(!new java.io.File(dst).exists())

    // drifted burst through the ingest path, then maintenance fires
    assert(IngestVectors.processBatch(
      emb(region(2, 100 until 160, 3) ++ region(3, 160 until 220, 7)), src) == 120)
    assert(IngestVectors.maintainIndex(spark, src, maxSkew = 1.5, dst))

    val old = Similarity.ivfLoad(spark, src)
    val neu = Similarity.ivfLoad(spark, dst)
    try {
      assert(Similarity.ivfSkew(neu) < Similarity.ivfSkew(old))
      // same contents, new layout: exhaustive searches agree
      val qs = emb(region(2, 1000 until 1003, 4))
      def exhaust(ix: Similarity.IvfIndex) =
        Similarity.ivfSearch(ix, qs, k = 5, nProbe = ix.nList)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(exhaust(neu) == exhaust(old))
    } finally { old.release(); neu.release() }
  }

  test("ivfReplayGap: a batch landed mid-rebuild is replayed into the new generation; idempotent") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("ingv_gap")
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val base = Similarity.ivfBuild(all.where($"vec_id" >= 20 && $"vec_id" < 200), 4)
    Similarity.ivfSave(base, src)
    base.release()
    // the rebuild works from a snapshot of the old path...
    assert(IngestVectors.maintainIndex(spark, src, maxSkew = 0.0, dst))
    // ...and an at-least-once batch lands on the OLD path meanwhile
    val late = all.where($"vec_id" >= 200 && $"vec_id" < 210)
      .select(($"vec_id" + 20000L).as("vec_id"), $"embedding")
    assert(IngestVectors.processBatch(late, src) == 10)
    assert(spark.read.parquet(s"$dst/assigned").count() == 180) // the gap

    assert(Similarity.ivfReplayGap(spark, src, dst) == 10)
    def vids(p: String) = spark.read.parquet(s"$p/assigned")
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(vids(dst) == vids(src))
    assert(Similarity.ivfReplayGap(spark, src, dst) == 0) // idempotent
    // the replayed twin is searchable in the new generation
    IngestVectors.searchBatch(all.where($"vec_id" === 205), dst, 3, 4).use { hits =>
      assert(hits.collect().map(_.getLong(2)).contains(20205L))
    }
  }

  test("ivfReplayGap on an SQ8 store: reconstruction round-trips, codes land bit-identical") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("ingv_gap8")
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val base = Similarity.ivfBuild(all.where($"vec_id" >= 20 && $"vec_id" < 200), 4,
      codec = Similarity.ListCodec.Sq8)
    Similarity.ivfSave(base, src)
    base.release()
    assert(IngestVectors.maintainIndex(spark, src, maxSkew = 0.0, dst))
    val late = all.where($"vec_id" >= 200 && $"vec_id" < 206)
      .select(($"vec_id" + 20000L).as("vec_id"), $"embedding")
    assert(IngestVectors.processBatch(late, src) == 6)
    assert(Similarity.ivfReplayGap(spark, src, dst) == 6)
    assert(Similarity.ivfReplayGap(spark, src, dst) == 0)
    // replayed codes equal the old store's codes byte-for-byte (the
    // exact SQ8 round-trip IvfRebalanceSpec pins, through the gap path)
    def codes(p: String) = spark.read.parquet(s"$p/assigned")
      .where($"vid" >= 20200L).select("vid", "qc").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codes(dst) == codes(src))
  }

  test("maintainIndex growth gate: occupancy past 2×target fires a rebuild with nList scaled to the store") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmp("ingv_grow")
    val g0 = s"$dir/g0"; val g1 = s"$dir/g1"
    // 100 vectors in 4 lists (25/list), then grow the store 4× through
    // the append path: occupancy ~100/list — balanced-ish, but far past
    // a 30-row target, which the skew gate alone would never catch
    val base = Similarity.ivfBuild(all.where($"vec_id" < 100), 4)
    Similarity.ivfSave(base, g0)
    base.release()
    assert(IngestVectors.processBatch(
      all.where($"vec_id" >= 100 && $"vec_id" < 400), g0) == 300)
    // no growth target: the (possibly mildly skewed) store stays put
    // under a generous skew ceiling
    assert(!IngestVectors.maintainIndex(spark, g0, maxSkew = 100.0, g1))
    // with a target: fires on occupancy, new nList = ceil(400/30) = 14
    assert(IngestVectors.maintainIndex(spark, g0, maxSkew = 100.0, g1,
      targetClusterRows = 30L, sampleFit = true))
    val neu = Similarity.ivfLoad(spark, g1)
    try {
      assert(neu.nList == 14, s"nList ${neu.nList} != 14")
      assert(neu.assigned.count() == 400)
      // contents preserved: exhaustive search over the new generation
      // equals exhaustive over the old store
      val old = Similarity.ivfLoad(spark, g0)
      try {
        val qs = all.where($"vec_id" < 3)
        def exhaust(ix: Similarity.IvfIndex) =
          Similarity.ivfSearch(ix, qs, 5, ix.nList)
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(exhaust(neu) == exhaust(old))
      } finally old.release()
    } finally neu.release()
  }

  test("searchBatch scanFrac: constant scan fraction across a generation swap") {
    // the round-6 law: a fixed nProbe silently shrinks the scanned
    // corpus share when maintenance grows nList with the store. The
    // scanFrac dial must resolve against EACH GENERATION'S OWN nList.
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = all.where($"vec_id" >= 10 && $"vec_id" < 400)
    val qs = all.where($"vec_id" < 5)
    val dir = tmp("ingv_frac")
    val g0 = s"$dir/g0"; val g1 = s"$dir/g1"
    val base = Similarity.ivfBuild(corpus, 2)
    Similarity.ivfSave(base, g0)
    base.release()
    // maintenance swaps in a generation with 2× the lists
    val old = Similarity.ivfLoad(spark, g0)
    val reb = Similarity.ivfRebalance(old, nList = 4) // releases old
    Similarity.ivfSave(reb, g1)
    reb.release()

    def run(path: String, nProbe: Int = 2, frac: Option[Double] = None) = {
      IngestVectors.searchBatch(qs, path, 5, nProbe, frac)
        .use(_.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq)
    }
    // scanFrac resolves to ⌈nList·f⌉ against the loaded store: half the
    // lists on both generations == the explicitly-probed equivalent
    assert(run(g0, frac = Some(0.5)) == run(g0, nProbe = 1))
    assert(run(g1, frac = Some(0.5)) == run(g1, nProbe = 2))
    // the exhaustive dial stays exhaustive across the swap: same answer
    // from both generations without the caller changing anything
    val ex0 = run(g0, frac = Some(1.0))
    assert(ex0 == run(g0, nProbe = 2))
    assert(run(g1, frac = Some(1.0)) == ex0)
  }

  test("IndexSupervisor: stragglers on the retired generation are replayed by the next maintain()") {
    // the concurrent-mode window: an appender reads currentPath before
    // a swap and lands its write AFTER the swap's final replay — those
    // vectors sit on the retired path. maintain() (and catchUp()) must
    // recover them into the current generation.
    val dim = 4
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(j => (((seed * 31 + j * 7) % 13) - 6).toFloat / 13f)
    val seed = (0L until 16L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val g0 = tmp("sup_strag_g0")
    val idx = Similarity.ivfBuild(seed, 4)
    Similarity.ivfSave(idx, g0)
    idx.release()
    val sup = new IngestVectors.IndexSupervisor(
      spark, g0, tmp("sup_strag_gens"), maxSkew = 100.0, targetClusterRows = 4L)

    // batch A pushes occupancy past 2×target → first maintain() swaps
    val batchA = (100L until 120L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    IngestVectors.processBatch(batchA, sup.currentPath)
    assert(sup.maintain(), "growth gate should have fired")
    val gen1 = sup.currentPath
    assert(gen1 != g0)

    // the straggler: an appender that captured g0 BEFORE the swap and
    // finished after it — lands on the retired generation
    val straggler = (200L until 205L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    IngestVectors.processBatch(straggler, g0)
    def vids(path: String): Set[Long] = {
      val i = Similarity.ivfLoad(spark, path)
      try i.assigned.select("vid").collect().map(_.getLong(0)).toSet
      finally i.release()
    }
    assert(vids(gen1).intersect((200L until 205L).toSet).isEmpty,
      "straggler must be invisible to the new generation until replayed")

    // next maintain() opens with the straggler replay — whether or not
    // the gates fire, the retired generation's gap lands in current
    sup.maintain()
    assert((200L until 205L).toSet.subsetOf(vids(sup.currentPath)))
    // idempotent: a second catch-up replays nothing new
    assert(sup.catchUp() == 0L)
  }

  test("searchBatch rejects a query dim that mismatches a binary store's code width") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flat = tmp("bin_dim_flat")
    val bi = Similarity.binBuild(all.where($"vec_id" < 100))
    try Similarity.binSave(bi, flat) finally bi.release()
    val ivf = tmp("bin_dim_ivf")
    val iv = Similarity.ivfBuild(all.where($"vec_id" < 100), 4,
      codec = Similarity.ListCodec.Bin)
    try Similarity.ivfSave(iv, ivf) finally iv.release()

    val good = all.where($"vec_id" === 0).select($"vec_id", $"embedding")
    val bad = Seq((0L, Seq.fill(32)(0.5f))).toDF("vec_id", "embedding")
    for (dir <- Seq(flat, ivf)) {
      IngestVectors.searchBatch(good, dir, 3).use(ok => assert(ok.count() == 3))
      val e = intercept[IllegalArgumentException] {
        IngestVectors.searchBatch(bad, dir, 3)
      }
      assert(e.getMessage.contains("dimensionality mismatch"))
    }
  }

  test("every saved layout: a twin batch appends, searchBatch finds it, compaction accepts the store") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = all.where($"vec_id" >= 25 && $"vec_id" < 400)
    val nCorpus = corpus.count()
    val twins = all.where($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    def saved[I](build: => I)(save: (I, String) => Unit)(release: I => Unit)(dir: String): Unit = {
      val idx = build
      try save(idx, dir) finally release(idx)
    }
    val ivfCompact = (d: String) => Similarity.ivfCompact(spark, d)
    val codesCompact = (d: String) => Similarity.codesCompact(spark, d)
    val layouts: Seq[(String, String => Unit, String => Long)] = Seq(
      ("IVF float", saved(Similarity.ivfBuild(corpus, 4))(Similarity.ivfSave)(_.release()),
        ivfCompact),
      ("IVF SQ8", saved(Similarity.ivfBuild(corpus, 4, codec = Similarity.ListCodec.Sq8))(
        Similarity.ivfSave)(_.release()),
        ivfCompact),
      ("IVF 1-bit", saved(Similarity.ivfBuild(corpus, 4, codec = Similarity.ListCodec.Bin))(
        Similarity.ivfSave)(_.release()),
        ivfCompact),
      ("IVF,PQ", saved(Similarity.pqBuild(corpus, nList = 4))(Similarity.pqSave)(_.release()),
        codesCompact),
      ("OPQ,IVF,PQ", saved(Similarity.pqBuild(corpus, nList = 4, opq = true))(Similarity.pqSave)(_.release()),
        codesCompact),
      ("flat PQ", saved(Similarity.pqBuild(corpus))(Similarity.pqSave)(_.release()),
        codesCompact),
      ("flat OPQ", saved(Similarity.pqBuild(corpus, opq = true))(Similarity.pqSave)(_.release()),
        codesCompact),
      ("flat 1-bit", saved(Similarity.binBuild(corpus))(Similarity.binSave)(_.release()),
        codesCompact))
    for ((name, save, compact) <- layouts) {
      val dir = tmp("ingv_layout")
      save(dir)
      assert(IngestVectors.processBatch(twins, dir) == 5, name)
      // every list probed (nProbe = nList = 4): the re-keyed twin of the
      // query is its nearest neighbour on every tier
      val nearest = IngestVectors.searchBatch(all.where($"vec_id" === 22), dir, 1, nProbe = 4)
        .use(_.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq)
      assert(nearest == Seq((22L, 10022L)), s"$name: twin not nearest: $nearest")
      assert(compact(dir) == nCorpus + 5, name)
    }

    val junk = tmp("ingv_layout_junk")
    val dispatch = "is not an ivfSave/ivfPqSave/ivfOpqSave/opqSave/pqSave/binSave store"
    assert(intercept[IllegalArgumentException](IngestVectors.processBatch(twins, junk))
      .getMessage.contains(dispatch))
    assert(intercept[IllegalArgumentException](IngestVectors.searchBatch(twins, junk, 1))
      .getMessage.contains(dispatch))
    assert(intercept[IllegalArgumentException](Similarity.codesCompact(spark, junk))
      .getMessage.contains("is not a pqSave/opqSave/ivfPqSave/ivfOpqSave/binSave code store"))
  }

  test("scanFrac outside (0, 1] is rejected by knnJoin and searchBatch") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = all.where($"vec_id" < 100)
    val dir = tmp("ingv_frac_bad")
    val idx = Similarity.ivfBuild(corpus, 4)
    try Similarity.ivfSave(idx, dir) finally idx.release()
    intercept[IllegalArgumentException] {
      Similarity.knnJoin(corpus, 3, scanFrac = Some(0.0))
    }
    intercept[IllegalArgumentException] {
      IngestVectors.searchBatch(all.where($"vec_id" < 3), dir, 3, scanFrac = Some(1.5))
    }
  }
}
