package graft

import graft.operators.Similarity

/** OPQ (Similarity.opqTopK / opqBuild lifecycle): the learned
  * pretransform must be orthonormal (cosines preserved exactly), the
  * rotated-space ADC search must reach at least plain PQ's recall on
  * the same testdata, and the save/load/append lifecycle must mirror
  * PqSpec's parity contracts. */
class OpqSpec extends SparkSpec {

  private val testEmb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  test("opqFitLocal rotation is orthonormal") {
    import org.apache.spark.sql.functions.col
    val base = testEmb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val pts = Similarity.pqSamplePoints(base, 256)
    val dim = pts(0).length
    val (rot, books) = Similarity.opqFitLocal(pts, 8, 16, dim / 8, iters = 4)
    assert(books.length == 8)
    // A·Aᵀ = I within float tolerance
    var maxErr = 0.0
    for (i <- 0 until dim; j <- 0 until dim) {
      var s = 0.0
      var t = 0
      while (t < dim) { s += rot(i * dim + t) * rot(j * dim + t); t += 1 }
      val expect = if (i == j) 1.0 else 0.0
      maxErr = math.max(maxErr, math.abs(s - expect))
    }
    assert(maxErr < 1e-9, s"A·Aᵀ deviates from I by $maxErr")
  }

  test("opqTopK recall@10 vs float cosineTopK meets the PQ floor") {
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val opq = pairs(Similarity.opqTopK(testEmb, 20, 10))
    val recall = (gold & opq).size.toDouble / gold.size
    info(s"opq (m=16, kSub=256) recall@10 = $recall")
    assert(recall >= 0.7, s"recall $recall") // measured 0.855 (pq: 0.815)
  }

  test("opq at m=8 recovers at least plain PQ's ADC recall (the anisotropy case)") {
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val pq = pairs(Similarity.pqTopK(testEmb, 20, 10, m = 8))
    val opq = pairs(Similarity.opqTopK(testEmb, 20, 10, m = 8))
    val rPq = (gold & pq).size.toDouble / gold.size
    val rOpq = (gold & opq).size.toDouble / gold.size
    info(s"m=8 ADC recall@10: pq=$rPq opq=$rOpq")
    // the rotation must not LOSE recall; equality is possible on
    // near-isotropic data, so the floor is pq's measured value minus
    // one result out of 200
    assert(rOpq >= rPq - 0.005, s"opq $rOpq vs pq $rPq")
  }

  test("opqTopKRefine repairs ADC rank error to >= 0.9 recall") {
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val re = pairs(Similarity.opqTopKRefine(testEmb, 20, 10))
    val recall = (gold & re).size.toDouble / gold.size
    info(s"opq+refine recall@10 = $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("opqTopK is deterministic across runs") {
    val a = Similarity.opqTopK(testEmb, 10, 5).collect().toSeq
    val b = Similarity.opqTopK(testEmb, 10, 5).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty && a.size == 50)
  }

  test("opqSave/opqLoad round-trip + frozen-transform append") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("opqidx").toString
    val corpus = testEmb.where(col("vec_id") >= 10 && col("vec_id") < 400)
    val queries = testEmb.where(col("vec_id") < 10)
    val built = Similarity.pqBuild(corpus, opq = true)
    try {
      val before = Similarity.pqSearch(built, queries, 5).collect().toSeq
      Similarity.pqSave(built, dir)
      val loaded = Similarity.pqLoad(spark, dir)
      try {
        assert(java.util.Arrays.equals(loaded.rot.get, built.rot.get))
        val after = Similarity.pqSearch(loaded, queries, 5).collect().toSeq
        assert(before == after)
        assert(before.size == 50)
      } finally loaded.release()
      // append the held-out tail; appended vectors must be findable
      Similarity.appendSave(spark, dir,
        testEmb.where(col("vec_id") >= 400))
      val grown = Similarity.pqLoad(spark, dir)
      try {
        val n = grown.coded.count()
        assert(n == testEmb.where(col("vec_id") >= 10).count())
        // a vector searches for itself: its own id must rank first
        val self = Similarity.pqSearch(grown,
          testEmb.where(col("vec_id") === 450).select(
            col("vec_id"), col("embedding")), 1).collect()
        assert(self.head.getLong(2) == 450L)
      } finally grown.release()
    } finally built.release()
  }

  test("opqDriftRatio: ~1 in-distribution, detects drift; opqMaintainIfDrifted refits rotation + books") {
    import spark.implicits._
    def cloud(ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map(i => (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1)))
    }
    def tight(ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map(i => (i.toLong,
        Seq.tabulate(16)(d => (if (d < 2) 3f else 0f) + (rng.nextFloat() - 0.5f) * 0.02f)))
    }
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

    val a = emb(cloud(0 until 500, 21))
    val b = emb(tight(1000 until 1300, 22))
    val dir = java.nio.file.Files.createTempDirectory("opq_drift").toString
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val built = Similarity.pqBuild(a, m = 4, kSub = 16, opq = true, iters = 4)
    try Similarity.pqSave(built, src) finally built.release()

    val inDist = Similarity.pqDriftRatio(spark, src, emb(cloud(2000 until 2400, 23)))
    info(s"in-distribution drift ratio = $inDist")
    assert(inDist < 2.0, s"in-distribution should be ~1: $inDist")
    val drifted = Similarity.pqDriftRatio(spark, src, b)
    info(s"drifted ratio = $drifted")
    assert(drifted > 3.0, s"drift should dominate: $drifted")

    assert(!Similarity.pqMaintainIfDrifted(spark, src, b, a.union(b),
      maxRatio = drifted + 1.0, dstPath = dst))
    assert(!new java.io.File(dst).exists())
    assert(Similarity.pqMaintainIfDrifted(spark, src, b, a.union(b),
      maxRatio = 2.0, dstPath = dst))
    val repaired = Similarity.pqDriftRatio(spark, dst, b)
    info(s"repaired ratio = $repaired")
    assert(repaired < drifted / 2, s"refit should repair: $drifted -> $repaired")
  }

  test("ivfPq maintenance: occupancy + distortion gates, refit from source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def region(axis: Int, ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map(i => (i.toLong, Seq.tabulate(16)(d =>
        (if (d == axis) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.05f)))
    }
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

    val a = emb(region(0, 0 until 40, 31) ++ region(1, 40 until 80, 32))
    val burst = emb(region(2, 100 until 160, 33) ++ region(3, 160 until 220, 34))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_drift").toString
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val built = Similarity.pqBuild(a, m = 4, kSub = 16, nList = 4)
    try Similarity.pqSave(built, src) finally built.release()
    assert(Similarity.ivfPqListStats(spark, src).collect().length == 4)
    val skew0 = Similarity.ivfPqSkew(spark, src)
    info(s"built skew = $skew0")

    // balanced + in-distribution: no-op under both gates
    assert(!Similarity.pqMaintainIfDrifted(spark, src, a, a,
      maxSkew = 3.0, maxRatio = 50.0, dstPath = dst))

    Similarity.appendSave(spark, src, burst)
    val skewDrift = Similarity.ivfPqSkew(spark, src)
    info(s"skew after burst = $skewDrift")
    assert(skewDrift >= 1.6, s"burst should skew: $skewDrift") // measured 1.78
    assert(Similarity.pqMaintainIfDrifted(spark, src, burst, a.union(burst),
      maxSkew = 1.5, maxRatio = 50.0, dstPath = dst))
    val skewAfter = Similarity.ivfPqSkew(spark, dst)
    info(s"skew after refit = $skewAfter")
    assert(skewAfter < skewDrift, s"refit should balance: $skewDrift -> $skewAfter")
    intercept[IllegalArgumentException] {
      Similarity.pqMaintainIfDrifted(spark, src, burst, a, 50.0, src, maxSkew = 1.5)
    }

    // growth gate (round 8): a balanced, in-distribution store whose
    // occupancy passed 2×target still refits, with nList scaled to the
    // store (280 rows → ⌈280/30⌉ = 10) through the bounded sample fit
    val more = emb(region(0, 300 until 340, 35) ++ region(1, 340 until 380, 36))
    Similarity.appendSave(spark, dst, more)
    val g2 = s"$dir/g2"
    val all2 = a.union(burst).union(more)
    assert(!Similarity.pqMaintainIfDrifted(spark, dst, more, all2,
      maxSkew = 100.0, maxRatio = 1e9, dstPath = g2))
    assert(Similarity.pqMaintainIfDrifted(spark, dst, more, all2,
      maxSkew = 100.0, maxRatio = 1e9, dstPath = g2,
      targetClusterRows = 30L, sampleFit = true))
    assert(Similarity.ivfPqListStats(spark, g2).collect().length == 10)
    assert(spark.read.parquet(s"$g2/codes").count() == 280)
  }

  test("the drift rule rejects a kSub-sized sample on a rotated store too") {
    import spark.implicits._
    def cloud(ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map(i => (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    }
    val dir = java.nio.file.Files.createTempDirectory("opq_drift_small").toString
    val built = Similarity.pqBuild(cloud(0 until 300, 51), m = 4, kSub = 16,
      opq = true, iters = 4)
    try Similarity.pqSave(built, dir) finally built.release()
    // 16 points against kSub = 16: the fresh alternation would memorise them
    val e = intercept[IllegalArgumentException] {
      Similarity.pqDriftRatio(spark, dir, cloud(1000 until 1016, 52))
    }
    assert(e.getMessage.contains("16 points") && e.getMessage.contains("kSub = 16"),
      e.getMessage)
    // one point more is a real sample: a finite ratio comes back
    assert(!Similarity.pqDriftRatio(spark, dir, cloud(1000 until 1017, 52)).isInfinite)
  }
}
