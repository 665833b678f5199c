package graft

import graft.operators.Similarity

/** Product quantization (Similarity.pqTopK / pqTopKRefine): recall of
  * the ADC search vs the float brute-force baseline on real testdata
  * embeddings, the refine stage's repair of quantization rank error,
  * and determinism of the whole codebook-fit → encode → search path. */
class PqSpec extends SparkSpec {

  private val testEmb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  test("pqTopK recall@10 vs float cosineTopK on testdata") {
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val pq = pairs(Similarity.pqTopK(testEmb, 20, 10))
    val recall = (gold & pq).size.toDouble / gold.size
    info(s"pq (m=16, kSub=256) recall@10 = $recall")
    assert(recall >= 0.6, s"recall $recall") // 16x compression: honest floor
  }

  test("pqTopKRefine repairs ADC rank error to >= 0.9 recall") {
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val re = pairs(Similarity.pqTopKRefine(testEmb, 20, 10))
    val recall = (gold & re).size.toDouble / gold.size
    info(s"pq+refine recall@10 = $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("pqTopK is deterministic across runs") {
    val a = Similarity.pqTopK(testEmb, 10, 5).collect().toSeq
    val b = Similarity.pqTopK(testEmb, 10, 5).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty && a.size == 50)
  }

  test("pqSave/pqLoad round-trip: search-after-reload equals search-after-build") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val corpus = testEmb.where(col("vec_id") >= 10)
    val queries = testEmb.where(col("vec_id") < 10)
    val built = Similarity.pqBuild(corpus)
    try {
      val before = Similarity.pqSearch(built, queries, 5).collect().toSeq
      Similarity.pqSave(built, dir)
      val loaded = Similarity.pqLoad(spark, dir)
      try {
        val after = Similarity.pqSearch(loaded, queries, 5).collect().toSeq
        assert(before == after)
        assert(before.size == 50)
      } finally loaded.release()
    } finally built.release()
  }

  test("ivfPqTopK: list pruning x ADC reaches the recall floor; refine repairs it") {
    import org.apache.spark.sql.functions.col
    val gold = pairs(Similarity.cosineTopK(testEmb, 20, 10))
    val ivfpq = pairs(Similarity.ivfPqTopK(testEmb, 20, 10, 8, 3))
    val recall = (gold & ivfpq).size.toDouble / gold.size
    info(s"ivfpq (nList=8, nProbe=3, m=16, kSub=256) recall@10 = $recall")
    assert(recall >= 0.5, s"recall $recall") // list misses stack on ADC error
    val index = Similarity.pqBuild(testEmb.where(col("vec_id") >= 20), nList = 8)
    try {
      // RefineFlat: the ADC top 40 per query re-ranked by exact cosine
      val cand = Similarity.pqSearch(index, testEmb.where(col("vec_id") < 20), 40, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val vec = testEmb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      def cos(q: Long, v: Long) =
        dot(vec(q), vec(v)) / (math.sqrt(dot(vec(q), vec(q))) * math.sqrt(dot(vec(v), vec(v))))
      val re = cand.groupBy(_._1).toSeq.flatMap { case (q, vs) =>
        vs.map(_._2).sortBy(v => (-cos(q, v), v)).take(10).map(q -> _)
      }.toSet
      val reRecall = (gold & re).size.toDouble / gold.size
      info(s"ivfpq+refine recall@10 = $reRecall")
      // refine repairs ADC rank error but cannot recover list misses:
      // floor sits between the ADC floor and pq+refine's 0.9
      assert(reRecall >= recall && reRecall >= 0.6, s"refined $reRecall vs adc $recall")
    } finally index.release()
  }

  test("ivfPqSave/ivfPqLoad round-trip: search-after-reload equals search-after-build") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    val corpus = testEmb.where(col("vec_id") >= 10)
    val queries = testEmb.where(col("vec_id") < 10)
    val built = Similarity.pqBuild(corpus, nList = 8)
    try {
      val before = Similarity.pqSearch(built, queries, 5, 3).collect().toSeq
      Similarity.pqSave(built, dir)
      val loaded = Similarity.pqLoad(spark, dir)
      try {
        val after = Similarity.pqSearch(loaded, queries, 5, 3).collect().toSeq
        assert(before == after)
        assert(before.size == 50)
      } finally loaded.release()
    } finally built.release()
  }

  test("pqAppendSave: appended vectors are searchable, O(batch) encode against frozen books") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    // build+save WITHOUT the last 50 vectors, then append them
    val initial = testEmb.where(col("vec_id") >= 10 && col("vec_id") < 450)
    val batch = testEmb.where(col("vec_id") >= 450)
    val queries = testEmb.where(col("vec_id") < 10)
    val built = Similarity.pqBuild(initial)
    try Similarity.pqSave(built, dir) finally built.release()
    Similarity.appendSave(spark, dir, batch)
    val loaded = Similarity.pqLoad(spark, dir)
    try {
      assert(loaded.coded.count() == 490)
      // an appended vector queried against itself must rank first:
      // its code reconstruction is its own nearest ADC match among
      // near-orthogonal data
      val self = Similarity.pqSearch(loaded, testEmb.where(col("vec_id") === 460), 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(self == Seq((460L, 460L)), s"self-match: $self")
    } finally loaded.release()
  }

  test("pqDriftRatio: ~1 in-distribution, detects a drifted feed; pqMaintainIfDrifted repairs") {
    import spark.implicits._
    // distribution A: broad seeded uniform cloud; drifted batch B: a
    // tight cluster in a region A never visited — frozen books quantize
    // it badly while freshly-fit books model it almost exactly
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

    val a = emb(cloud(0 until 500, 11))
    val b = emb(tight(1000 until 1300, 12))
    val dir = java.nio.file.Files.createTempDirectory("pq_drift").toString
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val built = Similarity.pqBuild(a, m = 4, kSub = 16)
    try Similarity.pqSave(built, src) finally built.release()

    // in-distribution: a fresh sample of the SAME cloud scores ≈ 1
    val inDist = Similarity.pqDriftRatio(spark, src, emb(cloud(2000 until 2400, 13)))
    info(s"in-distribution drift ratio = $inDist")
    assert(inDist < 2.0, s"in-distribution should be ~1: $inDist")

    val drifted = Similarity.pqDriftRatio(spark, src, b)
    info(s"drifted ratio = $drifted")
    assert(drifted > 3.0, s"drift should dominate: $drifted")

    // gate: high threshold -> untouched; real threshold -> new generation
    assert(!Similarity.pqMaintainIfDrifted(spark, src, b, a.union(b),
      maxRatio = drifted + 1.0, dstPath = dst))
    assert(!new java.io.File(dst).exists())
    assert(Similarity.pqMaintainIfDrifted(spark, src, b, a.union(b),
      maxRatio = 2.0, dstPath = dst))
    // the refit generation models the drifted region again — both as
    // ratio and as ABSOLUTE distortion on the drifted batch
    val repaired = Similarity.pqDriftRatio(spark, dst, b)
    info(s"repaired ratio = $repaired")
    assert(repaired < drifted / 2, s"refit should repair: $drifted -> $repaired")
    val (g0, g1) = (Similarity.pqLoad(spark, src), Similarity.pqLoad(spark, dst))
    try assert(Similarity.pqDistortion(g1, b) < Similarity.pqDistortion(g0, b))
    finally { g0.release(); g1.release() }
    intercept[IllegalArgumentException] {
      Similarity.pqMaintainIfDrifted(spark, src, b, a, 2.0, src)
    }
  }

  test("pqDriftRatio rejects a recent sample no larger than kSub, and maintenance refits nothing") {
    import spark.implicits._
    // fresh books fit min(kSub, points) centroids from distinct picks:
    // on a kSub-point sample they memorise it (distortion 0), so the
    // ratio would be +inf and every store would refit on every batch
    def cloud(ids: Range, seed: Int) = {
      val rng = new scala.util.Random(seed)
      ids.map(i => (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    }
    val dir = java.nio.file.Files.createTempDirectory("pq_drift_small").toString
    val src = s"$dir/g0"; val dst = s"$dir/g1"
    val built = Similarity.pqBuild(cloud(0 until 300, 41), m = 4, kSub = 16)
    try Similarity.pqSave(built, src) finally built.release()
    val small = cloud(1000 until 1016, 42) // exactly kSub points
    val e = intercept[IllegalArgumentException](Similarity.pqDriftRatio(spark, src, small))
    assert(e.getMessage.contains("16 points") && e.getMessage.contains("kSub = 16"),
      e.getMessage)
    intercept[IllegalArgumentException] {
      Similarity.pqMaintainIfDrifted(spark, src, small, cloud(0 until 300, 41), 2.0, dst)
    }
    assert(!new java.io.File(dst).exists())
  }
}
