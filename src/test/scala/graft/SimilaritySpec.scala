package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "0 AS label")

  test("cosineTopK: exact duplicate vector ranks first") {
    val v = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val near = Seq(0.9f, 0.1f, 0.0f, 0.0f)
    val far = Seq(0.0f, 0.0f, 1.0f, 0.0f)
    val out = Similarity.cosineTopK(emb((0L, v), (5L, near), (6L, far), (7L, v)), 1, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1, 7L), (0L, 2, 5L)))
  }

  test("annLshTopK: same-bucket duplicate found") {
    val v = Seq(1.0f, 1.0f, -1.0f, 1.0f, -1.0f, 1.0f, 1.0f, 1.0f)
    val out = Similarity.annLshTopK(emb((0L, v), (9L, v)), 1, 3, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.contains((0L, 1, 9L)))
  }

  test("ivfTopK: finds the planted duplicate, returns k-bounded ranks") {
    val rng = new scala.util.Random(7)
    def rv() = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val q0 = rv()
    val rows = Seq((0L, q0)) ++ (5L to 40L).map(i => (i, rv())) :+ ((50L, q0))
    val out = Similarity.ivfTopK(emb(rows: _*), 1, 3, nList = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length <= 3 && out.nonEmpty)
    assert(out.head == ((0L, 1, 50L))) // exact duplicate ranks first
  }

  test("annLshTopK multi-probe: neighbor across one sign boundary needs probeRadius 1") {
    val q = Seq(0.01f, 1.0f, 1.0f, 1.0f)
    val n = Seq(-0.01f, 1.0f, 1.0f, 1.0f) // cos ≈ 1.0, but bit 0 flips
    val data = emb((0L, q), (5L, n))
    val r0 = Similarity.annLshTopK(data, 1, 3, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!r0.contains((0L, 5L)), "radius 0 must miss the cross-boundary neighbor")
    val r1 = Similarity.annLshTopK(data, 1, 3, nBits = 4, probeRadius = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(r1.contains((0L, 5L)), "radius 1 must find it")
  }

  test("ivfBuild/ivfSearch: train once, search many — parity with one-shot ivfTopK") {
    val rng = new scala.util.Random(11)
    def rv() = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val q0 = rv(); val q1 = rv()
    val corpus = (10L to 60L).map(i => (i, rv())) :+ ((70L, q0)) :+ ((80L, q1))
    val all = emb((Seq((0L, q0), (1L, q1)) ++ corpus): _*)
    val oneShot = Similarity.ivfTopK(all, 2, 3, nList = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    val index = Similarity.ivfBuild(all.where($"vec_id" >= 2), nList = 4)
    try {
      val viaIndex = Similarity.ivfSearch(index, all.where($"vec_id" < 2), 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(viaIndex == oneShot)
      // search AGAIN with a different query slice — no refit, same index
      val second = Similarity.ivfSearch(index, all.where($"vec_id" === 0L), 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(second == oneShot.filter(_._1 == 0L))
      // each query's exact duplicate ranks first
      assert(viaIndex.contains((0L, 1, 70L)) && viaIndex.contains((1L, 1, 80L)))
      assert(index.centroids.length == 4)
      // the recall-stable dial: scanFrac resolves to ⌈nList·f⌉ probes —
      // 0.5 of 4 lists == nProbe 2 row-for-row, and scanFrac = 1.0 is
      // the exhaustive dial (equal to probing every list)
      val viaFrac = Similarity.ivfSearch(index, all.where($"vec_id" < 2), 3,
          scanFrac = Some(0.5))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(viaFrac == viaIndex)
      val exhaustive = Similarity.ivfSearch(index, all.where($"vec_id" < 2), 3,
          nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val fracFull = Similarity.ivfSearch(index, all.where($"vec_id" < 2), 3,
          scanFrac = Some(1.0))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(fracFull == exhaustive)
    } finally index.release()
  }

  test("ivfSave/ivfLoad: search-after-reload equals search-after-build") {
    val rng = new scala.util.Random(13)
    def rv() = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val q0 = rv()
    val all = emb((Seq((0L, q0)) ++ (10L to 80L).map(i => (i, rv())) :+ ((90L, q0))): _*)
    val dir = java.nio.file.Files.createTempDirectory("ivf_spec").toString
    val built = Similarity.ivfBuild(all.where($"vec_id" >= 1), nList = 4)
    try {
      val before = Similarity.ivfSearch(built, all.where($"vec_id" < 1), 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.ivfSave(built, dir)
      val loaded = Similarity.ivfLoad(spark, dir)
      try {
        assert(loaded.nList == built.nList)
        val after = Similarity.ivfSearch(loaded, all.where($"vec_id" < 1), 3, nProbe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
        assert(after.head == ((0L, 1, 90L))) // the planted duplicate survives the round-trip
      } finally loaded.release()
    } finally built.release()
  }

  test("diversitySample: per-cluster cap, deterministic, exact output size") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.diversitySample(all, 4, 30).use { res =>
      val rows = res.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      // cap respected in every cluster
      val perCluster = rows.groupBy(_._2).view.mapValues(_.length).toMap
      assert(perCluster.values.forall(_ <= 30), s"cap exceeded: $perCluster")
      assert(perCluster.size == 4, "every cluster must contribute")
      // exact expected size: sum of min(|cluster|, cap)
      val (sizes, release2) = {
        val idx = Similarity.ivfBuild(all, 4)
        (idx.assigned.groupBy("list_id").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap, () => idx.release())
      }
      release2()
      val expected = sizes.values.map(n => math.min(n, 30L)).sum
      assert(rows.length.toLong == expected)
      // deterministic: seeded kmeans + hash rank -> identical re-run
      Similarity.diversitySample(all, 4, 30).use { res2 =>
        assert(res2.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
          == rows.toSeq)
      }
    }
  }

  test("ivfAppend: twins land in their duplicate's list; disk append survives reload") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = all.where($"vec_id" >= 20 && $"vec_id" < 400)
    val idx = Similarity.ivfBuild(corpus, 4)
    // append batch = exact duplicates of corpus vectors, re-keyed
    val dup = all.where($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val idx2 = Similarity.ivfAppend(idx, dup)
    try {
      // quantizer-metric assignment: each twin joins its duplicate's list
      val lists = idx2.assigned.select("vid", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      for (v <- 20L until 25L)
        assert(lists(v + 10000L) == lists(v), s"twin of $v landed elsewhere")
      // searching with an original's embedding surfaces the appended twin
      val hits = Similarity.ivfSearch(idx2, all.where($"vec_id" === 20), 3, 4)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(hits.head == ((1, 20L)) && hits.map(_._2).contains(10020L), s"$hits")
      // on-disk append: save, append a second batch, reload, search
      val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
      Similarity.ivfSave(idx2, dir)
      val batch2 = all.where($"vec_id" >= 25 && $"vec_id" < 30)
        .select(($"vec_id" + 20000L).as("vec_id"), $"embedding")
      Similarity.appendSave(spark, dir, batch2)
      val loaded = Similarity.ivfLoad(spark, dir)
      try {
        assert(loaded.assigned.count() == idx2.assigned.count() + 5)
        val twin = Similarity.ivfSearch(loaded, all.where($"vec_id" === 25), 3, 4)
          .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
        assert(twin.head == ((1, 25L)) && twin.map(_._2).contains(20025L), s"$twin")
      } finally loaded.release()
    } finally idx2.release()
  }

  test("rrfFusion: lexical evidence overturns the dense ranking, ppm exact") {
    val e = emb(
      (0L, Seq(1.0f, 0.0f)),   // query
      (5L, Seq(1.0f, 0.0f)),   // dense rank 1 (cos 1), no lexical hit
      (6L, Seq(0.0f, 1.0f)))   // dense rank 2 (cos 0), lexical rank 1
    val d = Seq(
      (5L, "plain words only here", "en", "src0", 10L),
      (6L, "zz zz appears here", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Similarity.rrfFusion(e, d, Seq("zz"), 1, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // vid 6 = dense#2 + lex#1 = 1e6 div 62 + 1e6 div 61 = 16129 + 16393
    // vid 5 = dense#1 only    = 1e6 div 61 = 16393
    assert(out == Seq((0L, 1, 6L, 32522L), (0L, 2, 5L, 16393L)))
  }

  test("cosineNearDupPairs: only near pair passes threshold") {
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.99f, 0.01f, 0.0f, 0.0f)
    val c = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val out = Similarity.cosineNearDupPairs(emb((1L, a), (2L, b), (3L, c)), 100L, 0.9)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("knnJoin: recall on clustered data, self excluded, deterministic") {
    // IVF's intended regime is CLUSTERED embeddings (real text/image
    // models produce them); on uniform-random vectors probed-list
    // recall degrades by design (measured 0.39 at 2/8 lists on the
    // random driver testdata — same caveat as q61's documented 0.28).
    // Plant 10 tight clusters of 20, where neighbors = cluster mates.
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    val vecs = rows.map { case (i, e) => (i, e.map(_.toDouble).toArray) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))   // mirrors the engine's op order
    }
    val gold = vecs.map { case (q, qe) =>
      q -> vecs.filter(_._1 != q)
        .map { case (v, ve) => (v, cos(qe, ve)) }
        .sortBy { case (v, c) => (-c, v) }.take(5).map(_._1).toSet
    }.toMap
    val out = Similarity.knnJoin(d, 5, nProbe = 2, targetClusterRows = 25)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    out.foreach { case (q, _, v) => assert(q != v, s"self match $q") }
    val byQ = out.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byQ.size == vecs.length)          // every vector got neighbors
    val recall = vecs.map { case (q, _) =>
      gold(q).intersect(byQ(q)).size.toDouble / gold(q).size
    }.sum / vecs.length
    assert(recall >= 0.9, s"mean recall@5 $recall < 0.9")
    val out2 = Similarity.knnJoin(d, 5, nProbe = 2, targetClusterRows = 25)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out2.toSeq == out.toSeq)
    // scanFrac = 1.0 probes every list: the exact brute-force join.
    // Driver gold mirrors the engine's float ops (s/(√na·√nb)) so the
    // comparison is bit-for-bit, not tolerance-based.
    val fullRows = Similarity.knnJoin(d, 5, targetClusterRows = 25,
      scanFrac = Some(1.0))
      .use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val goldRows = vecs.flatMap { case (q, qe) =>
      vecs.filter(_._1 != q)
        .map { case (v, ve) => (v, cos(qe, ve)) }
        .sortBy { case (v, c) => (-c, v) }.take(5).zipWithIndex
        .map { case ((v, _), i) => (q, i + 1, v) }
    }.sortBy(t => (t._1, t._2))
    assert(fullRows.toSeq == goldRows.toSeq)
  }

  test("knnJoinSq8: int8-list ADC + float refine holds recall parity with the float path") {
    // same planted-cluster regime as the float knnJoin pin; the SQ8
    // path must not lose recall — ADC only ranks the candidate POOL
    // (k·refine wide), the final ranks are exact float cosine
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    // exhaustive dial: candidate pool is the whole corpus per query,
    // float refine then reproduces the brute-force float ranking
    // whenever the true top-5 sits inside the ADC top-20 pool
    val fullRows = Similarity.knnJoin(d, 5, targetClusterRows = 25,
      scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val sq8Rows = Similarity.knnJoinSq8(d, 5, targetClusterRows = 25,
      refine = 4, scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    sq8Rows.foreach { case (q, _, v) => assert(q != v, s"self match $q") }
    val fullByQ = fullRows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val sq8ByQ = sq8Rows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(sq8ByQ.size == rows.length)
    val recall = fullByQ.keys.toSeq.map { q =>
      fullByQ(q).intersect(sq8ByQ(q)).size.toDouble / fullByQ(q).size
    }.sum / fullByQ.size
    assert(recall >= 0.95, s"SQ8 refined recall@5 $recall < 0.95 vs float path")
    // probed mode stays deterministic
    val r1 = Similarity.knnJoinSq8(d, 5, nProbe = 2, targetClusterRows = 25)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val r2 = Similarity.knnJoinSq8(d, 5, nProbe = 2, targetClusterRows = 25)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(r1.toSeq == r2.toSeq)
  }

  test("knnJoinPq: PQ-coded lists + float refine hold recall on the planted clusters") {
    // the deepest quantization rung: the candidate lists are m-code PQ
    // rows, scored via PqDecode reconstructions, refined with exact
    // float cosine — refined recall must stay near the float path on
    // the same planted-cluster regime (PQ is lossier than SQ8: the
    // floor is the q116/q119 family's, not bit parity)
    val rng = new scala.util.Random(13)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    val fullByQ = Similarity.knnJoin(d, 5, targetClusterRows = 25,
      scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pqRows = Similarity.knnJoinPq(d, 5, targetClusterRows = 25, m = 4,
      refine = 8, scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    pqRows.foreach { case (q, _, v) => assert(q != v, s"self match $q") }
    val pqByQ = pqRows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(pqByQ.size == rows.length)
    val recall = fullByQ.keys.toSeq.map { q =>
      fullByQ(q).intersect(pqByQ(q)).size.toDouble / fullByQ(q).size
    }.sum / fullByQ.size
    info(s"PQ refined recall@5 = $recall")
    assert(recall >= 0.85, s"PQ refined recall@5 $recall < 0.85 vs float path")
    // probed mode deterministic
    val r1 = Similarity.knnJoinPq(d, 5, nProbe = 2, targetClusterRows = 25, m = 4)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val r2 = Similarity.knnJoinPq(d, 5, nProbe = 2, targetClusterRows = 25, m = 4)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(r1.toSeq == r2.toSeq)
  }

  test("knnJoinOpq: rotated-space PQ join holds the PQ recall floor on planted clusters") {
    // the OPQ rung must behave like knnJoinPq with a rotation in
    // front: same planted-cluster regime, same refined-recall floor
    // (rotation can only help codebook fit, and the refine cosines
    // are rotation-invariant), and probed-mode determinism
    val rng = new scala.util.Random(17)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    val fullByQ = Similarity.knnJoin(d, 5, targetClusterRows = 25,
      scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val opqRows = Similarity.knnJoinOpq(d, 5, targetClusterRows = 25, m = 4,
      refine = 8, iters = 4, scanFrac = Some(1.0))
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    opqRows.foreach { case (q, _, v) => assert(q != v, s"self match $q") }
    val byQ = opqRows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byQ.size == rows.length)
    val recall = fullByQ.keys.toSeq.map { q =>
      fullByQ(q).intersect(byQ(q)).size.toDouble / fullByQ(q).size
    }.sum / fullByQ.size
    info(s"OPQ refined recall@5 = $recall")
    assert(recall >= 0.85, s"OPQ refined recall@5 $recall < 0.85 vs float path")
    val r1 = Similarity.knnJoinOpq(d, 5, nProbe = 2, targetClusterRows = 25,
      m = 4, iters = 4)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val r2 = Similarity.knnJoinOpq(d, 5, nProbe = 2, targetClusterRows = 25,
      m = 4, iters = 4)
      .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(r1.toSeq == r2.toSeq)
  }

  test("knnJoin Indexed forms (float/SQ8/PQ/OPQ): join-after-reload equals join-after-build") {
    // the build-once / join-repeatedly contract: a saved-then-loaded
    // store must produce the identical corpus-wide join (same seeded
    // build, same lists, same codes — equality is exact, not recall)
    val rng = new scala.util.Random(29)
    val rows = (0L until 120L).map(i => (i, Seq.fill(16)(rng.nextFloat() * 2 - 1)))
    val d = emb(rows: _*)
    // float store
    val fDir = java.nio.file.Files.createTempDirectory("knn_ivf").toString
    val built = Similarity.ivfBuild(d, nList = 4)
    try {
      val before = Similarity.knnJoinIndexed(d, built, 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.ivfSave(built, fDir)
      val loaded = Similarity.ivfLoad(spark, fDir)
      try {
        val after = Similarity.knnJoinIndexed(d, loaded, 5, nProbe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
      } finally loaded.release()
    } finally built.release()
    // SQ8 store (same ivfSave/ivfLoad envelope, qc lists)
    val sDir = java.nio.file.Files.createTempDirectory("knn_ivfsq8").toString
    val sq8Built = Similarity.ivfBuildSq8(d, nList = 4)
    try {
      val before = Similarity.knnJoinSq8Indexed(d, sq8Built, 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.ivfSave(sq8Built, sDir)
      val loaded = Similarity.ivfLoad(spark, sDir)
      try {
        val after = Similarity.knnJoinSq8Indexed(d, loaded, 5, nProbe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
      } finally loaded.release()
    } finally sq8Built.release()
    // PQ store
    val pDir = java.nio.file.Files.createTempDirectory("knn_ivfpq").toString
    val pqBuilt = Similarity.pqBuild(d, m = 4, nList = 4)
    try {
      val before = Similarity.knnJoinPqIndexed(d, pqBuilt, 5, nProbe = 2)
        .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.pqSave(pqBuilt, pDir)
      val loaded = Similarity.pqLoad(spark, pDir)
      try {
        val after = Similarity.knnJoinPqIndexed(d, loaded, 5, nProbe = 2)
          .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
      } finally loaded.release()
    } finally pqBuilt.release()
    // OPQ store (rotation + IVF,PQ — the quartet's fourth member)
    val oDir = java.nio.file.Files.createTempDirectory("knn_ivfopq").toString
    val opqBuilt = Similarity.pqBuild(d, m = 4, nList = 4, opq = true, iters = 4)
    try {
      val before = Similarity.knnJoinPqIndexed(d, opqBuilt, 5, nProbe = 2)
        .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // the one-call scoped form must agree with its own build when the
      // dials match (targetClusterRows sized so autoK lands on nList=4
      // is corpus-dependent, so pin indexed-vs-indexed reload instead)
      Similarity.pqSave(opqBuilt, oDir)
      val loaded = Similarity.pqLoad(spark, oDir)
      try {
        assert(loaded.dim == opqBuilt.dim &&
          loaded.rot.get.toSeq == opqBuilt.rot.get.toSeq)
        val after = Similarity.knnJoinPqIndexed(d, loaded, 5, nProbe = 2)
          .use(_.collect()).map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
        // pqSearch is reload-stable too (same rotation, lists, LUTs)
        val qs = d.where(org.apache.spark.sql.functions.col("vec_id") < 5)
        def srch(ix: Similarity.PqIndex) =
          Similarity.pqSearch(ix, qs, 3, nProbe = 4)
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(srch(loaded) == srch(opqBuilt))
      } finally loaded.release()
    } finally opqBuilt.release()
  }

  test("ivfBuild sampleFit: exhaustive dial bit-equal to the MLlib fit, recall parity, append-consistent") {
    // the pqFitBooks pattern applied to the coarse quantizer: centroids
    // fit on a bounded driver sample, assignment via the codegen
    // augmented-dot Euclidean argmin. Same planted clusters as knnJoin.
    val rng = new scala.util.Random(17)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    val qs = d.where(org.apache.spark.sql.functions.col("vec_id") < 10)

    val mi = Similarity.ivfBuild(d, 8)
    val si = Similarity.ivfBuild(d, 8, sampleFit = true)
    try {
      def run(ix: Similarity.IvfIndex, nProbe: Int) =
        Similarity.ivfSearch(ix, qs, 5, nProbe)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // the exhaustive dial is fit-invariant BY CONSTRUCTION: every
      // list is scanned either way, so results are bit-equal
      assert(run(si, 8) == run(mi, 8))
      // probed recall parity: the sample-fit centroids separate the
      // planted clusters as well as the full fit does
      val gold = run(mi, 8).groupBy(_._1).view
        .mapValues(_.map(_._3).toSet).toMap
      def recall(ix: Similarity.IvfIndex) = {
        val byQ = run(ix, 2).groupBy(_._1).view
          .mapValues(_.map(_._3).toSet).toMap
        gold.map { case (q, g) =>
          byQ.getOrElse(q, Set.empty[Long]).intersect(g).size.toDouble / g.size
        }.sum / gold.size
      }
      assert(recall(si) >= 0.9, s"sampleFit probed recall ${recall(si)} < 0.9")

      // append consistency: the build-time codegen assignment and
      // appendSave's assignToLists share metric AND tie order, so a
      // re-keyed twin lands in its original's list exactly
      val dir = java.nio.file.Files.createTempDirectory("ivf_sfit").toString
      Similarity.ivfSave(si, dir)
      val twins = d.select(
        (org.apache.spark.sql.functions.col("vec_id") + 10000L).as("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      Similarity.appendSave(spark, dir, twins)
      val lists = spark.read.parquet(s"$dir/assigned")
        .select("vid", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      for (v <- 0L until 200L)
        assert(lists(v + 10000L) == lists(v), s"twin of $v re-landed elsewhere")
    } finally { mi.release(); si.release() }

    // IVF,PQ: codes depend only on the (sample-fit) books, so the
    // exhaustive ADC ranking is coarse-fit-invariant bit-for-bit
    val mp = Similarity.pqBuild(d, m = 4, nList = 4)
    val sp = Similarity.pqBuild(d, m = 4, nList = 4, sampleFit = true)
    try {
      def run(ix: Similarity.PqIndex) =
        Similarity.pqSearch(ix, qs, 5, nProbe = 4)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(run(sp) == run(mp))
    } finally { mp.release(); sp.release() }
  }

  test("PqDecode inverts PqEncode up to quantization: reconstruction error bounded by fit distortion") {
    import graft.functions.Pq
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val pts = Similarity.pqSamplePoints(all, 256)
    val dim = pts(0).length
    val books = Similarity.pqFitBooksLocal(pts, 8, 16, dim / 8)
    val flat = books.flatMap(_.flatMap(_.toSeq))
    val ks = books.map(_.length)
    val out = all.limit(50)
      .select(col("vec_id"),
        Pq.decode(Pq.encode(col("e"), flat, ks, dim / 8), flat, ks, dim / 8).as("cd"),
        col("e"),
        Pq.decodeBytes(Pq.pack(Pq.encode(col("e"), flat, ks, dim / 8)),
          flat, ks, dim / 8).as("cdb"))
      .collect()
    // the packed byte layout is a pure re-encoding: decode equality
    // must be bit-for-bit
    out.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](3),
        s"vec ${r.getLong(0)}: PqDecodeBytes(PqPack(x)) != PqDecode(x)")
    }
    out.foreach { r =>
      val e = r.getSeq[Double](2).toArray
      val n0 = math.sqrt(e.map(x => x * x).sum)
      val unit = e.map(_ / (if (n0 > 0) n0 else 1.0))
      val cd = r.getSeq[Double](1).toArray
      assert(cd.length == dim)
      val err = unit.zip(cd).map { case (a, b) => (a - b) * (a - b) }.sum
      // each subspace reconstructs to its NEAREST centroid, so the
      // per-vector error can't exceed a loose per-subspace ball; on
      // unit vectors total squared error staying below 1.0 means the
      // reconstruction points the right way (random would be ~2.0)
      assert(err < 1.0, s"vec ${r.getLong(0)}: reconstruction error $err")
    }
  }
}
