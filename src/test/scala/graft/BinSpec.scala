package graft

import graft.operators.Similarity
import graft.streaming.IngestVectors

/** The 1-bit sign-quantization rung: codec exactness against a driver
  * reimplementation, Hamming ordering, the Binary,RefineFlat composite
  * recovering the exact float ranking at a corpus-covering pool (the
  * q158 green dial), store round-trip, and the ingest dispatch. */
class BinSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

  private def signPack(e: Seq[Float]): Seq[Byte] = {
    val out = new Array[Byte]((e.length + 7) / 8)
    for (i <- e.indices if e(i).toDouble > 0.0)
      out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
    out.toSeq
  }
  private def hamming(a: Seq[Byte], b: Seq[Byte]): Int =
    a.zip(b).map { case (x, y) => Integer.bitCount((x ^ y) & 0xff) }.sum

  test("BinEncode matches a driver sign-pack; BinHamming matches XOR popcount") {
    val rng = new scala.util.Random(5)
    val rows = (0L until 40L).map(i => (i, Seq.fill(19)(rng.nextFloat() - 0.5f)))
    val d = emb(rows: _*)
    val got = d.select($"vec_id",
        graft.functions.Bin.encode(org.apache.spark.sql.functions.expr(
          "CAST(embedding AS ARRAY<DOUBLE>)")).as("bc"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    for ((i, e) <- rows) {
      assert(got(i) == signPack(e), s"code mismatch at $i")
      assert(got(i).length == 3) // 19 dims -> 3 bytes (padding zeros)
    }
    // distributed Hamming == driver Hamming on every pair of a sample
    val pairs = d.as("a").crossJoin(d.as("b"))
      .where($"a.vec_id" < $"b.vec_id" && $"b.vec_id" < 10)
      .select($"a.vec_id", $"b.vec_id",
        graft.functions.Bin.hamming(
          graft.functions.Bin.encode(org.apache.spark.sql.functions.expr(
            "CAST(a.embedding AS ARRAY<DOUBLE>)")),
          graft.functions.Bin.encode(org.apache.spark.sql.functions.expr(
            "CAST(b.embedding AS ARRAY<DOUBLE>)"))).as("ham"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    val byId = rows.toMap
    for ((a, b, h) <- pairs)
      assert(h == hamming(signPack(byId(a)), signPack(byId(b))),
        s"hamming($a,$b)")
  }

  test("binSearch: exact duplicate is Hamming-0 and ranks first; refine pool covering the corpus equals brute cosine") {
    val rng = new scala.util.Random(7)
    val rows = (5L until 105L).map(i => (i, Seq.fill(64)(rng.nextFloat() - 0.5f)))
    // queries 0..4 duplicate corpus vectors 50..54 exactly
    val qs = (0L until 5L).map(i => (i, rows.find(_._1 == 50L + i).get._2))
    val d = emb((qs ++ rows): _*)
    val idx = Similarity.binBuild(d.where($"vec_id" >= 5))
    try {
      val top = Similarity.binSearch(idx, d.where($"vec_id" < 5), 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      for (q <- 0L until 5L)
        assert(top.find(t => t._1 == q && t._2 == 1).get._3 == 50L + q,
          s"duplicate of $q not Hamming-first")
    } finally idx.release()

    // the q158 dial: Binary,RefineFlat with a pool >= corpus is the
    // exact brute-force cosine ranking, bit-for-bit
    val brute = Similarity.cosineTopK(d, 5, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val refined = Similarity.binTopK(d, 5, 10, refine = 11)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(refined == brute)
    // and the raw Hamming ranking is deterministic run-to-run
    val h1 = Similarity.binTopK(d, 5, 10).collect().toSeq
    val h2 = Similarity.binTopK(d, 5, 10).collect().toSeq
    assert(h1 == h2)
  }

  test("knnJoinBin: exhaustive dial equals the float brute join; probed recall holds on planted clusters") {
    val rng = new scala.util.Random(23)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.toSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val d = emb(rows: _*)
    // exhaustive dial: every list probed + corpus-covering pool ⇒ the
    // float refine ranks everything — bit-equal to the float brute join
    val fullRows = Similarity.knnJoin(d, 5, scanFrac = Some(1.0),
        codec = Similarity.ListCodec.Bin, refine = 41)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    val bruteRows = Similarity.knnJoin(d, 5, targetClusterRows = 25, scanFrac = Some(1.0))
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    assert(fullRows == bruteRows)
    // probed mode: Hamming pool + refine holds recall on the clusters
    val gold = bruteRows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val byQ = Similarity.knnJoin(d, 5, nProbe = 2, targetClusterRows = 25,
        codec = Similarity.ListCodec.Bin)
      .use(_.collect().map(r => (r.getLong(0), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = gold.map { case (q, g) =>
      byQ.getOrElse(q, Set.empty[Long]).intersect(g).size.toDouble / g.size
    }.sum / gold.size
    assert(recall >= 0.85, s"binary refined recall@5 $recall < 0.85")
    // deterministic run-to-run
    val a2 = Similarity.knnJoin(d, 5, nProbe = 2, targetClusterRows = 25,
        codec = Similarity.ListCodec.Bin)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    val a1 = Similarity.knnJoin(d, 5, nProbe = 2, targetClusterRows = 25,
        codec = Similarity.ListCodec.Bin)
      .use(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    assert(a1 == a2)
  }

  test("binary IVF store: save/load/append round-trip, searchBatch dispatch, rebalance rejected") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("binivf").toString
    val idx = Similarity.ivfBuild(all.where($"vec_id" >= 20 && $"vec_id" < 400), 4,
      codec = Similarity.ListCodec.Bin)
    val qs = all.where($"vec_id" < 5)
    try {
      val before = Similarity.ivfSearch(idx, qs, 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.ivfSave(idx, dir)
      val loaded = Similarity.ivfLoad(spark, dir)
      try {
        val after = Similarity.ivfSearch(loaded, qs, 5, nProbe = 4)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
        // sign codes are not reconstructible: rebalance must refuse
        val err = intercept[IllegalArgumentException] {
          Similarity.ivfRebalance(Similarity.ivfLoad(spark, dir))
        }
        assert(err.getMessage.contains("not reconstructible"))
      } finally loaded.release()
    } finally idx.release()
    // frozen-centroid append re-encodes the batch; twin is searchable
    // through the layout dispatch (assigned/ + bc)
    val twins = all.where($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    assert(IngestVectors.processBatch(twins, dir) == 5)
    val got = IngestVectors.searchBatch(all.where($"vec_id" === 22), dir, 2,
      nProbe = 4).use(_.collect().map(r => (r.getInt(1), r.getLong(2))).toSeq)
    assert(got.head == ((1, 22L)) && got.map(_._2).contains(10022L),
      s"twin not found through the binary IVF tier: $got")
  }

  test("binSave/binLoad/binAppendSave: reload parity, O(batch) append, ingest dispatch") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("bin_store").toString
    val idx = Similarity.binBuild(all.where($"vec_id" >= 20 && $"vec_id" < 400))
    val qs = all.where($"vec_id" < 5)
    try {
      val before = Similarity.binSearch(idx, qs, 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      Similarity.binSave(idx, dir)
      val loaded = Similarity.binLoad(spark, dir)
      try {
        val after = Similarity.binSearch(loaded, qs, 5)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == before)
      } finally loaded.release()
    } finally idx.release()

    // ingest dispatch: bincodes/ layout appends and searches
    val batch = all.where($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val base = spark.read.parquet(s"$dir/bincodes").count()
    assert(IngestVectors.processBatch(batch, dir) == 5)
    assert(spark.read.parquet(s"$dir/bincodes").count() == base + 5)
    // the appended exact twin is Hamming-0: it appears in its
    // original's top-2 (twin vs original tie broken by vid asc)
    val got = IngestVectors.searchBatch(all.where($"vec_id" === 22), dir, 2)
      .use(_.collect().map(r => (r.getInt(1), r.getLong(2))).toSeq)
    assert(got.head == ((1, 22L)) && got.map(_._2).contains(10022L),
      s"twin not found through the binary tier: $got")
  }
}
