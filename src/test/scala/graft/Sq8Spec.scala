package graft

import org.apache.spark.sql.functions.col
import graft.functions.Sq8
import graft.operators.Similarity

/** Int8 scalar quantization (functions/Sq8Expressions.scala): codec
  * exactness against a hand computation, approximation error of the
  * quantized dot product on real testdata embeddings, recall of the
  * quantized brute/IVF search paths vs their float baselines, and the
  * SQ8 index save/load round trip. */
class Sq8Spec extends SparkSpec {
  import spark.implicits._

  private val testEmb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("sq8 codec: scale header + codes match the hand computation") {
    val v = Seq(1.0, -0.5, 0.25, 0.0)
    val out = Seq(Tuple1(v)).toDF("e")
      .select(Sq8.encode(col("e")).as("c"))
      .select(col("c"), Sq8.dot(col("c"), col("c")).as("d"))
      .head()
    val code = out.getAs[Array[Byte]]("c")
    assert(code.length == 8 + 4)
    // scale = maxAbs/127 = 1/127, big-endian double header
    val bits = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (code(i) & 0xffL))
    val scale = java.lang.Double.longBitsToDouble(bits)
    assert(scale == 1.0 / 127.0)
    // codes = round(v/scale) = [127, -64 (round(-63.5) = -63? Math.round
    // is floor(x+0.5) -> -63), 32, 0]
    val expCodes = v.map(x => Math.round(x / scale).toByte)
    assert(code.drop(8).toSeq == expCodes)
    val expDot = scale * scale * expCodes.map(c => c.toInt * c.toInt).sum
    assert(out.getDouble(1) == expDot)
  }

  test("sq8 dot approximates the exact dot within 2% on testdata") {
    val base = testEmb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("qc", Sq8.encode(col("e")))
    val a = base.select(col("vec_id").as("a"), col("e").as("ea"), col("qc").as("ca"))
    val b = base.select(col("vec_id").as("b"), col("e").as("eb"), col("qc").as("cb"))
    val errs = a.join(b, col("a") + 1 === col("b")) // 499 adjacent pairs
      .select(graft.functions.DotProduct(col("ea"), col("eb")).as("exact"),
        Sq8.dot(col("ca"), col("cb")).as("approx"))
      .collect()
    assert(errs.length > 100)
    // relative error vs the norm product scale of the operands, not the
    // (possibly near-zero) exact dot itself
    val relErrs = errs.map { r =>
      math.abs(r.getDouble(1) - r.getDouble(0)) / math.max(math.abs(r.getDouble(0)), 1.0)
    }
    assert(relErrs.max < 0.02, s"worst sq8 dot error ${relErrs.max}")
  }

  test("sq8TopK recall@10 >= 0.9 vs float cosineTopK on testdata") {
    val gold = Similarity.cosineTopK(testEmb, 20, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq = Similarity.sq8TopK(testEmb, 20, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (gold & sq).size.toDouble / gold.size
    info(s"sq8 brute recall@10 = $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivfBuildSq8/ivfSearchSq8: planted duplicate found; save/load round-trips") {
    val rng = new scala.util.Random(17)
    def rv() = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val q0 = rv()
    val all = (Seq((0L, q0)) ++ (10L to 80L).map(i => (i, rv())) :+ ((90L, q0)))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    val index = Similarity.ivfBuild(all.where($"vec_id" >= 1), nList = 4,
      codec = Similarity.ListCodec.Sq8)
    try {
      val hits = Similarity.ivfSearch(index, all.where($"vec_id" < 1), 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // an exact duplicate quantizes to the identical code -> cos 1.0
      assert(hits.head == ((0L, 1, 90L)))
      val dir = java.nio.file.Files.createTempDirectory("sq8_ivf").toString
      Similarity.ivfSave(index, dir)
      val loaded = Similarity.ivfLoad(spark, dir)
      try {
        val after = Similarity.ivfSearch(loaded, all.where($"vec_id" < 1), 3, nProbe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        assert(after == hits)
      } finally loaded.release()
    } finally index.release()
  }

  test("ivfSearchSq8 recall matches float ivfSearch on testdata") {
    val queries = testEmb.where($"vec_id" < 20)
    val corpus = testEmb.where($"vec_id" >= 20)
    val fl = Similarity.ivfBuild(corpus, nList = 8)
    val sq = Similarity.ivfBuild(corpus, nList = 8, codec = Similarity.ListCodec.Sq8)
    try {
      val gold = Similarity.ivfSearch(fl, queries, 10, nProbe = 3).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val quant = Similarity.ivfSearch(sq, queries, 10, nProbe = 3).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val agree = (gold & quant).size.toDouble / gold.size
      info(s"sq8 IVF agreement@10 = $agree")
      assert(agree >= 0.9, s"agreement $agree")
    } finally { fl.release(); sq.release() }
  }

  test("ivfAppend on an SQ8 index re-encodes the batch to int8 codes") {
    val corpus = testEmb.where($"vec_id" >= 20 && $"vec_id" < 400)
    val dir = java.nio.file.Files.createTempDirectory("sq8_append").toString
    val idx = Similarity.ivfBuild(corpus, nList = 4, codec = Similarity.ListCodec.Sq8)
    try Similarity.ivfSave(idx, dir) finally idx.release()
    val dup = testEmb.where($"vec_id" >= 20 && $"vec_id" < 23)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    Similarity.appendSave(spark, dir, dup)
    val idx2 = Similarity.ivfLoad(spark, dir)
    try {
      assert(idx2.assigned.columns.contains("qc"), "append must keep the code column")
      // identical vector -> identical code -> cos exactly 1.0 with its twin
      val hits = Similarity.ivfSearch(idx2, testEmb.where($"vec_id" === 20), 3, 4)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(hits.head == ((1, 20L)) && hits.map(_._2).contains(10020L), s"$hits")
    } finally idx2.release()
  }

  test("ivfSearchSq8Refine repairs quantization rank error to float parity") {
    val queries = testEmb.where($"vec_id" < 20)
    val corpus = testEmb.where($"vec_id" >= 20)
    val fl = Similarity.ivfBuild(corpus, nList = 8)
    val sq = Similarity.ivfBuild(corpus, nList = 8, codec = Similarity.ListCodec.Sq8)
    try {
      // same probe lists (float centroids in both indexes), so refine's
      // float re-rank of the sq8 top-40 must reproduce the float IVF
      // top-10 exactly — ranks included
      val gold = Similarity.ivfSearch(fl, queries, 10, nProbe = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val refined = Similarity
        .ivfSearchSq8Refine(sq, corpus, queries, 10, nProbe = 3, refine = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(refined == gold)
    } finally { fl.release(); sq.release() }
  }

  test("sq8 dot error respects the analytic quantization bound on random vectors") {
    // per-component code error ≤ scale/2, so for x̂ = qx·sx, ŷ = qy·sy:
    // |x̂·ŷ − x·y| ≤ Σ(|x_i|·sy/2 + |y_i|·sx/2 + sx·sy/4) — a worst-case
    // bound the codec must satisfy for EVERY pair, not on average (the
    // 2% testdata check above is distributional; this is the contract)
    val rng = new scala.util.Random(9)
    val dim = 32
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(dim)(rng.nextDouble() * 4 - 2)))
    val df = vecs.toDF("vec_id", "e")
    val paired = df.as("a").crossJoin(df.as("b"))
      .where(col("a.vec_id") < col("b.vec_id") &&
        (col("a.vec_id") + col("b.vec_id")) % 37 === 0) // bounded sample of pairs
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Sq8.dot(Sq8.encode(col("a.e")), Sq8.encode(col("b.e"))).as("qdot"))
      .collect()
    assert(paired.length > 100)
    val byId = vecs.toMap
    paired.foreach { r =>
      val (x, y) = (byId(r.getLong(0)), byId(r.getLong(1)))
      val exact = x.zip(y).map { case (a, b) => a * b }.sum
      val sx = x.map(math.abs).max / 127.0
      val sy = y.map(math.abs).max / 127.0
      val bound = x.map(math.abs).sum * sy / 2 +
        y.map(math.abs).sum * sx / 2 + dim * sx * sy / 4
      assert(math.abs(r.getDouble(2) - exact) <= bound + 1e-9,
        s"pair (${r.getLong(0)},${r.getLong(1)}): |${r.getDouble(2)} - $exact| > $bound")
    }
  }
}
