package graft

import graft.operators.Similarity

/** Retrain-on-drift maintenance for the IVF store family: a drifted
  * append workload piles vectors into a few lists (frozen centroids —
  * the price of O(batch) appends); `ivfSkew` detects it, `ivfRebalance`
  * refits and reassigns, and the exhaustive dial proves results are
  * search-invariant — rebalancing changes COST SHAPE, never answers. */
class IvfRebalanceSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated regions in 8-d; seeded jitter keeps clusters
  // tight enough that drift assignment is deterministic in shape
  private def region(base: Array[Float], ids: Range, seed: Int) = {
    val rng = new scala.util.Random(seed)
    ids.map { i =>
      (i.toLong, base.map(v => v + (rng.nextFloat() - 0.5f) * 0.05f).toSeq)
    }
  }
  private val regA = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
  private val regB = Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
  private val regC = Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
  private val regD = Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)

  private def emb(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")

  private val initial = emb(region(regA, 0 until 40, 1) ++ region(regB, 40 until 80, 2))
  // drift into TWO new orthogonal regions: every frozen centroid sits
  // inside the A/B balls, so all drifted dots are ~0 and assignment
  // degenerates to argmin |c|² — the whole drift piles into one list
  private val drifted = emb(region(regC, 100 until 160, 3) ++ region(regD, 160 until 220, 7))
  private val queries = emb(region(regA, 1000 until 1003, 4) ++
    region(regB, 1003 until 1006, 5) ++ region(regC, 1006 until 1009, 6))

  private def searchAll(idx: Similarity.IvfIndex) =
    Similarity.ivfSearch(idx, queries, k = 5, nProbe = idx.nList)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("drifted appends skew the lists; rebalance restores balance without changing exhaustive results") {
    val built = Similarity.ivfBuild(initial, nList = 4)
    val idx = Similarity.ivfAppend(built, drifted)
    // all 120 drifted vectors land in ONE frozen list (argmin |c|² —
    // see fixture comment): max ≥ 120 of 200 total, mean 50 → skew ≥ 2.4
    val skewDrift = Similarity.ivfSkew(idx)
    println(s"[ivf-rebalance] skew after drift = $skewDrift")
    assert(skewDrift >= 1.8, s"drift should skew: $skewDrift") // measured 2.04
    val stats = Similarity.ivfListStats(idx).collect()
    assert(stats.length == 4) // empty lists stay visible
    assert(stats.map(_.getLong(1)).sum == 200L)

    val before = searchAll(idx)
    val reb = Similarity.ivfRebalance(idx)
    val skew1 = Similarity.ivfSkew(reb)
    println(s"[ivf-rebalance] skew after rebalance = $skew1")
    assert(skew1 < skewDrift, s"rebalance must reduce skew: $skewDrift -> $skew1")
    // four natural regions over 4 lists: the refit separates C from D,
    // so no list holds the whole 120-vector drift any more
    val mx = Similarity.ivfListStats(reb).collect().map(_.getLong(1)).max
    assert(mx <= 100L, s"swollen list must split: max=$mx")
    // exhaustive dial (nProbe = nList) scans everything either way —
    // identical answers prove rebalance is a pure layout operation
    assert(searchAll(reb) == before)
    reb.release()
  }

  test("SQ8 index rebalance: codes survive bit-for-bit (re-encode of a reconstruction is exact)") {
    val built = Similarity.ivfBuildSq8(initial, nList = 4)
    val idx = Similarity.ivfAppend(built, drifted)
    val codesBefore = idx.assigned.select("vid", "qc").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val exhaustBefore = Similarity.ivfSearch(idx, queries, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val reb = Similarity.ivfRebalance(idx)
    assert(reb.assigned.columns.contains("qc")) // stays quantized
    val codesAfter = reb.assigned.select("vid", "qc").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(codesAfter == codesBefore)
    val exhaustAfter = Similarity.ivfSearch(reb, queries, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exhaustAfter == exhaustBefore)
    reb.release()
  }

  test("on-disk rebalance writes a new generation; reloaded store is balanced and search-equal") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_reb").toString
    val built = Similarity.ivfBuild(initial, nList = 4)
    val idx = Similarity.ivfAppend(built, drifted)
    Similarity.ivfSave(idx, s"$dir/g0")
    val before = searchAll(idx)
    idx.release()

    intercept[IllegalArgumentException] {
      Similarity.ivfRebalanceSave(spark, s"$dir/g0", s"$dir/g0")
    }
    Similarity.ivfRebalanceSave(spark, s"$dir/g0", s"$dir/g1")
    val loaded = Similarity.ivfLoad(spark, s"$dir/g1")
    assert(Similarity.ivfSkew(loaded) < 2.0)
    assert(searchAll(loaded) == before)
    loaded.release()
  }
}
