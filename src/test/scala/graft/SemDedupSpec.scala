package graft

import graft.operators.Similarity

/** Recall/precision proof for SemDeDup (q85, rows-only — the KMeans
  * quantizer has no DuckDB oracle): cluster-scoped pairs are verified
  * with the exact cosine threshold, so precision is 1.0 by
  * construction; recall against the exact all-pairs baseline
  * (cosineNearDupPairs — q46's oracle-checked form) is pinned here on
  * the driver testdata, where the embeddings are planted clusters. */
class SemDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("semDedupPairs: precision 1.0, recall >= 0.8 vs exact all-pairs") {
    val exact = Similarity.cosineNearDupPairs(emb, Long.MaxValue, 0.4)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata must contain cosine near-dup pairs")
    val got = Similarity.semDedupPairs(emb, 8, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair passed the exact cosine check inside a cluster
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(5)}")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.8,
      s"recall $recall < 0.8 (${got.size} found, ${exact.size} exact)")
  }

  test("semDedupPairsPQ: product-key blocking keeps precision 1.0, recall >= 0.8") {
    val exact = Similarity.cosineNearDupPairs(emb, Long.MaxValue, 0.4)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    // sizing per the N/targetClusterRows guidance: 500 vectors → ~8
    // effective cells → kPerHalf 3 (blocking finer than the guidance
    // sheds boundary pairs — kPerHalf=8 here measured recall 0.65)
    val got = Similarity.semDedupPairsPQ(emb, 0.4, kPerHalf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(5)}")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.8,
      s"recall $recall < 0.8 (${got.size} found, ${exact.size} exact)")
  }

  test("semDedupPairs leaves no new persisted RDDs behind") {
    // SparkSpec tracks the suite's persists; none may outlive the call
    Similarity.semDedupPairs(emb, 8, 0.4).count()
    val leaked = newPersists.keySet
    assert(leaked.isEmpty, s"semDedupPairs leaked persisted RDDs: $leaked")
  }
}
