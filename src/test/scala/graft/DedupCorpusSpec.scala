package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Drop-set pin for the end-to-end `dedupCorpus` artifact (q95,
  * rows-only — its MinHash-LSH candidate stage has no DuckDB oracle):
  * on the q93 slice (doc_id < 500 at sf0.01, threshold 0.5) it must
  * agree with the EXACT-edge closure that q93's hash-checked query
  * builds (ngramJaccardPairs → connected components). Two pins:
  *
  *  1. Policy-matched drop set: dedupCorpus vs the exact-edge closure
  *     under the SAME min-id policy — isolates the only approximation
  *     in the path, banded-MinHash candidate recall (≥ 0.9 at the pair
  *     level, DedupRecallSpec; component-level agreement is higher
  *     still because a doc is dropped via ANY surviving edge).
  *  2. Policy-independent cluster membership vs q93 itself: which docs
  *     sit in some dup cluster doesn't depend on the canonical choice
  *     (q93 keeps the longest member, dedupCorpus the min id — on a
  *     2-doc cluster those are different docs about half the time, so
  *     raw drop-set Jaccard across POLICIES is ~0.4 by construction
  *     and pins nothing; membership is the comparable surface). */
class DedupCorpusSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .where(col("doc_id") < 500)

  test("dedupCorpus drop-set agrees >= 0.95 with the exact-edge min-id closure") {
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.dedupCorpus(docs, 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    val dropApprox = all.diff(kept)
    val dropExact = Dedup.ngramJaccardPairs(docs, 500L, 0.5)
      .flatMap(exactEdges => Dedup.nearDupComponents(docs, exactEdges.select("a", "b"), 500L))
      .use(_.where(col("doc_id") =!= col("component"))
        .select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(dropExact.nonEmpty, "slice must contain near-dup components")
    val agree = dropApprox.intersect(dropExact).size.toDouble /
      dropApprox.union(dropExact).size
    info(s"drops approx=${dropApprox.size} exact=${dropExact.size} jaccard=$agree")
    assert(agree >= 0.95,
      s"drop-set agreement $agree < 0.95 (approx ${dropApprox.size}, exact ${dropExact.size})")
  }

  test("dedupCorpus dup-cluster membership agrees >= 0.95 with q93's") {
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.dedupCorpus(docs, 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    // a doc is "in a dup cluster" iff its cluster dropped someone: the
    // drops plus each drop's surviving canonical
    val q93 = Dedup.dedupKeepBest(docs, 500L, 0.5)
      .use(_.select("doc_id", "component", "keep").collect())
    val q93DupComponents = q93.filter(r => !r.getBoolean(2)).map(_.getLong(1)).toSet
    val q93Members = q93.filter(r => q93DupComponents(r.getLong(1))).map(_.getLong(0)).toSet
    val approxDrops = all.diff(kept)
    val approxMembers = {
      val edges = Dedup.minhashPairs(docs, 0.5)
        .use(_.collect()).map(r => (r.getLong(0), r.getLong(1)))
      approxDrops ++ edges.flatMap(e => Seq(e._1, e._2)).toSet.filter(v =>
        approxDrops.contains(v) || edges.exists(e =>
          (e._1 == v && approxDrops.contains(e._2)) || (e._2 == v && approxDrops.contains(e._1))))
    }
    val agree = approxMembers.intersect(q93Members).size.toDouble /
      approxMembers.union(q93Members).size
    info(s"members approx=${approxMembers.size} q93=${q93Members.size} jaccard=$agree")
    assert(agree >= 0.95,
      s"cluster-membership agreement $agree < 0.95")
  }

  test("dedupCorpus keeps every singleton and exactly one doc per dup cluster") {
    val kept = Dedup.dedupCorpus(docs, 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).toSet
    val edges = Dedup.ngramJaccardPairs(docs, 500L, 0.5)
      .use(_.select("a", "b").collect()).map(r => (r.getLong(0), r.getLong(1)))
    val inAnyPair = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // singletons (no exact near-dup edge) must all survive
    assert(all.diff(inAnyPair).subsetOf(kept))
  }
}
