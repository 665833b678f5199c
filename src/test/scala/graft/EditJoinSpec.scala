package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Edit-distance similarity join: the q-gram prefix blocking must have
  * EXACT recall (every pair within maxDist survives the filter), so
  * the result always equals brute-force pairwise levenshtein. */
class EditJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(strs: org.apache.spark.sql.DataFrame, d: Int) =
    strs.select(col("id").as("id_a"), col("s").as("s_a"))
      .crossJoin(strs.select(col("id").as("id_b"), col("s").as("s_b")))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .where(col("dist") <= d)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  private def fuzzy(strs: org.apache.spark.sql.DataFrame, d: Int, q: Int = 3) =
    Dedup.editDistancePairs(strs, d, q)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  private def seg(strs: org.apache.spark.sql.DataFrame, d: Int, minSeg: Int = 3) =
    Dedup.editDistancePairsSeg(strs, d, minSeg)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  test("planted typos: equals brute-force pairwise levenshtein") {
    val strs = Seq(
      1L -> "deduplication pipeline", 2L -> "deduplicaton pipeline", // 1 del
      3L -> "dedupliKation pipelines",                               // sub+ins
      4L -> "a completely different string",
      5L -> "spark native analytics engine",
      6L -> "spark native analytic engine",                          // 1 del
      7L -> "spark nativ analytycs engine",                          // del+sub
      8L -> "deduplication pipeline"                                 // exact dup
    ).toDF("id", "s")
    for (d <- Seq(0, 1, 2, 4)) {
      val b = brute(strs, d)
      assert(fuzzy(strs, d) == b, s"prefix mismatch at maxDist=$d")
      assert(seg(strs, d) == b, s"seg mismatch at maxDist=$d")
    }
  }

  test("short strings (below the gram bound) pair through the length band") {
    // len < q·(d+1) = 3·3 = 9 for d=2: the gram filter is vacuous and
    // even zero-gram-overlap pairs must be found
    val strs = Seq(1L -> "abc", 2L -> "xyz", 3L -> "abd", 4L -> "ab",
      5L -> "", 6L -> "a", 7L -> "abcdabcd", 8L -> "xyzxy").toDF("id", "s")
    for (d <- Seq(0, 1, 2, 3)) {
      val b = brute(strs, d)
      assert(fuzzy(strs, d) == b, s"prefix mismatch at maxDist=$d")
      assert(seg(strs, d) == b, s"seg mismatch at maxDist=$d")
    }
  }

  test("mixed long/short and duplicate-gram strings stay exact") {
    val strs = Seq(
      1L -> "aaaaaaaaaaaaaaaaaaaa",      // duplicate grams (multiset case)
      2L -> "aaaaaaaaaaaaaaaaaab",
      3L -> "aaaa",                      // short vs long: Δlen alone prunes
      4L -> "bbbbbbbbbbbbbbbbbbbb",
      5L -> "aaaaaaaaabaaaaaaaaaa"
    ).toDF("id", "s")
    for (d <- Seq(1, 2, 3)) {
      val b = brute(strs, d)
      assert(fuzzy(strs, d) == b, s"prefix mismatch at maxDist=$d")
      assert(seg(strs, d) == b, s"seg mismatch at maxDist=$d")
    }
  }

  test("document heads at sf0.001: blocked join equals brute force; nulls drop") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id AS id", "substring(text, 1, 32) AS s")
    val b = brute(docs, 4)
    assert(fuzzy(docs, 4) == b)
    assert(seg(docs, 4) == b)
    val withNull = docs.unionByName(Seq((99999L, null: String)).toDF("id", "s"))
    assert(fuzzy(withNull, 4) == brute(withNull.where($"s".isNotNull), 4))
    assert(seg(withNull, 4) == brute(withNull.where($"s".isNotNull), 4))
  }

  // ---- asymmetric (batch × store) probe --------------------------------

  private def bruteCross(batch: org.apache.spark.sql.DataFrame,
                         store: org.apache.spark.sql.DataFrame, d: Int) =
    store.select(col("id").as("store_id"), col("s").as("s_a"))
      .crossJoin(batch.select(col("id").as("batch_id"), col("s").as("s_b")))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .where(col("dist") <= d)
      .select("store_id", "batch_id", "dist")
      .orderBy("store_id", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  private def probe(batch: org.apache.spark.sql.DataFrame,
                    store: org.apache.spark.sql.DataFrame, d: Int) =
    Dedup.edStorePairs(batch, store, d)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  test("store probe: equals brute cross levenshtein in both length directions") {
    // batch keys both SHORTER and LONGER than their store partners — the
    // twoSided probe must cover lt above and below the batch length —
    // plus shorts below the band cut, an empty string, and dup grams
    val store = Seq(
      1L -> "deduplication pipeline", 2L -> "spark native analytics engine",
      3L -> "aaaaaaaaaaaaaaaaaaaa", 4L -> "abc", 5L -> "", 6L -> "abcdefghij"
    ).toDF("id", "s")
    val batch = Seq(
      101L -> "deduplicaton pipeline",        // shorter than store 1 (1 del)
      102L -> "spark native analytics enginee", // longer than store 2 (1 ins)
      103L -> "aaaaaaaaaaaaaaaaaabb",          // 2 subs vs store 3
      104L -> "abd", 105L -> "a", 106L -> "",  // short-band territory
      107L -> "abcdefghijkl",                  // 2 ins vs store 6
      108L -> "completely unrelated text here"
    ).toDF("id", "s")
    for (d <- Seq(0, 1, 2, 3, 4))
      assert(probe(batch, store, d) == bruteCross(batch, store, d),
        s"store-probe mismatch at maxDist=$d")
  }

  test("store probe on document heads: batch slice vs store slice, exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id AS id", "substring(text, 1, 32) AS s")
    val store = docs.where($"id" < 250)
    val batch = docs.where($"id" >= 250)
    assert(probe(batch, store, 4) == bruteCross(batch, store, 4))
  }

  test("fuzzyKeyGate: kept = no store match AND no smaller-id batch match") {
    val store = Seq(1L -> "deduplication pipeline").toDF("id", "s")
    val batch = Seq(
      10L -> "deduplicaton pipeline",  // store match → drop
      11L -> "fresh novel key",        // keep
      12L -> "fresh n0vel key",        // matches smaller-id 11 → drop
      13L -> "fresh n0veI kee",        // within d of 12 (dropped) but ALSO
                                       // of 11 via... check brute below
      14L -> "wholly distinct string"  // keep
    ).toDF("id", "s")
    val d = 2
    val kept = Dedup.fuzzyKeyGate(batch, store, d)
      .use(_.collect()).map(_.getLong(0)).toSeq
    // brute NOT-EXISTS semantics (the q170 oracle's shape)
    val bAll = batch.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val sAll = store.collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val want = bAll.filter { case (id, s) =>
      !sAll.exists(t => lev(t._2, s) <= d) &&
        !bAll.exists(a => a._1 < id && lev(a._2, s) <= d)
    }.map(_._1).toSeq
    assert(kept == want)
    assert(kept.contains(11L) && kept.contains(14L) && !kept.contains(10L))
  }
}
