package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("stringNormalize: blank/NAN/NONE → null group") {
    val out = TextAnalysis.stringNormalize(docs(
      (1L, "t", " en "), (2L, "t", "NaN"), (3L, "t", ""), (4L, "t", "en")))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out(Some("EN")) == 2L)
    assert(out(None) == 2L)
  }

  test("qualityScore: ladder on stopword ratio and length") {
    val short = (1L, "tiny doc", "en")
    val low = (2L, ("the a of " * 10).trim, "en")          // 30 tokens, all stopwords
    val high = (3L, ("word stuff thing item " * 8).trim, "en") // 32 tokens, none
    val out = TextAnalysis.qualityScore(docs(short, low, high), 100L)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("quality")).toMap
    assert(out(1L) == "short" && out(2L) == "low" && out(3L) == "high")
  }

  test("langId: stopword argmax with unk on tie") {
    val out = TextAnalysis.langId(docs(
      (1L, "the cat and the dog of it", "en"),
      (2L, "de que para de que", "pt"),
      (3L, "nothing matching here", "zz")), 100L)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(out(1L) == "en" && out(2L) == "pt" && out(3L) == "unk")
  }

  test("fingerprint: whitespace-insensitive") {
    val out = TextAnalysis.fingerprint(docs(
      (1L, "Hello   World", "en"), (2L, "hello world", "en")), 100L)
      .collect().map(_.getString(1))
    assert(out(0) == out(1))
  }

  test("bpeTokenStats: letter/digit/punct runs with leading spaces") {
    // "ab3 x!" → lowercased: tokens: "ab", "3", " x", "!"
    val out = TextAnalysis.bpeTokenStats(docs((1L, "ab3 x!", "en")))
      .collect().head
    assert(out.getLong(2) == 4L)
  }

  test("winnowFingerprints: identical docs share fingerprints, sets deterministic") {
    val t = "the quick brown fox jumps over the lazy dog repeatedly"
    val out = TextAnalysis.winnowFingerprints(
      docs((1L, t, "en"), (2L, t, "en"), (3L, "completely different content here okay", "en")),
      100L, 8, 4).collect()
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(1L) == byId(2L))   // identical text → identical fingerprint profile
    assert(byId(1L) != byId(3L))
  }

  test("winnowPairs: identical docs pair on shared fingerprints, dissimilar don't") {
    val t = "the quick brown fox jumps over the lazy dog repeatedly"
    val out = TextAnalysis.winnowPairs(
      docs((1L, t, "en"), (2L, t, "en"), (3L, "completely different content here okay", "en")),
      100L, 8, 4, 0.8).use(_.collect())
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(3) == 1.0) // identical text → full containment
  }

  test("winnowPairs maxDocFreq: corpus-boilerplate fingerprints stop pairing docs") {
    // every doc shares one boilerplate sentence; only 1 and 2 are real dups
    val boiler = "standard header text present in every document of this corpus"
    val rows = Seq(
      (1L, boiler + " alpha beta gamma delta epsilon zeta", "en"),
      (2L, boiler + " alpha beta gamma delta epsilon zeta", "en")) ++
      (3L to 12L).map(i => (i, s"$boiler unique tail number $i word${i * 7} word${i * 13}", "en"))
    // uncapped: the boilerplate fingerprints put MANY unrelated docs over
    // the containment bar (they share most of their winnowed set)
    val uncapped = TextAnalysis.winnowPairs(docs(rows: _*), 100L, 8, 4, 0.8)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size > 1)
    // capped at df <= 2: boilerplate (present in all 12) drops out of the
    // index, only the genuine duplicate pair survives
    val capped = TextAnalysis.winnowPairs(docs(rows: _*), 100L, 8, 4, 0.8, maxDocFreq = 2)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"got $capped")
  }

  test("tokenStats: exact token sums per source") {
    val out = TextAnalysis.tokenStats(docs((1L, "a b c", "en"), (2L, "d e", "en")))
      .collect()
    assert(out.head.getLong(2) == 5L) // sum_tokens
    assert(out.head.getInt(3) == 2 && out.head.getInt(4) == 3)
  }

  test("tfidfTopK: linear-idf scores and ranking match hand evaluation") {
    // corpus of 4: 'join' in docs 1,2 (df=2); 'hash' only in doc 3 (df=1)
    val d = docs(
      (1L, "join join other words", "en"),
      (2L, "join alone here", "en"),
      (3L, "hash hash hash rare", "en"),
      (4L, "nothing relevant at all", "en"))
    val out = TextAnalysis.tfidfTopK(d, Seq("join", "hash"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // scores: d1 = 2*(4/2) = 4; d2 = 1*(4/2) = 2; d3 = 3*(4/1) = 12
    assert(out.toSeq == Seq((3L, 12.0), (1L, 4.0), (2L, 2.0)))
    // no persisted frames leak past the call in a long-lived session?
    // tfidfTopK persists its tf frame by design (released by the
    // Verify/Bench per-query cleanup) — just assert determinism here
    val again = TextAnalysis.tfidfTopK(d, Seq("join", "hash"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(again.toSeq == out.toSeq)
  }

  test("tokenZipf: ranks, exact ppm shares, cumulative closes at 1e6") {
    val d = docs((1L, "b b b a a c", "en"))
    val out = TextAnalysis.tokenZipf(d, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1, "b", 3L, 500000L, 500000L),
      (2, "a", 2L, 333333L, 833333L),
      (3, "c", 1L, 166666L, 1000000L)))
  }

  test("tokenDrift: hand-computed ppm deltas, ranked by absolute drift") {
    val old = docs((1L, "a a b", "en"))
    val nu = docs((2L, "a b b c", "en"))
    val out = TextAnalysis.tokenDrift(old, nu, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // totals: old 3, new 4; ppm = cnt*1e6 div total
    assert(out.toSeq == Seq(
      ("a", 2L, 1L, 666666L, 250000L, -416666L),
      ("c", 0L, 1L, 0L, 250000L, 250000L),
      ("b", 1L, 2L, 333333L, 500000L, 166667L)))
  }

  test("bpeMerges: classic low/lower trace, deterministic ties") {
    // types: low ×2, lower ×1 → pairs (l,o)=3 (o,w)=3 (w,</w>)=2
    // (w,e)=1 (e,r)=1 (r,</w>)=1; tie at 3 broken lexically: (l,o)
    val d = docs((1L, "low low lower", "en"))
    val out = TextAnalysis.bpeMerges(d, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0, "l", "o", "lo", 3L),
      (1, "lo", "w", "low", 3L),
      (2, "low", "</w>", "low</w>", 2L)))
    // merge budget past exhaustion stops cleanly: 3 more merges fold
    // "lower" (ties at count 1 resolve lexically: er, er</w>, lower</w>)
    val all = TextAnalysis.bpeMerges(d, 100).collect()
    assert(all.length == 6)
  }

  test("bpeApply: hand-traced encode under the low/lower merges; unseen words stay chars") {
    val train = docs((1L, "low low lower", "en"))
    val merges = TextAnalysis.bpeMerges(train, 3) // lo, low, low</w>
    // "low" -> [low</w>]; "lower" -> low + e r </w> (no er merge in top-3);
    // "lox" -> lo + x </w> (prefix merges apply, no (lo,x) rule);
    // "zz" unseen entirely -> z z </w>
    val out = TextAnalysis.bpeApply(
        docs((9L, "low lower lox zz", "en")), merges)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
    assert(out == Seq((9L, List(
      "low</w>",
      "low", "e", "r", "</w>",
      "lo", "x", "</w>",
      "z", "z", "</w>"))))
    // full budget folds the training corpus back to whole-word tokens
    val full = TextAnalysis.bpeApply(train, TextAnalysis.bpeMerges(train, 100))
      .collect().head.getSeq[String](1).toList
    assert(full == List("low</w>", "low</w>", "lower</w>"))
    // corpus subword usage: the induce-then-encode audit is deterministic
    val counts = TextAnalysis.bpeEncodeCounts(train, 3, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(counts == Seq(("low</w>", 2L), ("</w>", 1L), ("e", 1L),
      ("low", 1L), ("r", 1L)))
  }

  test("bm25TopK: fixed-point ppm scores match the hand computation") {
    // N=3 docs, A=9 tokens, dl=3 each; term 'a' df=2, term 'c' df=1.
    // per-term ppm = ((2N-2df+1)·22·tf·A · 1e6) div ((2df+1)·(10·A·tf + 3·A + 9·dl·N))
    //   doc1 'a' tf=2: (3·22·2·9·1e6) div (5·(180+27+81)) = 1188e6 div 1440 = 825000
    //   doc2 'a' tf=1: (3·22·1·9·1e6) div (5·198)          = 594e6  div 990  = 600000
    //   doc2 'c' tf=2: (5·22·2·9·1e6) div (3·288)          = 1980e6 div 864  = 2291666
    val d = docs(
      (1L, "a a b", "en"),
      (2L, "a c c", "en"),
      (3L, "d d d", "en"))
    val out = TextAnalysis.bm25TopK(d, Seq("a", "c"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 600000L + 2291666L), (1L, 825000L)))
  }

  test("lengthProfile: discrete rank quantiles, hand-computed") {
    // src0 lengths 1,2,3,4 → ranks ceil(1)=1, ceil(2)=2, ceil(3)=3,
    // ceil(3.6)=4 → p25=1 p50=2 p75=3 p90=4
    val d = docs(
      (1L, "a", "en"), (2L, "a b", "en"),
      (3L, "a b c", "en"), (4L, "a b c d", "en"))
    val r = TextAnalysis.lengthProfile(d).collect()
    assert(r.length == 1)
    val x = r(0)
    assert((x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
      x.getLong(4), x.getLong(5), x.getLong(6)) ==
      (("src0", 4L, 1L, 2L, 3L, 4L, 4L)))
  }

  test("lengthOutliers: median/MAD rule, hand-computed") {
    // lengths 1,2,3,4,100: median = rank ceil(2.5)=3 → 3;
    // devs 2,1,0,1,97 → sorted 0,1,1,2,97, MAD = rank 3 → 1;
    // outlier iff dev > 3·1: only the 100-token doc (dev 97)
    val d = docs(
      (1L, "a", "en"), (2L, "a b", "en"), (3L, "a b c", "en"),
      (4L, "a b c d", "en"),
      (5L, (1 to 100).map(i => s"w$i").mkString(" "), "en"))
    val r = TextAnalysis.lengthOutliers(d).collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getBoolean(5)))
    assert(r.toSeq == Seq(
      (1L, 1L, 3L, 1L, false), (2L, 2L, 3L, 1L, false),
      (3L, 3L, 3L, 1L, false), (4L, 4L, 3L, 1L, false),
      (5L, 100L, 3L, 1L, true)))
  }

  test("cardinalityAudit: HLL within bound of exact, deterministic") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = TextAnalysis.cardinalityAudit(d, rsd = 0.05).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.length == 20)                 // one row per source
    r.foreach { case (src, exact, hll, err) =>
      assert(exact > 0)
      assert(err <= 0.15, s"$src: HLL $hll vs exact $exact, err $err")
      assert(err == math.abs(hll - exact).toDouble / exact)
    }
    val again = TextAnalysis.cardinalityAudit(d, rsd = 0.05).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(again.toSeq == r.toSeq)
    // the split-out exact half (q139, hash-green) agrees with the
    // audit's exact column row-for-row
    val exact = TextAnalysis.vocabCardinality(d).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(exact.toSeq == r.map(x => (x._1, x._2)).toSeq)
  }

  test("lengthProfileSketch: GK rank guarantee vs exact sorted lists, deterministic") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val acc = 1000
    val sketch = TextAnalysis.lengthProfileSketch(d, acc).collect()
      .map(x => (x.getString(0), x.getLong(1),
        Seq(x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))))
    assert(sketch.length == 20)
    val exactBySrc = d
      .select(col("source"),
        size(split(lower(trim(col("text"))), " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    sketch.foreach { case (src, nDocs, ests) =>
      val xs = exactBySrc(src)
      assert(nDocs == xs.length)
      ps.zip(ests).foreach { case (p, est) =>
        // GK returns an actual data value whose rank is within n/acc
        // of the target rank (ranks of duplicates span a range)
        val lo = xs.indexOf(est) + 1
        val hi = xs.lastIndexOf(est) + 1
        assert(lo >= 1, s"$src p$p: est $est not a data value")
        val target = math.ceil(p * xs.length)
        val slack = xs.length.toDouble / acc + 1
        assert(target >= lo - slack && target <= hi + slack,
          s"$src p$p: est $est ranks [$lo,$hi], target $target, n ${xs.length}")
      }
    }
    val again = TextAnalysis.lengthProfileSketch(d, acc).collect()
      .map(x => (x.getString(0), x.getLong(1),
        Seq(x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))))
    assert(again.toSeq == sketch.toSeq)
  }

  test("hashEmbed: deterministic signed-hash vectors; identical text is cosine-1 top hit") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta", "s0"),
      (1L, "alpha beta gamma delta", "s0"), // planted exact twin of 0
      (2L, "totally different words entirely elsewhere", "s1"),
      (3L, "alpha beta unrelated stuff", "s0"),
      (4L, "", "s1")) // token-less: must drop out
      .toDF("doc_id", "text", "source")
    def vecs() = TextAnalysis.hashEmbed(docs, dim = 64).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toMap
    val v = vecs()
    assert(v.keySet == Set(0L, 1L, 2L, 3L)) // empty doc dropped
    assert(vecs() == v)                     // order-independent determinism
    assert(v(0L).length == 64)
    assert(v(0L) == v(1L))                  // same text → bit-equal vector
    assert(v(0L).map(math.abs(_)).sum <= 4.0f) // ≤ 4 tokens' worth of mass
    assert(v(0L) != v(2L))
    // the twin must be the cosine-1 rank-1 neighbor through the real
    // ANN tier (cosineTopK consumes the raw-count vectors directly)
    val top = graft.operators.Similarity
      .cosineTopK(TextAnalysis.hashEmbed(docs, dim = 64), 1, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(top.head == ((0L, 1, 1L)), s"twin not first: ${top.toSeq}")
  }
}
