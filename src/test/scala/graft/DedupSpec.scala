package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("dedupKeepBest: longest component member is canonical, not min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      1L -> base,                       // near-dup of 2, SHORTER
      2L -> (base + " iota kappa"),     // longest in the component -> canonical
      3L -> "totally different words here that overlap with nothing at all")
    val out = Dedup.dedupKeepBest(d, 500L, 0.5).use(_.collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    // component id stays min-label (1); canonical is the LONGEST member (2)
    assert(out(1L) == ((1L, 2L, false)))
    assert(out(2L) == ((1L, 2L, true)))
    assert(out(3L) == ((3L, 3L, true))) // singleton keeps itself
  }

  test("firstWins: lowest order key survives per key") {
    val ev = Seq((5L, 1L, "a", 1.0), (2L, 1L, "a", 2.0), (7L, 1L, "b", 3.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val out = Dedup.firstWins(ev).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(("a", 2L), ("b", 7L)))
  }

  test("urlKeyMerge: url variants collapse, categories config-order-first") {
    val rows = Seq(
      ("https://H.com/a/", "agro", "Agro", 3, ""),
      ("https://h.com/a?utm=1", "clima", "Clima", 2, "Title A"),
      ("http://h.com/a", "clima", "Clima", 1, "Other key (http)"),
      ("https://h.com/b", "mercado", "Mercado", 5, "B"))
      .toDF("url", "category_slug", "category_label", "rank", "title")
    val out = Dedup.urlKeyMerge(rows, Seq("mercado", "clima")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("https://h.com/a", "http://h.com/a", "https://h.com/b"))
    val a = out("https://h.com/a")
    assert(a.getAs[Int]("min_rank") == 2)
    // clima is in the configured order (prio 1), agro is an extra (prio 2)
    assert(a.getAs[String]("slugs") == "clima,agro")
    assert(a.getAs[String]("labels") == "Clima,Agro")
    assert(a.getAs[String]("primary_slug") == "clima")
    assert(a.getAs[String]("title") == "Title A") // first non-empty by priority
    assert(out("https://h.com/b").getAs[String]("primary_slug") == "mercado")
  }

  test("softDedupWeights: every doc kept, weight 1/n per duplicate group") {
    val out = Dedup.softDedupWeights(docs(
      (1L, "same text here"), (5L, "same text here"), (3L, "other"),
      (7L, "same text here"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(1L, 3L, 5L, 7L))          // nothing dropped
    assert(out(1L) == ((3L, 1.0 / 3, true)))
    assert(out(5L) == ((3L, 1.0 / 3, true)))
    assert(out(7L) == ((3L, 1.0 / 3, true)))
    assert(out(3L) == ((1L, 1.0, false)))              // unique keeps full weight
    // corpus-level mass of each distinct text sums to 1.0
    assert(math.abs(out.values.map(_._2).sum - 2.0) < 1e-12)
  }

  test("exactDedup: identical texts collapse to min id") {
    val out = Dedup.exactDedup(docs(
      (1L, "same text here"), (5L, "same text here"), (3L, "other"))).collect()
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keep_id = min
  }

  test("ngramJaccardPairs: identical docs have jaccard 1.0") {
    val t = "a b c d e f g h i j"
    val out = Dedup.ngramJaccardPairs(docs((1L, t), (2L, t), (3L, "x y z q w e r t y u")),
      100L, 0.5).use(_.collect())
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(3) == 1.0)
  }

  test("minhashPairs: finds identical docs, skips dissimilar") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words compose this second document body text"
    val out = Dedup.minhashPairs(docs((1L, t), (2L, t), (3L, other)), 0.5).use(_.collect())
    assert(out.map(r => (r.getLong(1), r.getLong(0))).toSet == Set((1L, 2L)) ||
           out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getDouble(2) == 1.0)
  }

  test("simhash: identical texts get identical hashes, different differ") {
    val out = Dedup.simhash(docs(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww vv uu")), 100L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("nearDupComponents: chains collapse transitively, singletons self-label") {
    import spark.implicits._
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))
    // chain 1-2-3 (no direct 1-3 edge), pair 5-6, singleton 4
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.nearDupComponents(d, edges, 100L).use(_.collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("dedupCorpus: one survivor per near-dup cluster, distinct docs kept") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different words compose this second document body text"
    val out = Dedup.dedupCorpus(
      docs((5L, t1), (2L, t1), (9L, t1), (3L, t2)), 0.5).use(_.collect())
      .map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(2L, 3L)) // min id of the dup cluster + the distinct doc
  }

  test("nearDupComponents: no edges -> every doc its own component") {
    import spark.implicits._
    val d = docs((1L, "a"), (2L, "b"))
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = Dedup.nearDupComponents(d, edges, 100L).use(_.collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L))
  }

  test("simhashPairs: identical docs pair at hamming 0, dissimilar don't") {
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val out = Dedup.simhashPairs(docs(
      (1L, t), (2L, t), (3L, "totally different words all over here now")), 100L, 3)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 0)))
  }

  test("exactSubstrSpans: cross-doc 5-gram runs merge into maximal spans") {
    // docs 1 and 2 share the verbatim 8-token run "one two three four
    // five six seven eight" at different offsets; doc 3 is disjoint.
    val shared = "one two three four five six seven eight"
    val d = docs(
      1L -> (shared + " unique tail words here"),
      2L -> ("prefix words go first " + shared),
      3L -> "nothing here repeats anywhere else in the corpus at all today")
    val out = Dedup.exactSubstrSpans(d, 5).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // 8-token run = 4 overlapping 5-gram starts, merged into ONE span:
    // doc 1 at tokens [0,8), doc 2 at [4,12); doc 3 emits nothing
    assert(out.toSeq == Seq((1L, 0, 8, 4), (2L, 4, 8, 4)))
  }

  test("exactSubstrSpans: disjoint duplicated runs stay separate spans") {
    val runA = "alpha beta gamma delta epsilon"
    val runB = "zeta eta theta iota kappa"
    val d = docs(
      1L -> (runA + " filler middle words " + runB), // two disjoint 5-gram hits
      2L -> (runA + " some different interior then " + runB))
    val out = Dedup.exactSubstrSpans(d, 5).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 1: runA at [0,5), runB at [8,13); doc 2: runA at [0,5), runB at [9,14)
    assert(out.toSeq == Seq((1L, 0, 5), (1L, 8, 5), (2L, 0, 5), (2L, 9, 5)))
  }

  test("exactSubstrSpans: whole-doc exact dup covers the full document") {
    val t = "repeat me fully across both documents with many tokens inside"
    val n = t.split(" ").length
    val out = Dedup.exactSubstrSpans(docs(1L -> t, 2L -> t), 5).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 0, n), (2L, 0, n)))
  }

  test("exactSubstrCut: spans removed, unique docs pass through verbatim") {
    val shared = "one two three four five six seven eight"
    val d = docs(
      1L -> (shared + " unique tail words here"),
      2L -> ("prefix words go first " + shared),
      3L -> "nothing here repeats anywhere else in the corpus at all today")
    val out = Dedup.exactSubstrCut(d, 5).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 12, 8, "unique tail words here"),
      (2L, 12, 8, "prefix words go first"),
      (3L, 11, 0, "nothing here repeats anywhere else in the corpus at all today")))
  }

  test("exactSubstrCut: fully-duplicated doc cuts to empty text") {
    val t = "repeat me fully across both documents with many tokens inside"
    val out = Dedup.exactSubstrCut(docs(1L -> t, 2L -> t), 5).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3))).toSeq
    assert(out == Seq((1L, 10, ""), (2L, 10, "")))
  }

  test("heavyHitterGrams: exact top-N by count, ties lexical, with doc freq") {
    val d = docs(
      1L -> "a b c d e x1 y1 z1 w1 v1",
      2L -> "a b c d e x2 y2 z2 w2 v2",
      3L -> "a b c d e x3 y3 z3 w3 v3")
    val out = Dedup.heavyHitterGrams(d, 5, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("a b c d e", 3L, 3L),       // the shared prefix, 3 occurrences / 3 docs
      ("b c d e x1", 1L, 1L)))     // lexically first among the count-1 tail
  }

  test("heavyHittersSketch: exact counts below maxTracked, matches q104's head") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // distinct 5-grams here sit below maxTracked, so the frequent-items
    // counts are exact — top items and counts must match the exact form
    // wherever the count ladder is strict (ties order differently: the
    // sketch has no lexical tiebreak guarantee inside a count plateau)
    val exact = Dedup.heavyHitterGrams(d, 5, 1000000).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sk = Dedup.heavyHittersSketch(d, 5, 25, maxTracked = 1000000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sk.length == 25)
    sk.foreach { case (sh, est) =>
      assert(est == exact(sh), s"'$sh': sketch $est vs exact ${exact(sh)}") }
    // the reported count multiset equals the exact top-25's
    val exactTop = exact.values.toSeq.sorted.reverse.take(25)
    assert(sk.map(_._2).sorted.reverse.toSeq == exactTop)
    val again = Dedup.heavyHittersSketch(d, 5, 25, maxTracked = 1000000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq == sk.toSeq)
    // the measured Spark 4.1 footgun this operator documents: past
    // maxItemsTracked the sketch yields an EMPTY array, silently —
    // size maxTracked from the cardinality audit, or use CMS
    assert(Dedup.heavyHittersSketch(d, 5, 5, maxTracked = 10).count() == 0)
  }

  test("cmsHeavyHitters: never undercounts, deterministic on testdata") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.heavyHitterGrams(d, 5, 1000000).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cms = Dedup.cmsHeavyHitters(d, 5, 25).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(cms.length == 25)
    // CMS invariant: estimate >= true count for every reported gram
    cms.foreach { case (sh, est) =>
      assert(est >= exact(sh), s"undercount for '$sh': $est < ${exact(sh)}") }
    // deterministic re-run
    val againRows = Dedup.cmsHeavyHitters(d, 5, 25).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(againRows.toSeq == cms.toSeq)
    // NOTE: no top-N set agreement on this corpus — its gram counts are
    // a flat tie plateau (max true count 4) BELOW the sketch's collision
    // noise floor (~total_grams/width ≈ 3), where CMS top-N is
    // undefined by design. The planted test below pins recovery when
    // hitters stand above the floor, which is the regime CMS targets.
  }

  test("cmsHeavyHitters: recovers planted boilerplate above the noise floor") {
    // 60 docs share a 6-word boilerplate sentence (two 5-grams, count
    // 60 each); all other grams are unique. 60 >> noise floor.
    val rows = (1L to 100L).map { i =>
      val filler = (0 until 12).map(j => s"u${i}w$j").mkString(" ")
      val text = if (i <= 60) s"please subscribe to our newsletter today $filler"
                 else filler
      (i, text)
    }
    val d = docs(rows: _*)
    val cms = Dedup.cmsHeavyHitters(d, 5, 2, sampleMod = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(cms.map(_._1).toSet == Set(
      "please subscribe to our newsletter",
      "subscribe to our newsletter today"))
    cms.foreach { case (sh, est) =>
      assert(est >= 60L && est <= 70L, s"'$sh' est $est outside [60,70]") }
  }

  test("crossNearDups: planted cross-corpus duplicate found, no false pairs") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val a = docs(
      1L -> base,
      2L -> (31 to 60).map(i => s"u$i").mkString(" "))
    val b = docs(
      10L -> (base + " extra"),     // near-dup of a's doc 1
      11L -> (61 to 90).map(i => s"v$i").mkString(" "))
    val out = Dedup.crossNearDups(a, b, 0.5).use(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 10L)))
    assert(out.head._3 >= 500000L && out.head._3 <= 1000000L)
    val again = Dedup.crossNearDups(a, b, 0.5).use(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("boilerplateCut: top-1 gram occurrences removed from every doc") {
    val d = docs(
      1L -> "a b c d e x1 y1 z1 w1 v1",
      2L -> "a b c d e x2 y2 z2 w2 v2",
      3L -> "a b c d e x3 y3 z3 w3 v3")
    val out = Dedup.boilerplateCut(d, 5, 1).use(_.collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 10, 5, "x1 y1 z1 w1 v1"),
      (2L, 10, 5, "x2 y2 z2 w2 v2"),
      (3L, 10, 5, "x3 y3 z3 w3 v3")))
  }

  test("memorizationRisk: hand-computed risky fractions, short docs zero") {
    val d = docs(
      1L -> "a b c d e x1 y1 z1 w1 v1", // 6 gram starts; only "a b c d e" repeats
      2L -> "a b c d e x2 y2 z2 w2 v2",
      3L -> "a b c d e x3 y3 z3 w3 v3",
      4L -> "too short")                // < k tokens: zero grams by contract
    val out = Dedup.memorizationRisk(d, 5, 2).use(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(
      (1L, 6L, 3L, 1L, 1.0 / 6.0),
      (2L, 6L, 3L, 1L, 1.0 / 6.0),
      (3L, 6L, 3L, 1L, 1.0 / 6.0),
      (4L, 0L, 0L, 0L, 0.0)))
  }

  test("keyMerge: langs merged sorted-distinct") {
    val d = Seq(
      (1L, "t", "en", " SrcA ", 1L), (2L, "t", "de", "srca", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.keyMerge(d).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "srca")
    assert(out.head.getString(3) == "de,en")
  }
}
