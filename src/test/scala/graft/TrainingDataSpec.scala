package graft

import graft.operators.{Dedup, TrainingData}

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("hashSplit: deterministic, covers all docs, ~80/10/10") {
    val d = docs((0L until 1000L).map(i => (i, s"doc $i")): _*)
    val out = TrainingData.hashSplit(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 1000)
    assert(out.values.toSet == Set("train", "val", "test"))
    val train = out.values.count(_ == "train")
    assert(train > 700 && train < 900, s"train share off: $train/1000")
    // content-free: same ids → same assignment on re-run
    val again = TrainingData.hashSplit(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
  }

  test("quotaSample: at most n per stratum, deterministic subset") {
    val d = (0L until 300L).map(i =>
      (i, s"t$i", if (i % 3 == 0) "en" else "pt", "src0", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TrainingData.quotaSample(d, "lang", 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length == 20)
    assert(out.count(_._1 == "en") == 10 && out.count(_._1 == "pt") == 10)
    val again = TrainingData.quotaSample(d, "lang", 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq == out.toSeq)
  }

  test("repetitionFilter: duplicate-bigram fractions match hand count") {
    // "a b a b a b": bigrams (a b)×3, (b a)×2 → n=5, distinct=2,
    // dup_frac=3/5, top_frac=3/5. "v w x y z": 4 unique bigrams.
    val d = docs(1L -> "a b a b a b", 2L -> "v w x y z")
    val out = TrainingData.repetitionFilter(d, 0.2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((5L, 0.6, 0.6, false)))
    assert(out(2L) == ((4L, 0.0, 0.25, true)))
  }

  test("piiRedact: emails and phones tagged and counted") {
    val d = docs(
      1L -> "write to a.user+x@mail.example.org or +55-555-1234 today",
      2L -> "no contact details here")
    val out = TrainingData.piiRedact(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == (("write to <EMAIL> or <PHONE> today", 1, 1)))
    assert(out(2L) == (("no contact details here", 0, 0)))
  }

  test("tokenPack: shards follow the global running token sum") {
    // token counts: 3, 3, 3, 3 → prefix-before 0,3,6,9; budget 6 →
    // shards 0,0,1,1. bucketRows=2 forces the two-level path (2 buckets).
    val d = docs(
      0L -> "a b c", 1L -> "d e f", 2L -> "g h i", 3L -> "j k l")
    val out = TrainingData.tokenPack(d, 6L, 2L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 3, 0L), (1L, 3, 0L), (2L, 3, 1L), (3L, 3, 1L)))
  }

  test("c4Clean: line and page rules match hand evaluation") {
    val pages = Seq(
      // line1 keep (6 words, '.'); line2 drop (no terminal punct);
      // line3 drop (2 words); line4 keep (6 words, '!')
      1L -> ("this line has five words here.\nno terminal punctuation line\n" +
        "short one.\nanother good long sentence ends properly!"),
      // both lines keep, but the page mentions lorem ipsum -> flagged
      2L -> ("contains lorem ipsum somewhere in a sentence.\n" +
        "this otherwise fine line has many words."),
      // line1 drop (javascript); line2 keeps but '{' flags the page
      3L -> "javascript must be enabled to proceed now.\nthis brace { breaks the page rule.",
      // nothing survives: still one output row, empty clean_text
      4L -> "nope\nnah").toDF("doc_id", "page")
    val out = TrainingData.c4Clean(pages, minWords = 5, minLines = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((2, "this line has five words here.\n" +
      "another good long sentence ends properly!", true)))
    assert(out(2L)._1 == 2 && !out(2L)._3)
    assert(out(3L) == ((1, "this brace { breaks the page rule.", false)))
    assert(out(4L) == ((0, "", false)))
  }

  test("mixtureSample: deterministic per-source hash-threshold retention") {
    val d = (0L until 3000L).map(i =>
      (i, s"t$i", "en", Seq("a", "b", "c")((i % 3).toInt), 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TrainingData.mixtureSample(d, Map("a" -> 0.5, "b" -> 0.0)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!bySrc.contains("b"), "weight 0.0 must drop every doc")
    assert(bySrc("c") == 1000, "unlisted source takes defaultWeight 1.0")
    val a = bySrc("a")
    assert(a > 400 && a < 600, s"weight 0.5 retention off: $a/1000")
    // thresholds are monotone: a lower weight keeps a SUBSET (stable
    // under reweighting — docs don't churn in and out of the mixture)
    val tighter = TrainingData.mixtureSample(d, Map("a" -> 0.25, "b" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tighter.filter(_._2 == "a").subsetOf(out.toSet))
    val again = TrainingData.mixtureSample(d, Map("a" -> 0.5, "b" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSeq == out.toSeq)
  }

  test("gopherQuality: each rule trips on its planted document") {
    val good = (1 to 8).map(_ => "the quick brown fox jumps over a lazy dog daily").mkString(" ")
    val d = docs(
      1L -> good,                                  // 80 words, stopwords, all alpha
      2L -> "the quick brown fox with a dog",      // 7 words < minWords
      3L -> good.replace("quick", "#### ####"),    // symbol ratio blows past 0.1
      4L -> (1 to 40).map(i => s"$i $i").mkString(" "), // digits: alpha_frac 0
      5L -> (1 to 8).map(_ => "quick brown fox jumps over lazy dog gates daily here").mkString(" "))
      // 5: 80 words but zero stop words
    val out = TrainingData.gopherQuality(d, minWords = 30).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
    val row1 = TrainingData.gopherQuality(d, minWords = 30).collect()
      .find(_.getLong(0) == 1L).get
    assert(row1.getLong(1) == 80)
    assert(row1.getDouble(2) == good.replace(" ", "").length.toDouble / 80)
    assert(row1.getDouble(4) == 1.0 && row1.getLong(5) == 16) // 'the'+'a' per repeat
  }

  test("dupNgramFraction: shared occurrences counted per hand evaluation") {
    val d = docs(
      1L -> "alpha beta gamma delta",  // shingles: abc, bcd — abc shared with doc 2
      2L -> "alpha beta gamma epsilon", // abg... shares 'alpha beta gamma' with 1
      3L -> "zeta eta theta iota")      // nothing shared
    val out = TrainingData.dupNgramFraction(d, 3, 0.6).use(_.collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // each doc has 2 trigrams; docs 1/2 share exactly 'alpha beta gamma'
    assert(out(1L) == ((2L, 1L, true)))
    assert(out(2L) == ((2L, 1L, true)))
    assert(out(3L) == ((2L, 0L, true)))
    // a doc that IS boilerplate: all shingles shared -> keep=false
    val rep = docs(1L -> "one two three four", 2L -> "one two three four")
    val o2 = TrainingData.dupNgramFraction(rep, 3, 0.6).use(_.collect())
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(o2(1L) == ((1.0, false)) && o2(2L) == ((1.0, false)))
  }

  test("chunkSplit: chunk count, offsets, and tail length per hand evaluation") {
    val d = docs(
      1L -> (1 to 10).map(i => s"w$i").mkString(" "), // 10 tok, maxLen 4 -> 3 chunks
      2L -> (1 to 8).map(i => s"w$i").mkString(" "),  // exactly 2 full chunks
      3L -> "solo")                                    // 1 token -> 1 chunk
    val out = TrainingData.chunkSplit(d, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getInt(4)))
    assert(out.toSeq == Seq(
      (1L, 0, 0, 4), (1L, 1, 4, 4), (1L, 2, 8, 2),
      (2L, 0, 0, 4), (2L, 1, 4, 4),
      (3L, 0, 0, 1)))
  }

  test("chunkSplit with stride: overlapping windows cover the tail exactly once past n") {
    // 10 tokens, window 4, stride 2: starts 0,2,4,6 (1 + ceil(6/2) = 4)
    val d = docs(1L -> (1 to 10).map(i => s"w$i").mkString(" "))
    val out = TrainingData.chunkSplit(d, 4, 2).collect()
      .map(r => (r.getInt(1), r.getInt(3), r.getInt(4)))
    assert(out.toSeq == Seq((0, 0, 4), (1, 2, 4), (2, 4, 4), (3, 6, 4)))
    // window bigger than the doc: single full-doc window
    val solo = TrainingData.chunkSplit(docs(1L -> "a b"), 4, 2).collect()
      .map(r => (r.getInt(1), r.getInt(3), r.getInt(4)))
    assert(solo.toSeq == Seq((0, 0, 2)))
  }

  test("decontaminate: counts distinct shared 3-gram shingles") {
    val eval = docs(1L -> "the quick brown fox jumps")
    val corpus = docs(
      10L -> "see the quick brown fox run",   // shares 2 shingles
      11L -> "the quick brown fox jumps too", // shares 3
      12L -> "nothing in common at all")
    val out = TrainingData.decontaminate(corpus, eval, 3, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((10L, 2L), (11L, 3L)))
  }

  test("lmQualityScore: train-like text outscores novel text; backoff is total") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat and the dog ran"))
      .toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on the mat"),          // every bigram seen in train
      (11L, "purple quantum zebras juggle flaming accordions")) // none seen
      .toDF("doc_id", "text")
    val out = TrainingData.lmQualityScore(score, train)
      .use(_.collect()).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(10L, 11L))
    assert(out(10L) > out(11L), s"train-like must outscore novel: $out")
    assert(out.values.forall(s => s >= 0.0 && s <= 1.0))
    // fully-novel text still gets a nonzero Laplace floor, never NaN/null
    assert(out(11L) > 0.0)
  }

  test("lmQualityScore: fixed-point ppm is exact integer arithmetic") {
    // train: "a b a b" -> bigrams (a,b)x2? no: a b, b a, a b => c(a,b)=2,
    // c(b,a)=1; contexts c1(a)=2, c1(b)=1; vocab V = |{a, b}| = 2
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((10L, "a b")).toDF("doc_id", "text")
    val out = TrainingData.lmQualityScore(score, train).use(_.collect())
    // ppm(a->b) = (2+1)*1e6 div (2+2) = 750000; score = 750000/1e6
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((10L, 1L, 0.75)))
  }

  test("dsirSelect: target-vocabulary docs outrank off-target docs") {
    val d = docs(
      1L -> "aa bb aa bb aa bb",
      2L -> "aa bb cc aa bb cc",
      3L -> "xx yy xx yy xx yy",
      4L -> "xx zz xx zz xx zz")
    val target = d.where(org.apache.spark.sql.functions.col("doc_id") === 1L)
    val out = TrainingData.dsirSelect(d, target, 2).use(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // top-2 are the aa/bb-vocabulary docs, ordered weight desc
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out.head._3 > 0, "target doc must score positive")
    // off-target docs carry strictly smaller weights
    val all = TrainingData.dsirSelect(d, target, 4).use(_.collect())
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(all(3L) < all(2L) && all(4L) < all(2L))
  }

  test("dsirSelect hashed-feature mode agrees with the exact form") {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = all.where(col("lang") === "en")
    def ids(hashBuckets: Int) =
      TrainingData.dsirSelect(all, target, 100, hashBuckets).use(_.collect())
        .map(_.getLong(0)).toSet
    val exact = ids(0)
    val hashed = ids(1 << 14)
    val overlap = (exact & hashed).size.toDouble / exact.size
    info(s"dsir hashed/exact top-100 overlap = $overlap")
    assert(overlap >= 0.8, s"overlap $overlap")
  }

  test("curateCorpus: gate, dedup, split, and pack compose end-to-end") {
    import org.apache.spark.sql.functions.col
    val goodText = (0 until 40).map(i =>
      Seq("the", "quick", "brown", "fox", s"word$i")(i % 5)).mkString(" ")
    val d = docs(
      1L -> goodText,                 // survives; canonical of the pair
      2L -> goodText,                 // exact dup of 1 -> dropped
      3L -> "too short",              // fails gopher n_words >= 30
      4L -> (goodText + " extra"))    // distinct content, survives
    val out = TrainingData.curateCorpus(d, budget = 10).use(_.collect())
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val ids = out.map(_._1)
    assert(ids == Seq(1L, 4L), s"survivors: $out")
    // split is the q79 hash rule; only train rows carry a shard id
    for ((_, split, _, shard) <- out)
      assert((split == "train") == (shard >= 0L), s"$out")
  }

  test("curateCorpus nearDup: keep-set matches hand-composed gopher -> exact -> q95") {
    import org.apache.spark.sql.functions.{col, md5, min}
    val goodText = (0 until 40).map(i =>
      Seq("the", "quick", "brown", "fox", s"word$i")(i % 5)).mkString(" ")
    val d = docs(
      1L -> goodText,                  // canonical of the exact pair AND its near-dup cluster
      2L -> goodText,                  // exact dup of 1 -> dropped at the hash stage
      3L -> "too short",               // fails gopher n_words >= 30
      4L -> (goodText + " extra"),     // near-dup of 1 (Jaccard ~1 on shingles) -> dropped by q95 stage
      5L -> (0 until 40).map(i =>
        Seq("the", "zebra", "and", "mango", s"tok$i")(i % 5))
        .mkString(" "))                // distinct shingles, stopword-bearing -> survives
    val out = TrainingData.curateCorpus(d, budget = 10, nearDup = true)
      .use(_.collect()).map(_.getLong(0)).toSeq
    // hand-compose the stages the one-call path claims to run
    val kept = TrainingData.gopherQuality(d, minWords = 30)
      .where(col("keep")).select("doc_id")
    val exact = d.join(kept, Seq("doc_id"))
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val expected = Dedup.dedupCorpus(d.join(exact, Seq("doc_id")), 0.5)
      .use(_.select("doc_id").collect()).map(_.getLong(0)).sorted.toSeq
    assert(out == expected, s"one-call $out vs composed $expected")
    assert(out == Seq(1L, 5L), s"survivors: $out") // 4 dropped ONLY by the near-dup stage
  }

  test("corpusDiff: added/removed/changed/unchanged by content") {
    val old = docs(1L -> "same text", 2L -> "will change", 3L -> "will vanish")
    val nu = docs(1L -> "same text", 2L -> "has changed", 4L -> "brand new")
    val out = TrainingData.corpusDiff(old, nu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(out == Seq(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("evalLeakReport: leak counts per eval doc, zero for clean items") {
    val corpus = docs(
      10L -> "one two three four five",   // shares 3-shingles with eval 1
      11L -> "one two three nine ten",    // shares exactly one 3-shingle
      12L -> "totally different words entirely")
    val eval = docs(
      1L -> "one two three four six",     // leaks into 10 (2 shingles) and 11 (1)
      2L -> "clean benchmark item text")
    val out = TrainingData.evalLeakReport(corpus, eval, 3, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 10 shares {one two three, two three four} = 2 >= 2; doc 11 only 1
    assert(out == Seq((1L, 1L, 2L), (2L, 0L, 0L)))
  }

  test("sourceOverlap: containment ppm per ordered source pair") {
    val d = Seq(
      (1L, "a b c d e f", "en", "srcA", 11L),
      (2L, "a b c d e x", "en", "srcB", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // srcA grams {abcde, bcdef}, srcB grams {abcde, bcdex} -> shared 1
    val out = TrainingData.sourceOverlap(d, 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("srcA", "srcB", 2L, 1L, 500000L),
      ("srcB", "srcA", 2L, 1L, 500000L)))
  }

  test("sourceOverlapSketch: equals the exact q111 matrix in the exact regime, deterministic") {
    import org.apache.spark.sql.functions.col
    // per-source distinct 5-grams on the driver corpus sit far below
    // theta's 4096-hash capacity, so the sketch estimates are EXACT
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TrainingData.sourceOverlap(d, 5).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val sk = TrainingData.sourceOverlapSketch(d, 5)
      .where(col("shared_est") > 0L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(sk.keySet == exact.keySet)       // same overlapping pairs
    sk.foreach { case (pair, v) =>
      assert(v == exact(pair), s"$pair: sketch $v vs exact ${exact(pair)}")
    }
    val again = TrainingData.sourceOverlapSketch(d, 5)
      .where(col("shared_est") > 0L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(again == sk)
  }

  test("qualityClassifier: learns the rule, ranks held-out docs correctly") {
    import org.apache.spark.sql.functions.col
    // good docs: long, varied vocabulary with stopwords; bad docs: one
    // token repeated. Label half of each class; score everything.
    val good = (0L until 20L).map(i =>
      (i, (0 until 60).map(j => Seq("the", "quick", "brown", "fox", s"w${(i + j) % 17}")((j + i).toInt % 5)).mkString(" ")))
    val bad = (20L until 40L).map(i => (i, Seq.fill(8)("spam").mkString(" ")))
    val d = docs((good ++ bad): _*)
    val labels = d.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.when(col("doc_id") < 20L, 1.0).otherwise(0.0).as("label"))
    val out = TrainingData.qualityClassifier(d, labels).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 40)
    // every held-out good doc outscores every held-out bad doc
    val heldGood = (1L until 20L by 2).map(out)
    val heldBad = (21L until 40L by 2).map(out)
    assert(heldGood.min > heldBad.max,
      s"good min ${heldGood.min} <= bad max ${heldBad.max}")
    // deterministic re-fit on identical data
    val again = TrainingData.qualityClassifier(d, labels).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == out)
  }

  test("scoreAuc: hand-computed Mann-Whitney AUC with ties, R-precision") {
    // pos: (1, 3.0), (2, 2.0); neg: (3, 2.0), (4, 1.0)
    // pairs: 3>1 =1, 3>2 =1, 2>1 =1, 2=2 =0.5 → AUC = 3.5/4 = 0.875
    // top-P=2 by (score desc, doc_id): id1 (pos), id2 (pos) → prec 1.0
    val scored = Seq((1L, 3.0), (2L, 2.0), (3L, 2.0), (4L, 1.0))
      .toDF("doc_id", "score")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L))
      .toDF("doc_id", "label")
    val r = TrainingData.scoreAuc(scored, labels).use(_.collect())
    assert(r.length == 1)
    assert(r(0).getLong(0) == 2L && r(0).getLong(1) == 2L)
    assert(r(0).getDouble(2) == 0.875, s"auc ${r(0).getDouble(2)}")
    assert(r(0).getDouble(3) == 1.0, s"prec ${r(0).getDouble(3)}")
    // reversed scorer: AUC complements to 1 - 0.875
    import org.apache.spark.sql.functions.col
    val rev = scored.select(col("doc_id"), (-col("score")).as("score"))
    val r2 = TrainingData.scoreAuc(rev, labels).use(_.collect())
    assert(r2(0).getDouble(2) == 0.125, s"rev auc ${r2(0).getDouble(2)}")
  }

  test("corpusHealth: one-row dashboard, hand-computed") {
    // doc1: 30 words, passes Gopher (mean len 3.1, 12 stopwords);
    // docs 2,3 identical (one dup); 4 distinct. Sources: s1 x2, s2 x2.
    val keepText = Seq.fill(3)("the cat and dog run with joy for fun now")
      .mkString(" ")
    val d = Seq(
      (1L, keepText, "s1"), (2L, "x1 y2", "s1"),
      (3L, "x1 y2", "s2"), (4L, "z9 w8 v7", "s2"))
      .toDF("doc_id", "text", "source")
    val r = TrainingData.corpusHealth(d).collect()
    assert(r.length == 1)
    val x = r(0)
    assert((x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)) ==
      ((4L, 37L, 2L, 3L)))
    assert(x.getLong(4) == 250000L)          // dup_ppm: 1 of 4 docs
    assert((x.getLong(5), x.getLong(6)) == ((1L, 250000L)))  // keep
    assert((x.getLong(7), x.getLong(8)) == ((2L, 500000L)))  // top source
    assert((x.getLong(9), x.getLong(10)) == ((2L, 30L)))     // min/max tok
  }

  test("corpusHealth: empty corpus yields a degenerate row, not an ANSI divide error") {
    import org.apache.spark.sql.functions.col
    val d = Seq((1L, "a b c", "s1")).toDF("doc_id", "text", "source")
      .where(col("doc_id") < 0)
    val r = TrainingData.corpusHealth(d).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 0L)            // n_docs
    assert(r(0).isNullAt(4) && r(0).isNullAt(6) && r(0).isNullAt(8))
  }

  test("disjointSplit: whole sources land in one split, stable under append") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = TrainingData.disjointSplit(d).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2)))
    // every source maps to exactly one split
    val perSource = r.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    perSource.foreach { case (src, splits) =>
      assert(splits.size == 1, s"$src straddles $splits") }
    assert(r.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // append stability: a half-corpus run assigns identical splits
    val half = TrainingData.disjointSplit(d.where(col("doc_id") < 250))
      .collect().map(x => (x.getLong(0), x.getString(2))).toMap
    val full = r.map(x => (x._1, x._3)).toMap
    half.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("scoreCalibration: deterministic equal-count bins, exact rates") {
    // 6 docs, 3 bins of 2; ties broken by doc_id inside ntile
    val scored = Seq((1L, 1.0), (2L, 1.0), (3L, 2.0),
      (4L, 2.0), (5L, 3.0), (6L, 4.0)).toDF("doc_id", "score")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 0L), (5L, 1L), (6L, 1L)).toDF("doc_id", "label")
    val r = TrainingData.scoreCalibration(scored, labels, 3).use(_.collect())
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getDouble(4), x.getDouble(5)))
    assert(r.toSeq == Seq(
      (1, 2L, 0L, 0.0, 1.0, 1.0),    // docs 1,2
      (2, 2L, 1L, 0.5, 2.0, 2.0),    // docs 3,4
      (3, 2L, 2L, 1.0, 3.0, 4.0)))   // docs 5,6
  }

  test("scoreCalibration: closed-form bin equals ntile bit-for-bit, incl. ties and n<bins") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    // heavy ties so score groups straddle bin edges; exercise uneven
    // quotas (n % bins != 0) and the n < bins degenerate
    val rows = (1L to 23L).map(i => (i, (i % 5).toDouble))
    val scored = rows.toDF("doc_id", "score")
    val labels = rows.map { case (i, _) => (i, i % 3 / 2) }.toDF("doc_id", "label")
    for (bins <- Seq(3, 4, 10, 40)) {
      val got = TrainingData.scoreCalibration(scored, labels, bins).use(_.collect())
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
      val want = scored.join(labels, Seq("doc_id"))
        .withColumn("bin",
          ntile(bins).over(W.orderBy(col("score"), col("doc_id"))))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
        .orderBy("bin").collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
      assert(got == want, s"bins=$bins")
    }
  }

  test("scoreAuc: R-precision matches the global-sort form when ties straddle the cutoff") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    // n_pos = 4; score groups sized 3/3/3/... so the top-4 prefix cuts
    // INSIDE the second group — the boundary path must pick the
    // doc_id-lowest rows of the straddling group
    val rows = (1L to 12L).map(i => (i, ((i - 1) / 3).toDouble))
    val scored = rows.toDF("doc_id", "score")
    val labels = rows.map { case (i, _) => (i, if (i >= 9) 1L else 0L) }
      .toDF("doc_id", "label")
    val r = TrainingData.scoreAuc(scored, labels).use(_.collect())(0)
    val j = scored.join(labels, Seq("doc_id"))
    val nPos = 4L
    val wantHits = j.withColumn("rn", row_number().over(
        W.orderBy(col("score").desc, col("doc_id"))))
      .where(col("rn") <= nPos).agg(sum(col("label"))).collect()(0).getLong(0)
    assert(r.getLong(0) == nPos)
    assert(r.getDouble(3) == wantHits.toDouble / nPos)
  }

  test("filterKappa: hand-computed kappa with chance correction") {
    // n11=2 n10=1 n01=0 n00=1: agree 3/4; pe_num = 3*2 + 1*2 = 8
    // kappa = (4*3 - 8) / (16 - 8) = 0.5
    val a = Seq((1L, true), (2L, true), (3L, true), (4L, false))
      .toDF("doc_id", "keep")
    val b = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "keep")
    val r = TrainingData.filterKappa(a, b).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 0L, 1L)))
    assert(r.getDouble(4) == 0.75)
    assert(r.getDouble(5) == 0.5)
    // degenerate marginals (both keep everything): kappa null, agree 1
    val allA = Seq((1L, true), (2L, true)).toDF("doc_id", "keep")
    val r2 = TrainingData.filterKappa(allA, allA).collect()(0)
    assert(r2.getDouble(4) == 1.0 && r2.isNullAt(5))
  }

  test("mixtureMaterialize: whole epochs + hash-prefix remainder, hand-traced") {
    // s1: doc1 4 tok, doc2 2 tok (n=6), w=0.8, budget 10 → required 8:
    //   base 1, rem 2; md5("1") < md5("2") so doc1 leads the hash
    //   order; cum-n_tok: doc1 0 < 2 (extra), doc2 4 ≥ 2 (no)
    // s2: doc3 3 tok, w=0.2 → required 2: base 0, rem 2; doc3 extra
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b", "s1"), (3L, "x y z", "s2"))
      .toDF("doc_id", "text", "source")
    val r = TrainingData.mixtureMaterialize(d,
      Map("s1" -> 800000L, "s2" -> 200000L), 10L).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      (1L, "s1", 1L), (1L, "s1", 2L), (2L, "s1", 1L), (3L, "s2", 1L)))
  }

  test("mixturePlan: integer-exact requirements, epochs, oversubscription") {
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b", "s1"),       // s1: 6 tokens
      (3L, "x y z", "s2"))                            // s2: 3 tokens
      .toDF("doc_id", "text", "source")
    // budget 10, s1 weight 0.8 (8 tokens needed > 6), s2 0.2 (2 <= 3)
    val r = TrainingData.mixturePlan(d,
      Map("s1" -> 800000L, "s2" -> 200000L), 10L).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5), x.getBoolean(6)))
    assert(r.toSeq == Seq(
      ("s1", 2L, 6L, 800000L, 8L, 8.0 / 6.0, true),
      ("s2", 1L, 3L, 200000L, 2L, 2.0 / 3.0, false)))
  }

  test("decontaminateBloom equals exact decontaminate at any fpp") {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (corpus, eval) =
      (all.where(col("doc_id") >= 40), all.where(col("doc_id") < 40))
    val exact = TrainingData.decontaminate(corpus, eval, 3, 1)
      .collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty, "testdata must contain eval overlap")
    // loose sketch (fpp 0.5): many false positives reach the confirm
    // join — output must still be EXACT; tight sketch likewise
    for (fpp <- Seq(0.5, 0.01)) {
      TrainingData.decontaminateBloom(corpus, eval, 3, 1, fpp).use { bloom =>
        assert(bloom.collect().map(_.toSeq).toSeq == exact, s"fpp=$fpp")
      }
    }
  }

  test("epochShuffle: a deterministic permutation with dense per-shard positions") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val plan = TrainingData.epochShuffle(docs, 8, 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq

    // permutation: every doc exactly once, (shard, pos) unique
    assert(plan.map(_._1).toSet.size.toLong == n)
    assert(plan.map(p => (p._2, p._3)).toSet.size.toLong == n)
    // positions are dense 1..count(shard) — a reader can stream by pos
    plan.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq,
        s"shard $sh positions not dense")
    }
    // shards all populated and roughly balanced at 500 docs / 8 shards
    val sizes = plan.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    assert(sizes.values.min > 20 && sizes.values.max < 130, s"skewed: $sizes")

    // bit-identical replay; a different seed is a different permutation
    val again = TrainingData.epochShuffle(docs, 8, 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(again == plan)
    val other = TrainingData.epochShuffle(docs, 8, 8L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(other.map(_._1) != plan.map(_._1),
      "epoch 8 must order docs differently from epoch 7")

    // the epoch stream: concatenating shards in pos order is a shuffled
    // corpus, not id order (the probability this fails by chance for a
    // real permutation is ~1/500!)
    assert(plan.map(_._1) != plan.map(_._1).sorted)
  }
}
