package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Linkage}
import graft.operators.Linkage.{BandRule, ExactRule, LevRule}

/** Fellegi-Sunter record linkage: agreement vectors equal a brute
  * per-field recompute, u-rates are exact ppm over blocked pairs,
  * scoring recovers every planted cross-feed match, and the decision
  * rule is bit-deterministic. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(LevRule("name", 1), ExactRule("city"),
    BandRule("age", 2))

  private val regA = Seq(
    (1L, "b1", "john smith", "berlin", 30L),
    (2L, "b1", "jane doe", "paris", 40L),
    (3L, "b2", "li wei", "beijing", 25L),
    (4L, "b2", "li wei", null: String, 99L)
  ).toDF("id", "block", "name", "city", "age")

  private val regB = Seq(
    (101L, "b1", "john smyth", "berlin", 31L),  // match of 1 (lev 1, city, band)
    (102L, "b1", "janet doe", "lyon", 70L),     // lev("jane doe")=1 but city/age off
    (103L, "b2", "li wei", "beijing", 26L),     // match of 3
    (104L, "b3", "john smith", "berlin", 30L),  // different block → never paired
    (105L, null: String, "li wei", "beijing", 25L) // null block → never paired
  ).toDF("id", "block", "name", "city", "age")

  test("fieldAgreements equals the brute per-field recompute; blocks bound pairs") {
    val got = Linkage.fieldAgreements(regA, regB, rules)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getInt(4))).toSeq
    val brute = regA.as("a").join(regB.as("b"),
        $"a.block" === $"b.block")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        (levenshtein($"a.name", $"b.name") <= 1).cast("int"),
        coalesce(($"a.city" === $"b.city").cast("int"), lit(0)),
        (abs($"a.age" - $"b.age") <= 2).cast("int"))
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getInt(4))).toSeq
    assert(got == brute)
    // block discipline: b-records 104 (foreign block) and 105 (null
    // block) pair with nothing
    assert(!got.exists(p => p._2 == 104L || p._2 == 105L))
    // 2×2 within b1 + 2×1 within b2
    assert(got.size == 6)
  }

  test("uRates: exact ppm over blocked pairs, hand-computed") {
    val r = Linkage.uRates(regA, regB, rules).head()
    assert(r.getLong(0) == 6L) // pairs
    // name lev≤1 agreements: (1,101), (2,102), (3,103), (4,103) → 4/6
    assert(r.getLong(1) == 4L * 1000000L / 6L)
    // city: (1,101), (3,103) agree; null city of a.4 never agrees → 2/6
    assert(r.getLong(2) == 2L * 1000000L / 6L)
    // age ±2: (1,101), (3,103) → 2/6
    assert(r.getLong(3) == 2L * 1000000L / 6L)
  }

  test("linkScores: planted matches clear the threshold, noise pairs do not") {
    val w = Map("name" -> (250, -200), "city" -> (300, -250),
      "age" -> (350, -300))
    val links = Linkage.linkScores(regA, regB, rules, w, 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // full agreement scores 900; the planted pairs and the aliased
    // (4,103) name-only pair (250-250-300 < 600) separate cleanly
    assert(links == Seq((1L, 101L, 900), (3L, 103L, 900)))
    // deterministic replay
    val again = Linkage.linkScores(regA, regB, rules, w, 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(again == links)
    // clerical-review band: lowering the threshold surfaces the
    // partial-evidence stratum ((4,103): name agrees, city null-
    // disagrees, age far)
    val review = Linkage.linkScores(regA, regB, rules, w, -400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(review.contains((4L, 103L)))
  }

  test("bestMatch: mutual-best only, deterministic ties, no double assignment") {
    val links = Seq(
      // entity 1: clean mutual best
      (1L, 101L, 900),
      // noisy b-record 102 attracts BOTH 2 and 3; 2 wins on score, so
      // (3, 102) must drop even though it's 3's best
      (2L, 102L, 900), (3L, 102L, 650),
      // 4 ties between 103 and 104 → smaller partner id 103 wins;
      // 104 keeps nobody (its best is 4, but 4's rank-1 is 103)
      (4L, 103L, 700), (4L, 104L, 700)
    ).toDF("id_a", "id_b", "score")
    val got = Linkage.bestMatch(links)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 101L, 900), (2L, 102L, 900), (4L, 103L, 700)))
    // one-to-one by construction
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.map(_._2).distinct.size == got.size)
  }

  test("goldenRecords: per-field precedence, ties keep the registry side") {
    import graft.operators.Linkage.{Greatest, Longest, PreferA}
    val a = Seq((1L, "short", "s1", 5L), (2L, "exactly-same", "s2", 9L))
      .toDF("id", "head", "src", "n")
    val b = Seq((101L, "a much longer head", "sX", 3L),
        (102L, "exactly-same", "sY", 9L))
      .toDF("id", "head", "src", "n")
    val matches = Seq((1L, 101L), (2L, 102L)).toDF("id_a", "id_b")
    val got = Linkage.goldenRecords(matches, a, b,
        Seq(Longest("head"), PreferA("src"), Greatest("n")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 1L, 101L, "a much longer head", "s1", 5L), // longer b head, a src, a n (3 < 5)
      (2L, 2L, 102L, "exactly-same", "s2", 9L)))      // ALL ties keep the a side
  }

  test("goldenRecords: a null side never wins — the other side's value survives") {
    import graft.operators.Linkage.{Greatest, Longest}
    val a = Seq((1L, null: String, java.lang.Long.valueOf(5L)),
        (2L, "kept", null: java.lang.Long))
      .toDF("id", "head", "n")
    val b = Seq((101L, "from-b", null: java.lang.Long),
        (102L, null: String, java.lang.Long.valueOf(7L)))
      .toDF("id", "head", "n")
    val matches = Seq((1L, 101L), (2L, 102L)).toDF("id_a", "id_b")
    val got = Linkage.goldenRecords(matches, a, b,
        Seq(Longest("head"), Greatest("n")))
      .collect().map(r => (r.getLong(0), r.getString(3), r.get(4))).toSeq
    // null-a takes b, null-b keeps a — survivorship never drops the one
    // value a side has
    assert(got == Seq((1L, "from-b", 5L), (2L, "kept", 7L)))
  }

  test("goldenRecords Newest: later timestamp wins, null/tied ts keeps a, null value falls back") {
    import graft.operators.Linkage.Newest
    val a = Seq(
      (1L, "a-old", "2024-01-01 00:00:00"),  // b is newer → b value
      (2L, "a-new", "2024-06-01 00:00:00"),  // b is older → a value
      (3L, "a-tie", "2024-03-01 00:00:00"),  // tie → a value
      (4L, "a-val", "2024-01-01 00:00:00"),  // b ts null → a value
      (5L, "a-has", "2024-01-01 00:00:00")   // b newer but b value null → a
    ).toDF("id", "head", "ts0")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    val b = Seq(
      (101L, "b-new", "2024-02-01 00:00:00"),
      (102L, "b-old", "2024-01-01 00:00:00"),
      (103L, "b-tie", "2024-03-01 00:00:00"),
      (104L, "b-val", null: String),
      (105L, null: String, "2024-12-01 00:00:00")
    ).toDF("id", "head", "ts0")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    val matches = Seq((1L, 101L), (2L, 102L), (3L, 103L), (4L, 104L),
      (5L, 105L)).toDF("id_a", "id_b")
    val got = Linkage.goldenRecords(matches, a, b, Seq(Newest("head", "ts")))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got == Seq((1L, "b-new"), (2L, "a-new"), (3L, "a-tie"),
      (4L, "a-val"), (5L, "a-has")))
  }

  private def lev(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    m(a.length)(b.length)
  }

  test("snmCandidates: exactly the N·w band, boundary-safe at any nParts") {
    // 20 distinct keys, w = 4: every rank pairs with its next ≤4 ranks
    // → 20·4 − 4·5/2 = 70 pairs, identical at 1 partition and at 8
    // (global rank must be seamless across range-partition boundaries)
    val recs = (0 until 20).map(i => (i.toLong, f"key$i%03d")).toDF("id", "skey")
    for (nParts <- Seq(1, 3, 8)) {
      val got = Linkage.snmCandidates(recs, 4, nParts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.size == 70, s"nParts=$nParts")
      // keys sort like ids here, so the band is literal id distance
      assert(got == (for (i <- 0L until 20L; j <- i + 1 to math.min(i + 4, 19L))
        yield (i, j)).toSet, s"nParts=$nParts")
    }
  }

  test("snmPairs equals the positional brute definition on document heads") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id AS id", "substring(text, 1, 32) AS skey")
    val (w, d) = (10, 4)
    val got = Linkage.snmPairs(docs, w, d, nParts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // brute: global (skey, id) rank, neighbors within w, lev ≤ d
    val ranked = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(p => (p._2, p._1))
    val want = (for {
      i <- ranked.indices
      j <- (i + 1) to math.min(i + w, ranked.length - 1)
      dd = lev(ranked(i)._2, ranked(j)._2) if dd <= d
    } yield (math.min(ranked(i)._1, ranked(j)._1),
             math.max(ranked(i)._1, ranked(j)._1), dd))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got == want)
    // deterministic replay despite run-varying range boundaries
    val again = Linkage.snmPairs(docs, w, d, nParts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(again == got)
    // the recall trade, stated: SNM sees a strict subset of the exact
    // edit join's pairs at the same d
    val exact = Dedup.editDistancePairsSeg(
        docs.selectExpr("id", "skey AS s"), d)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    val snmSet = got.map(p => (p._1, p._2)).toSet
    assert(snmSet.subsetOf(exact))
    info(f"SNM recall vs exact edit join: ${snmSet.size}/${exact.size} " +
      f"(${if (exact.nonEmpty) 100.0 * snmSet.size / exact.size else 100.0}%.0f%%) at w=$w")
  }

  test("snmPairsMulti: the reversed pass recovers a first-character typo") {
    // the planted pair differs only in its first two characters: the
    // FORWARD sort throws them to opposite ends (fillers in between,
    // so no w=3 window reaches), while the REVERSED ordering sorts
    // them adjacent — the classic multi-pass repair
    val planted = Seq(900L -> "aa common tail stringg", 901L -> "zz common tail stringg")
    val fillers = (0 until 30).map(i => (i.toLong, f"filler $i%02d distinct key"))
    val recs = (fillers ++ planted).toDF("id", "skey")
    val (w, d) = (3, 2)
    val single = Linkage.snmPairs(recs, w, d, nParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!single.contains((900L, 901L)),
      "forward pass alone should miss the first-char typo pair")
    val multi = Linkage.snmPairsMulti(recs, Seq("skey", "reverse(skey)"),
        w, d, nParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.contains((900L, 901L)))
    assert(single.subsetOf(multi))

    // equals the brute dual-ordering definition
    val rows = recs.collect().map(r => (r.getLong(0), r.getString(1)))
    def bandPairs(ordered: Seq[(Long, String)]) = (for {
      i <- ordered.indices
      j <- (i + 1) to math.min(i + w, ordered.length - 1)
    } yield (math.min(ordered(i)._1, ordered(j)._1),
             math.max(ordered(i)._1, ordered(j)._1))).toSet
    val byKey = rows.map(p => p._1 -> p._2).toMap
    val want = (bandPairs(rows.sortBy(p => (p._2, p._1)).toSeq) ++
        bandPairs(rows.sortBy(p => (p._2.reverse, p._1)).toSeq))
      .filter(p => lev(byKey(p._1), byKey(p._2)) <= d)
    assert(multi == want)
  }

  test("emFitParams recovers planted m on a synthetic two-feed corpus, deterministically") {
    import graft.operators.Linkage.ExactRule
    // 500 entities, 50 blocks of 10; the vendor copy agrees per field
    // with planted rates m = (0.90, 0.75, 0.95), vocab 10 → u ≈ 0.1.
    // Field values and agreement draws come from a splitmix-style
    // NONLINEAR mixer: a linear hash (or plain modular residues) makes
    // within-block agreement a near-deterministic function of the id
    // DIFFERENCE — only ~19 distinct differences exist in a block — and
    // EM rightly converges on that planted structure instead of the
    // match/non-match split (measured: float EM agrees with the
    // integer EM on the bad corpus too; the fix is the corpus)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def h(e: Long, salt: Long): Long = {
      val v = mix(e * 1000L + salt) % 1000000L
      if (v < 0) v + 1000000L else v
    }
    def f(e: Long, i: Long) = s"w${h(e, i) % 10}"
    val ents = (0L until 500L)
    val a = ents.map(e => (e, e / 10, f(e, 0), f(e, 1), f(e, 2)))
      .toDF("id", "block", "f0", "f1", "f2")
    val b = ents.map { e =>
      def side(i: Long, mPlanted: Long) =
        if (h(e, 100 + i) % 1000 < mPlanted) f(e, i)
        else s"w${(h(e, i) % 10 + 1) % 10}"
      (1000L + e, e / 10,
        side(0, 900),  // m0 = 0.90
        side(1, 750),  // m1 = 0.75
        side(2, 950))  // m2 = 0.95
    }.toDF("id", "block", "f0", "f1", "f2")
    val emRules = Seq(ExactRule("f0"), ExactRule("f1"), ExactRule("f2"))
    val ag = Linkage.fieldAgreements(a, b, emRules)
    val prm = Linkage.emFitParams(ag, Seq("f0", "f1", "f2"))
    assert(prm.pairs == 50L * 100L)
    assert(math.abs(prm.pPpm - 100000L) < 50000L, s"p=${prm.pPpm}")
    val planted = Seq(900000L, 750000L, 950000L)
    prm.mPpm.zip(planted).foreach { case (got, want) =>
      assert(math.abs(got - want) < 60000L, s"m=$got want=$want") }
    prm.uPpm.foreach(u => assert(u > 30000L && u < 400000L, s"u=$u"))
    // exact determinism — integer EM has no float, no order sensitivity
    assert(prm == Linkage.emFitParams(ag, Seq("f0", "f1", "f2")))
    // derived LLR weights have the right signs for linkScores
    Linkage.emWeights(prm).values.foreach { case (wA, wD) =>
      assert(wA > 0 && wD < 0) }
    // posterior scoring at the Bayes point recovers the planted matches
    val hits = Linkage.emPosteriors(a, b, emRules, 500000L)
      .use(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val matched = ents.map(e => (e, 1000L + e)).toSet
    val recall = (hits & matched).size.toDouble / matched.size
    val precision = if (hits.isEmpty) 0.0 else (hits & matched).size.toDouble / hits.size
    assert(recall >= 0.8, s"recall=$recall")
    assert(precision >= 0.5, s"precision=$precision")
  }

  test("salted blocking is output-identical to the plain equi-join under skew") {
    // planted hot block: 10% of records share one key — every (a, b)
    // pair must still meet exactly once under any salt
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"doc_id" < 300)
    val blockExpr = "CASE WHEN doc_id % 10 = 0 THEN 'hot' " +
      "ELSE CAST(doc_id % 16 AS STRING) END"
    val a = docs.selectExpr("doc_id AS id", s"$blockExpr AS block",
      "substring(text, 1, 24) AS head", "source", "n_chars")
    val b = docs.selectExpr("doc_id + 100000 AS id", s"$blockExpr AS block",
      "substring(text, 1, 23) AS head", "source", "n_chars + 3 AS n_chars")
    def run(salt: Int) = Linkage.fieldAgreements(a, b, rules2, salt)
      .collect().map(_.toSeq).toSet
    val plain = run(1)
    assert(plain.nonEmpty)
    assert(run(4) == plain)
    assert(run(16) == plain)
  }

  test("auto salt: hot blocks only, cap respected, output bit-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"doc_id" < 300)
    val blockExpr = "CASE WHEN doc_id % 10 = 0 THEN 'hot' " +
      "ELSE CAST(doc_id % 16 AS STRING) END"
    val a = docs.selectExpr("doc_id AS id", s"$blockExpr AS block",
      "substring(text, 1, 24) AS head", "source", "n_chars")
    val b = docs.selectExpr("doc_id + 100000 AS id", s"$blockExpr AS block",
      "substring(text, 1, 23) AS head", "source", "n_chars + 3 AS n_chars")
    // the planted hot block holds 30 records a side (30×30 = 900
    // pairs); cold blocks hold ~17 (≤ ~324 pairs) — a 500-pair target
    // salts EXACTLY the hot block, with nsalt = ceil(900/500) = 2
    val hot = Linkage.hotBlocks(a, b, 500L, 8)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(hot == Map("hot" -> 2), s"hot=$hot")
    // cold corpus under a high target: nothing salted at all
    assert(Linkage.hotBlocks(a, b, 10000000L, 8).isEmpty)
    // an explosive target hits the cap on every hot block
    val capped = Linkage.hotBlocks(a, b, 10L, 4)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(capped.values.forall(_ == 4), s"capped=$capped")
    assert(capped.contains("hot"))
    // the whole claim: auto == manual == plain, bit-for-bit, at any dial
    val plain = Linkage.fieldAgreements(a, b, rules2)
      .collect().map(_.toSeq).toSet
    def auto(target: Long, cap: Int) =
      Linkage.fieldAgreementsAuto(a, b, rules2, target, cap)
        .collect().map(_.toSeq).toSet
    assert(plain.nonEmpty)
    assert(auto(500L, 8) == plain)   // hot block salted, cold plain
    assert(auto(10L, 4) == plain)    // everything salted, capped
    assert(auto(1000000000000L, 8) == plain) // nothing salted
    // and the salt=0 routing reaches the same place
    assert(Linkage.fieldAgreements(a, b, rules2, salt = 0)
      .collect().map(_.toSeq).toSet == plain)
  }
  private val rules2 = Seq(LevRule("head", 2), ExactRule("source"),
    BandRule("n_chars", 5))

  test("unsupervised end-to-end: EM weights drive score → resolve → merge") {
    import graft.operators.Linkage.{ExactRule, Longest, PreferA}
    // same splitmix-planted corpus as the recovery test, folded through
    // the whole pipeline with NO clerical numbers anywhere: fit → LLR
    // weights → linkScores at the zero threshold (agree-majority
    // evidence) → mutual-best → golden records
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def h(e: Long, salt: Long): Long = {
      val v = mix(e * 1000L + salt) % 1000000L
      if (v < 0) v + 1000000L else v
    }
    def f(e: Long, i: Long) = s"w${h(e, i) % 10}"
    val ents = (0L until 500L)
    val a = ents.map(e => (e, e / 10, f(e, 0), f(e, 1), f(e, 2)))
      .toDF("id", "block", "f0", "f1", "f2")
    val b = ents.map { e =>
      def side(i: Long, mPlanted: Long) =
        if (h(e, 100 + i) % 1000 < mPlanted) f(e, i)
        else s"w${(h(e, i) % 10 + 1) % 10}"
      (1000L + e, e / 10, side(0, 900), side(1, 750), side(2, 950))
    }.toDF("id", "block", "f0", "f1", "f2")
    val emRules = Seq(ExactRule("f0"), ExactRule("f1"), ExactRule("f2"))
    val prm = Linkage.emFitParams(
      Linkage.fieldAgreements(a, b, emRules), Seq("f0", "f1", "f2"))
    val w = Linkage.emWeights(prm)
    val matches = Linkage.bestMatch(Linkage.linkScores(a, b, emRules, w, 0))
    val got = matches.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = ents.map(e => (e, 1000L + e)).toSet
    val recall = (got & planted).size.toDouble / planted.size
    val precision = (got & planted).size.toDouble / got.size
    assert(recall >= 0.8, s"recall=$recall")
    assert(precision >= 0.8, s"precision=$precision") // mutual-best prunes noise
    // and the merge stage consumes the matches untouched
    val golden = Linkage.goldenRecords(matches, a, b,
      Seq(Longest("f0"), PreferA("f1"), PreferA("f2")))
    assert(golden.count() == got.size)
  }

  test("entityClusters: transitive closure over links, singletons keep their id") {
    val a = Seq((1L, "x"), (2L, "x"), (3L, "x"), (10L, "x"))
      .toDF("id", "f").withColumn("block", lit("b"))
    val b = Seq((101L, "x"), (102L, "x"), (110L, "x"))
      .toDF("id", "f").withColumn("block", lit("b"))
    // links chain 1-101-2-102-3 into ONE entity; 10 and 110 stay alone
    val links = Seq((1L, 101L, 5), (2L, 101L, 5), (2L, 102L, 5), (3L, 102L, 5))
      .toDF("id_a", "id_b", "score")
    val got = Linkage.entityClusters(a, b, links)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 101L, 102L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(110L) == 110L)
    assert(got.size == 7)
    // empty link set: every record is its own entity
    val none = Linkage.entityClusters(a, b, links.limit(0))
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1)))
    assert(none.forall(p => p._1 == p._2) && none.length == 7)
  }

  test("emFitParams refuses an empty pair set; degenerate inputs stay clamped") {
    import graft.operators.Linkage.ExactRule
    val a = Seq((1L, "b", "x")).toDF("id", "block", "f")
    val bEmpty = Seq.empty[(Long, String, String)].toDF("id", "block", "f")
    intercept[IllegalArgumentException] {
      Linkage.emFitParams(
        Linkage.fieldAgreements(a, bEmpty, Seq(ExactRule("f"))), Seq("f"))
    }
    // a single all-agree pattern: every parameter stays inside the
    // [1, 999999] clamp — no absorbing 0/1 freeze, no division crash
    val bSame = Seq((2L, "b", "x")).toDF("id", "block", "f")
    val prm = Linkage.emFitParams(
      Linkage.fieldAgreements(a, bSame, Seq(ExactRule("f"))), Seq("f"))
    (prm.pPpm +: (prm.mPpm ++ prm.uPpm)).foreach(v =>
      assert(v >= 1L && v <= 999999L))
  }

  test("document feeds: every planted vendor copy links, score recompute exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.selectExpr("doc_id AS id", "lang AS block",
      "substring(text, 1, 24) AS head", "source", "n_chars")
    val b = docs.selectExpr("doc_id + 100000 AS id", "lang AS block",
      "substring(text, 1, 23) AS head", "source", "n_chars + 3 AS n_chars")
    val rls = Seq(LevRule("head", 2), ExactRule("source"), BandRule("n_chars", 5))
    val w = Map("head" -> (200, -300), "source" -> (430, -300),
      "n_chars" -> (550, -400))
    val links = Linkage.linkScores(a, b, rls, w, 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val n = docs.count()
    // every record's vendor copy is a full-agreement pair (head lev ≤ 1
    // by construction, same source, Δlen = 3)
    val planted = links.filter(p => p._2 == p._1 + 100000L)
    assert(planted.size.toLong == n)
    assert(planted.forall(_._3 == 1180))
    info(s"${links.size} links for $n planted pairs " +
      s"(${links.size - planted.size} chance corroborations above threshold)")
  }
}
