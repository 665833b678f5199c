package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Probabilistic record linkage — Fellegi & Sunter 1969 (JASA 64),
  * the classical framework every entity-resolution pipeline still
  * implements: candidate pairs from BLOCKING, a per-field agreement
  * vector per pair, and a match score that sums per-field
  * log-likelihood-ratio weights (agreement evidence log(m/u),
  * disagreement evidence log((1−m)/(1−u)), m = P(agree | match),
  * u = P(agree | non-match)). The cross-SOURCE sibling of the
  * fuzzy-key dedup family (q161/q162 resolve typo-duplicates inside
  * one corpus; this resolves records ACROSS two feeds — registry vs
  * crawl, vendor A vs vendor B) and a core curation step when the
  * same entity arrives from multiple upstreams.
  *
  * Everything here is integer-exact so the DuckDB oracle hash-matches:
  * agreements are 0/1 ints, u-rates are exact ppm integer divisions,
  * and scoring is pure integer arithmetic. Weights come from either
  * path: UNSUPERVISED via `emFitParams` (fixed-point integer EM over
  * the agreement-pattern histogram — itself oracle-exact, q180/q181)
  * with `emWeights` deriving the integer LLRs, or CALLER-SUPPLIED
  * clerical integers (u from `uRates` plus a declared m error model,
  * w = round(1000·log2(m/u)) fixed offline) as the override. Either
  * way the model lives OUTSIDE the hot path and the row-scoring never
  * sees a float.
  *
  * Field rules:
  *  - `LevRule(f, d)`   string field, agree ⇔ levenshtein ≤ d
  *                      (thresholded — banded O(d·len) DP, early exit)
  *  - `ExactRule(f)`    any type, agree ⇔ equal (null ⇒ disagree)
  *  - `BandRule(f, tol)` integral field, agree ⇔ |Δ| ≤ tol
  *
  * Shapes for scale: candidates come from ONE equi-join on the block
  * key (never a cross join — blocking is the Fellegi-Sunter answer to
  * the N² wall; a skewed block needs `fieldAgreements(salt = n)`:
  * AQE's skew split keys on input-partition BYTES and cannot see a
  * hot block's pair-EXPLOSION — its input is kilobytes, its join
  * output quadratic — measured in SCALE.md "Round 10: AQE cannot see
  * pair-explosion skew",
  * where the planted 10 % block never triggered a split), and every
  * agreement/score is a per-pair projection that rides the join's
  * whole-stage codegen. Output volume is the blocked-pair count, so
  * block design — not this operator — owns the scale law, exactly as
  * the round-9 entropy measurements put it for the edit join. */
object Linkage {

  sealed trait FieldRule { def field: String }
  /** String field: agree ⇔ levenshtein(a, b) ≤ maxDist. */
  final case class LevRule(field: String, maxDist: Int) extends FieldRule
  /** Any field: agree ⇔ exactly equal (null never agrees). */
  final case class ExactRule(field: String) extends FieldRule
  /** Integral field: agree ⇔ |a − b| ≤ tol. */
  final case class BandRule(field: String, tol: Long) extends FieldRule

  private def agreeCol(r: FieldRule): Column = {
    val (a, b) = (col(s"${r.field}_a"), col(s"${r.field}_b"))
    val agree = r match {
      case LevRule(_, d)  => levenshtein(a, b, d) >= 0
      case ExactRule(_)   => a === b
      case BandRule(_, t) => abs(a - b) <= t
    }
    coalesce(agree.cast("int"), lit(0)).as(s"agree_${r.field}")
  }

  /** Blocked candidate pairs with their 0/1 agreement vector: one row
    * per (a-record, b-record) sharing a block key, one `agree_<field>`
    * column per rule. Input contract: both frames carry (id, block,
    * <rule fields>); null block keys never pair (an equi-join drops
    * them — route unblockable records to a second pass with a coarser
    * key, the standard multi-pass blocking discipline).
    *
    * `salt` > 1 is the skewed-block mitigation: the a side takes a
    * deterministic salt in [0, salt), the b side replicates each row to
    * every salt, and the join runs on (block, salt) — each (a, b) pair
    * in a block still meets EXACTLY once, so the output is identical
    * (LinkageSpec pin), but a hot block's build/probe work spreads
    * across `salt` reducers instead of one. The cost is b-side shuffle
    * volume × salt — pay it when one block holds a corpus-scale
    * fraction of records. AQE is NOT a substitute here: its skew
    * split fires on input-partition bytes, and a hot block's input is
    * tiny while its pair output is quadratic, so no split ever comes
    * (measured — SCALE.md "Round 10: AQE cannot see pair-explosion
    * skew", planted 10 % block).
    *
    * `salt = 0` is AUTO: per-block pair counts pick which blocks get
    * salted and by how much (`fieldAgreementsAuto`) — cold blocks stay
    * on the plain join, hot blocks each get ceil(pairs / target). */
  def fieldAgreements(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
                      salt: Int = 1): DataFrame = {
    require(rules.nonEmpty, "at least one field rule")
    require(salt >= 0, "salt must be >= 1, or 0 for auto")
    require(rules.map(_.field).distinct.size == rules.size,
      s"one rule per field (two rules on one field would emit duplicate " +
        s"agree_<field> columns): ${rules.map(_.field)}")
    if (salt == 0) return fieldAgreementsAuto(a, b, rules)
    val fields = rules.map(_.field).distinct
    val joined =
      if (salt == 1) sideProj(a, "a", fields).join(sideProj(b, "b", fields),
        Seq("block"))
      else sideProj(a, "a", fields)
        .withColumn("__salt",
          pmod(xxhash64(col("id_a")), lit(salt)).cast("int"))
        .join(sideProj(b, "b", fields).withColumn("__salt",
          explode(array((0 until salt).map(lit): _*))),
          Seq("block", "__salt"))
    joined.select((col("id_a") +: col("id_b") +: rules.map(agreeCol)): _*)
  }

  private def sideProj(df: DataFrame, tag: String,
                       fields: Seq[String]): DataFrame =
    df.select((col("id").cast("long").as(s"id_$tag") +:
      col("block").as("block") +:
      fields.map(f => col(f).as(s"${f}_$tag"))): _*)

  /** Auto-salt trigger: a block whose a×b pair volume exceeds this
    * gets its own salt factor ceil(pairs / target). Set FROM the
    * measured sf100 payoff ladder (SCALE_r12_linkskewbig, 2 M records,
    * broadcast off): salting's own price — the per-block count pass +
    * b-side replication — makes auto SLOWER than the unaided hot task
    * below ~2×10⁹ pairs/block (6.2 vs 3.1 s at 4×10⁸; 13.1 vs 10.5 s
    * at 1.6×10⁹) and pays above it (27.8 vs 39.4 s at 6.4×10⁹; 40.8
    * vs 331.6 s — 8.1× — at 4×10¹⁰, where the unaided reducer runs
    * one ~330 s task at the measured ~1.2×10⁸ pairs/s). 2³¹ puts the
    * trigger at the measured crossover; past it, splits land
    * ~15–20 s/reducer, and `AutoMaxSalt` still caps the replication
    * however explosive the block. */
  val AutoSaltTargetPairs: Long = 1L << 31
  /** Auto-salt cap — bounds the b-side replication volume
    * (cb × nsalt rows shuffled) however explosive the block. */
  val AutoMaxSalt: Int = 64

  /** The statistics frame behind auto-salting: blocks whose pair
    * volume a×b exceeds `targetPairs`, each with its integer salt
    * factor `nsalt = min(ceil(pairs / target), maxSalt)`. Cost is two
    * map-side-combined count aggregates — microscopic next to the
    * pair join they protect. At most totalPairs / targetPairs rows by
    * construction, so it rides a broadcast. */
  private[graft] def hotBlocks(a: DataFrame, b: DataFrame,
                               targetPairs: Long,
                               maxSalt: Int): DataFrame = {
    val ca = a.groupBy("block").agg(count(lit(1)).as("ca"))
    val cb = b.groupBy("block").agg(count(lit(1)).as("cb"))
    ca.join(cb, Seq("block"))
      .where(col("ca") * col("cb") > targetPairs)
      .select(col("block"), expr(
        s"CAST(least((ca * cb + $targetPairs - 1) div $targetPairs, " +
          s"$maxSalt) AS INT)").as("nsalt"))
  }

  /** Block-size-driven salting — the AUTO mode of the skew dial
    * (`fieldAgreements(salt = 0)` routes here): one block-key count
    * aggregate per side finds blocks whose pair volume exceeds
    * `targetPairs`, and ONLY those get salted, each with its own
    * factor ceil(pairs / target) capped at `maxSalt`; cold blocks join
    * exactly as the unsalted plan (their salt is the constant 0 on
    * both sides). Output-identical to every manual salt by the q182
    * construction — each (a, b) pair in a block still meets exactly
    * once — and pinned bit-equal in LinkageSpec.
    *
    * This is the automatic answer to the round-10 finding that AQE
    * CANNOT fire here (its skew split keys on shuffle input bytes; a
    * hot block's input is kilobytes while its join output is
    * quadratic): the operator measures the explosion directly — in
    * pair units, the thing that actually costs — and spreads exactly
    * the blocks that need it. The b-side price is replication
    * cb × nsalt on hot blocks only. */
  def fieldAgreementsAuto(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
                          targetPairs: Long = AutoSaltTargetPairs,
                          maxSalt: Int = AutoMaxSalt): DataFrame = {
    require(rules.nonEmpty, "at least one field rule")
    require(targetPairs >= 1 && maxSalt >= 1, "positive sizing")
    require(rules.map(_.field).distinct.size == rules.size,
      s"one rule per field: ${rules.map(_.field)}")
    val fields = rules.map(_.field).distinct
    val hot = hotBlocks(a, b, targetPairs, maxSalt)
    val sa = sideProj(a, "a", fields)
      .join(broadcast(hot), Seq("block"), "left")
      .withColumn("__salt", coalesce(
        pmod(xxhash64(col("id_a")), col("nsalt")).cast("int"), lit(0)))
      .drop("nsalt")
    val sb = sideProj(b, "b", fields)
      .join(broadcast(hot), Seq("block"), "left")
      .withColumn("__salt",
        explode(sequence(lit(0), coalesce(col("nsalt"), lit(1)) - 1)))
      .drop("nsalt")
    sa.join(sb, Seq("block", "__salt"))
      .select((col("id_a") +: col("id_b") +: rules.map(agreeCol)): _*)
  }

  /** The u-probabilities, measured: per-field agreement rate over ALL
    * blocked pairs, in exact ppm — the Fellegi-Sunter estimator
    * (blocked pairs are ≈ all non-matches, so the observed agreement
    * rate IS u up to the match fraction). One row: (pairs,
    * u_<field>_ppm …). Feed these plus a clerical m into the weight
    * formula offline; the scoring stays integer. */
  def uRates(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
             salt: Int = 1): DataFrame =
    uRatesFrom(fieldAgreements(a, b, rules, salt), rules)

  /** `uRates` over a precomputed agreements frame — lets callers pick
    * the blocking plan (manual salt, `fieldAgreementsAuto` with
    * explicit dials) without re-stating the estimator. */
  def uRatesFrom(agreements: DataFrame, rules: Seq[FieldRule]): DataFrame =
    agreements.agg(count(lit(1)).as("pairs"),
      rules.map(r => expr(s"(sum(agree_${r.field}) * 1000000) div count(1)")
        .as(s"u_${r.field}_ppm")): _*)

  /** The EM-fitted Fellegi-Sunter parameters, all in exact ppm
    * integers: match prior `pPpm`, per-field m/u, and the per-pattern
    * posterior match probability after the final E-step (`patterns`:
    * agreement bits in rule order, blocked-pair count, posterior). */
  final case class EmParams(pairs: Long, pPpm: Long,
                            fields: Seq[String],
                            mPpm: Seq[Long], uPpm: Seq[Long],
                            patterns: Seq[(Vector[Int], Long, Long)])

  /** Unsupervised completion of the weight estimation — EM over the
    * agreement-pattern histogram (Fellegi & Sunter 1969 §3; Winkler
    * 1988's standard latent-class formulation): the histogram is at
    * most 2^#fields rows, so the iteration is a driver-side loop over
    * a collected, statistics-sized model (the `pqFitBooks` discipline
    * — the corpus-sized work is ONE hash aggregate).
    *
    * Everything is FIXED-POINT ppm integer arithmetic (BigInt
    * intermediates, truncating division, parameters clamped to
    * [1, 999999] so no product can freeze at an absorbing 0): the same
    * unrolled iteration is expressible in DuckDB HUGEINT SQL, which is
    * how q180/q181 hash-check an EM fit end-to-end — floats never
    * enter. E-step: w(γ) = p·Π(γ_f ? m_f : 1−m_f) · 10⁶ div
    * (that + (1−p)·Π(γ_f ? u_f : 1−u_f)); M-step re-estimates p, m, u
    * from the w-weighted histogram with the same truncating ppm
    * divisions. Deterministic by construction. */
  def emFitParams(agreements: DataFrame, fields: Seq[String],
                  iters: Int = 15, p0Ppm: Long = 100000L,
                  m0Ppm: Long = 900000L, u0Ppm: Long = 100000L): EmParams = {
    require(fields.nonEmpty, "at least one field")
    require(iters >= 1, "at least one EM iteration")
    val k = fields.size
    val hist: Seq[(Vector[Int], BigInt)] = agreements
      .groupBy(fields.map(f => col(s"agree_$f")): _*)
      .agg(count(lit(1)).as("cnt"))
      .collect().toSeq
      .map(r => (Vector.tabulate(k)(i => r.getInt(i)), BigInt(r.getLong(k))))
    require(hist.nonEmpty, "no blocked pairs to fit on")
    val M = BigInt(1000000)
    def clamp(x: BigInt): BigInt = x.max(BigInt(1)).min(BigInt(999999))
    val total = hist.map(_._2).sum
    var p = BigInt(p0Ppm)
    var m = Vector.fill(k)(BigInt(m0Ppm))
    var u = Vector.fill(k)(BigInt(u0Ppm))
    def eStep(): Seq[(Vector[Int], BigInt, BigInt)] = hist.map { case (g, cnt) =>
      val num = (0 until k).foldLeft(p)((acc, i) =>
        acc * (if (g(i) == 1) m(i) else M - m(i)))
      val den = (0 until k).foldLeft(M - p)((acc, i) =>
        acc * (if (g(i) == 1) u(i) else M - u(i)))
      val w = if (num + den == 0) BigInt(0) else (num * M) / (num + den)
      (g, cnt, w)
    }
    for (_ <- 1 to iters) {
      val ws = eStep()
      val s = ws.map { case (_, c, w) => c * w }.sum
      val dd = ws.map { case (_, c, w) => c * (M - w) }.sum
      val newP = clamp(s / total)
      val newM = Vector.tabulate(k) { i =>
        clamp(ws.filter(_._1(i) == 1).map { case (_, c, w) => c * w }.sum
          * M / s.max(BigInt(1)))
      }
      val newU = Vector.tabulate(k) { i =>
        clamp(ws.filter(_._1(i) == 1).map { case (_, c, w) => c * (M - w) }.sum
          * M / dd.max(BigInt(1)))
      }
      p = newP; m = newM; u = newU
    }
    val post = eStep() // posterior under the FITTED params
    EmParams(total.toLong, p.toLong, fields,
      m.map(_.toLong), u.map(_.toLong),
      post.map { case (g, c, w) => (g, c.toLong, w.toLong) }
        .sortBy(_._1.mkString))
  }

  /** The fitted parameters as a one-row frame — (pairs, p_ppm,
    * m_<field>_ppm, u_<field>_ppm …), hash-checkable against the
    * unrolled-EM DuckDB oracle (q180). */
  def emFit(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
            iters: Int = 15, salt: Int = 1): DataFrame = {
    val prm = emFitParams(fieldAgreements(a, b, rules, salt),
      rules.map(_.field), iters)
    val spark = a.sparkSession
    val cols = Seq("pairs", "p_ppm") ++
      prm.fields.flatMap(f => Seq(s"m_${f}_ppm", s"u_${f}_ppm"))
    val vals = Seq(prm.pairs, prm.pPpm) ++
      prm.fields.indices.flatMap(i => Seq(prm.mPpm(i), prm.uPpm(i)))
    val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row.fromSeq(vals)), 1), schema)
  }

  /** EM-scored pairs: every blocked pair tagged with its agreement
    * pattern's posterior match probability (ppm) under the fitted
    * parameters, thresholded — the unsupervised replacement for
    * caller-supplied weights (clerical weights stay available through
    * `linkScores` as the override path). The posterior table is
    * 2^#fields rows, broadcast onto one pass over the pairs. Output
    * (id_a, id_b, post_ppm ≥ threshold), deterministic order.
    *
    * The blocked-pair join is the expensive stage and feeds BOTH the
    * fit's histogram and the posterior join — it is persisted once (the
    * round-1 shared-subplan rule: Spark re-executes shared subplans),
    * the result is materialized from that cache, and the agreements
    * cache is released before returning, so the join runs exactly once
    * however many actions the caller issues. The scope owns the
    * materialized result. */
  def emPosteriors(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
                   thresholdPpm: Long, iters: Int = 15,
                   salt: Int = 1): Scoped[DataFrame] = {
    val fields = rules.map(_.field)
    val ag = fieldAgreements(a, b, rules, salt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the map releases the agreements if the fit throws
    Scoped(ag)(ag.unpersist(blocking = false)).map { ag =>
      val prm = emFitParams(ag, fields, iters) // fills the ag cache
      val spark = a.sparkSession
      val schema = org.apache.spark.sql.types.StructType(
        fields.map(f => org.apache.spark.sql.types.StructField(s"agree_$f",
          org.apache.spark.sql.types.IntegerType, nullable = false)) :+
          org.apache.spark.sql.types.StructField("post_ppm",
            org.apache.spark.sql.types.LongType, nullable = false))
      val pat = spark.createDataFrame(
        spark.sparkContext.parallelize(prm.patterns.map { case (g, _, w) =>
          org.apache.spark.sql.Row.fromSeq(g :+ w) }, 1), schema)
      ag.join(broadcast(pat), fields.map(f => s"agree_$f"))
        .where(col("post_ppm") >= thresholdPpm)
        .select(col("id_a"), col("id_b"), col("post_ppm"))
        .orderBy("id_a", "id_b")
    }.materialize
  }

  /** Integer log-likelihood-ratio weights from fitted parameters —
    * wAgree = round(scale·log2(m/u)), wDisagree = round(scale·
    * log2((1−m)/(1−u))) — the `linkScores` input format. Driver-side
    * float log on the STATISTICS-sized model only (the pqFitBooks
    * discipline: model fitting may use floats, row scoring never
    * does). */
  def emWeights(prm: EmParams, scale: Int = 100): Map[String, (Int, Int)] = {
    def l2(n: Long, d: Long) = math.log(n.toDouble / d.toDouble) / math.log(2.0)
    prm.fields.indices.map { i =>
      val (mP, uP) = (prm.mPpm(i), prm.uPpm(i))
      prm.fields(i) -> (
        math.round(scale * l2(mP, uP)).toInt,
        math.round(scale * l2(1000000L - mP, 1000000L - uP)).toInt)
    }.toMap
  }

  /** Match scoring: score = Σ_fields (agree ? wAgree : wDisagree) with
    * caller-supplied INTEGER weights (scaled log-likelihood ratios —
    * positive for evidence of match, negative against), thresholded.
    * Output (id_a, id_b, score ≥ threshold), deterministic order —
    * the "link" stratum of the Fellegi-Sunter decision rule; run with
    * a lower threshold to surface the clerical-review band. */
  /** The integer match score over an agreements frame — shared by
    * `linkScores` and the streaming gate (`IngestLinkage`). */
  private[graft] def scoreColumn(rules: Seq[FieldRule],
                                 weights: Map[String, (Int, Int)]): Column = {
    require(rules.forall(r => weights.contains(r.field)),
      s"weights must cover every rule field: ${rules.map(_.field)}")
    rules.map { r =>
      val (wA, wD) = weights(r.field)
      when(col(s"agree_${r.field}") === 1, lit(wA)).otherwise(lit(wD))
    }.reduce(_ + _)
  }

  def linkScores(a: DataFrame, b: DataFrame, rules: Seq[FieldRule],
                 weights: Map[String, (Int, Int)],
                 threshold: Int, salt: Int = 1): DataFrame = {
    val score = scoreColumn(rules, weights)
    fieldAgreements(a, b, rules, salt)
      .withColumn("score", score.cast("int"))
      .where(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy("id_a", "id_b")
  }

  /** Distributed dense rank 1..N in (skey, id) order — the two-level
    * global-sequence pattern (range-partition, rank WITHIN each
    * partition in parallel, then add per-partition offsets computed
    * from a partition-count frame that is only nParts rows tall — the
    * same bounded-frame exception tokenPack's prefix sum uses; the
    * corpus never sits in one window task). Partition boundaries come
    * from range sampling and vary run to run, but offset + local rank
    * is the total-order rank regardless of where the cuts fell, so the
    * output is deterministic. Input (id, skey); output (id, skey,
    * rank). */
  private[graft] def globalRank(records: DataFrame, nParts: Int): DataFrame = {
    val local = records
      .repartitionByRange(nParts, col("skey"), col("id"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lr",
        row_number().over(Window.partitionBy("pid").orderBy("skey", "id")))
    val offsets = local.groupBy("pid").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum("c").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "off")
    local.join(broadcast(offsets), Seq("pid"))
      .select(col("id"), col("skey"), (col("off") + col("lr")).as("rank"))
  }

  /** Sorted-neighborhood (SNM) candidate pairs — Hernández & Stolfo
    * 1995: sort all records by a blocking key and pair every record
    * with its `w` nearest neighbors in the sort order. The LINEAR
    * complement to equality blocking for exactly the regime the
    * round-9 entropy measurements exposed: on low-entropy keys every
    * exact blocking family degrades toward quadratic candidates, while
    * SNM emits ≤ N·w pairs BY CONSTRUCTION at the price of bounded
    * (not exact) recall — a true match outside the window is missed,
    * the standard multi-pass answer being a second key.
    *
    * Shape: the global rank above (two shuffles, both corpus-parallel),
    * then neighbors via a BUCKET equi-join — bucket = rank div w, each
    * row probes its own and the previous bucket, so a pair within w
    * positions shares a bucket key exactly once; never a cross join,
    * never a corpus-wide window. Output (id_a < id_b), distinct. */
  def snmCandidates(records: DataFrame, w: Int,
                    nParts: Int = 32): DataFrame = {
    require(w >= 1, "window must be >= 1")
    require(nParts >= 1, "nParts must be >= 1")
    val r = globalRank(
      records.where(col("skey").isNotNull)
        .select(col("id").cast("long").as("id"), col("skey")), nParts)
      .withColumn("b", expr(s"rank div $w"))
    val left = r.select(col("id").as("ida"), col("rank").as("ra"), col("b"))
    val right = r.select(col("id").as("idb"), col("rank").as("rb"),
      explode(array(col("b"), col("b") - 1)).as("b"))
    left.join(right, Seq("b"))
      .where(col("rb") > col("ra") && col("rb") - col("ra") <= w)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .distinct()
  }

  /** SNM blocking composed with the thresholded-levenshtein verify:
    * all pairs within `w` sort-order positions AND edit distance
    * ≤ maxDist. Positional by DEFINITION, so the DuckDB ROW_NUMBER
    * oracle reproduces it bit-for-bit (q175) — the approximation is in
    * what the window can see, not in the arithmetic. Input (id, skey);
    * output (id_a, id_b, dist), deterministic order. */
  def snmPairs(records: DataFrame, w: Int, maxDist: Int,
               nParts: Int = 32): DataFrame = {
    val keys = records.where(col("skey").isNotNull)
      .select(col("id").cast("long").as("id"), col("skey"))
    snmCandidates(keys, w, nParts)
      .join(keys.select(col("id").as("id_a"), col("skey").as("s_a")), Seq("id_a"))
      .join(keys.select(col("id").as("id_b"), col("skey").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** Entity clustering — the MULTI-feed closure of the pipeline:
    * connected components over the match graph (every record id from
    * both feeds a vertex, every scored link an edge), each record
    * labeled by its cluster's smallest id. Where `bestMatch` forces
    * 1:1 across exactly two feeds, this is the standard resolution
    * when one entity may surface several times per feed or across
    * more than two (union the per-feed-pair link sets first). GraphX
    * CC on VERIFIED links only — the q72 discipline: the closure runs
    * on the thresholded match set, never on blocking candidates.
    * Input: both record frames (ids) + `linkScores` output; output
    * (id, entity), deterministic order. The scope releases the graphs
    * GraphX leaves cached. */
  def entityClusters(a: DataFrame, b: DataFrame,
                     links: DataFrame): Scoped[DataFrame] = {
    val spark = a.sparkSession
    import spark.implicits._
    val ids = a.select(col("id").cast("long").as("id"))
      .unionByName(b.select(col("id").cast("long").as("id")))
      .distinct()
    val raw = links.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val comp =
      if (raw.isEmpty()) Scoped.pure(Seq.empty[(Long, Long)].toDF("id", "entity"))
      else Dedup.connectedComponents(raw).map(_.toDF("id", "entity"))
    comp.map(c => ids.join(c, Seq("id"), "left")
      .select(col("id"), coalesce(col("entity"), col("id")).as("entity"))
      .orderBy("id"))
  }

  sealed trait MergeRule { def field: String }
  /** Keep the a-side value (the registry wins). */
  final case class PreferA(field: String) extends MergeRule
  /** Keep the b-side value (the newer feed wins). */
  final case class PreferB(field: String) extends MergeRule
  /** Keep the longer string; ties and null-b keep a, null-a takes b —
    * survivorship never drops a value only one side has (explicit
    * CASE, so engines with different null-in-greatest rules agree). */
  final case class Longest(field: String) extends MergeRule
  /** Keep the larger value; ties and null-b keep a, null-a takes b. */
  final case class Greatest(field: String) extends MergeRule
  /** Keep the value from the record with the LATER `tsField` — the
    * recency precedence most real survivorship policies lead with
    * (vendor feeds supersede the registry when fresher). Ties and a
    * null b-timestamp keep a; a null value on the winning side falls
    * back to the other side (same never-drop rule as Longest). The
    * timestamp column must exist on BOTH inputs; it rides the join but
    * is not emitted. */
  final case class Newest(field: String, tsField: String) extends MergeRule

  /** Survivorship merge — the "golden record" stage that closes the
    * linkage pipeline (block → score → resolve → MERGE): one canonical
    * record per matched pair, each field chosen by a declared
    * precedence rule. All rules are explicit CASE projections (no
    * engine-specific null-in-greatest semantics), so the merged table
    * hash-checks (q177). Input: `bestMatch` output (id_a, id_b[, …])
    * plus both record frames carrying (id, <rule fields>). Output:
    * (entity_id = id_a, id_a, id_b, <merged fields>), deterministic
    * order. One broadcast-eligible join per side, merge is a pure
    * projection. */
  def goldenRecords(matches: DataFrame, a: DataFrame, b: DataFrame,
                    rules: Seq[MergeRule]): DataFrame = {
    require(rules.nonEmpty, "at least one merge rule")
    require(rules.map(_.field).distinct.size == rules.size,
      s"one rule per field: ${rules.map(_.field)}")
    val fields = (rules.map(_.field) ++
      rules.collect { case Newest(_, ts) => ts }).distinct
    def side(df: DataFrame, tag: String) =
      df.select((col("id").cast("long").as(s"id_$tag") +:
        fields.map(f => col(f).as(s"${f}_$tag"))): _*)
    val merged = rules.map { r =>
      val (va, vb) = (col(s"${r.field}_a"), col(s"${r.field}_b"))
      (r match {
        case PreferA(_)  => va
        case PreferB(_)  => vb
        case Longest(_)  =>
          when(va.isNull, vb).when(length(vb) > length(va), vb).otherwise(va)
        case Greatest(_) =>
          when(va.isNull, vb).when(vb > va, vb).otherwise(va)
        case Newest(_, ts) =>
          val (ta, tb) = (col(s"${ts}_a"), col(s"${ts}_b"))
          when(va.isNull, vb).when(vb.isNull, va)
            .when(tb > ta, vb).otherwise(va) // null/tied b-ts keeps a
      }).as(r.field)
    }
    matches.select(col("id_a"), col("id_b"))
      .join(side(a, "a"), Seq("id_a"))
      .join(side(b, "b"), Seq("id_b"))
      .select((col("id_a").as("entity_id") +: col("id_a") +: col("id_b") +:
        merged): _*)
      .orderBy("entity_id", "id_b")
  }

  /** Multi-pass SNM — the recall repair from the same paper: run the
    * positional window under SEVERAL key orderings (`keyExprs`, SQL
    * expressions over `skey` — e.g. `"skey"` and `"reverse(skey)"`),
    * union the candidate pairs, verify once against the ORIGINAL key.
    * A pair invisible to one ordering (a typo in the first character
    * throws a record across the sort) usually sorts adjacent under
    * another; cost stays linear — ≤ N·w·passes candidates. Output
    * (id_a, id_b, dist), deterministic order (q176's oracle is the
    * union of the per-pass rank-band joins). */
  def snmPairsMulti(records: DataFrame, keyExprs: Seq[String], w: Int,
                    maxDist: Int, nParts: Int = 32): DataFrame = {
    require(keyExprs.nonEmpty, "at least one key ordering")
    val keys = records.where(col("skey").isNotNull)
      .select(col("id").cast("long").as("id"), col("skey"))
    val cand = keyExprs.map { ke =>
      snmCandidates(keys.select(col("id"), expr(ke).as("skey")), w, nParts)
    }.reduce(_.unionByName(_)).distinct()
    cand
      .join(keys.select(col("id").as("id_a"), col("skey").as("s_a")), Seq("id_a"))
      .join(keys.select(col("id").as("id_b"), col("skey").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** One-to-one resolution over a scored link set: keep a pair iff it
    * is BOTH its a-record's best b and its b-record's best a (mutual
    * best — the standard post-linkage assignment that stops one noisy
    * record from absorbing several entities; ties break to the
    * smallest partner id, so the result is deterministic and the
    * DuckDB window oracle reproduces it). Input is `linkScores`
    * output (id_a, id_b, score); both windows are keyed, so each
    * parallelizes record-count wide — never a global sort. */
  def bestMatch(links: DataFrame): DataFrame = {
    val byA = Window.partitionBy("id_a")
      .orderBy(col("score").desc, col("id_b").asc)
    val byB = Window.partitionBy("id_b")
      .orderBy(col("score").desc, col("id_a").asc)
    links
      .withColumn("ra", row_number().over(byA))
      .withColumn("rb", row_number().over(byB))
      .where(col("ra") === 1 && col("rb") === 1)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy("id_a", "id_b")
  }
}
