package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Deduplication operators: the reference's first-wins / key-merge dedup
  * (SURVEY.md §2.7) plus the training-data-pipeline near-dup family
  * (exact hash, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale notes: MinHash-LSH is the 100 TB path — cost is
  * O(docs × shingles) for signatures plus a shuffle on band keys; no
  * cross join ever materializes. The pairwise-Jaccard verifier only runs
  * over LSH candidates. The bounded `ngramJaccardPairs` exists as the
  * oracle-checkable verification slice.
  */
object Dedup {

  /** First-wins dedup with an explicit order column (D1,
    * social/bdqueimadas_monthly_chart.py:159-201): `dropDuplicates` alone
    * loses the "first" guarantee, so rank by the order key. */
  def firstWins(events: DataFrame): DataFrame =
    events
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy("event_id")))
      .where(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")

  /** Key-grouped merge dedup (D2, datasets/noticias_agricolas/merge.py:18-76):
    * normalize the key, keep min rank, merge the per-key label set in
    * deterministic order. */
  def keyMerge(docs: DataFrame): DataFrame =
    docs
      .groupBy(lower(trim(col("source"))).as("key"))
      .agg(
        min(col("doc_id")).as("first_id"),
        count(lit(1)).as("cnt"),
        array_join(sort_array(collect_set(col("lang"))), ",").as("langs"))
      .orderBy("key")

  /** URL-key dedup with category-order merge — D2's full form
    * (datasets/noticias_agricolas/merge.py:18-76): group rows by the
    * normalized URL key (Normalize.urlKey), keep the minimum rank,
    * merge category slugs/labels configured-order-first (extras follow,
    * slug-ordered for determinism), take the reference row and first
    * non-empty title by (category priority, rank, slug). Input columns:
    * url, category_slug, category_label, rank, title. One shuffle on
    * the url key; per-key arrays are category-sized (tiny), so the
    * array ops here are cold-path. */
  def urlKeyMerge(rows: DataFrame, categoryOrder: Seq[String]): DataFrame = {
    val prio = categoryOrder.zipWithIndex
      .foldLeft(lit(categoryOrder.length)) { case (acc, (slug, i)) =>
        when(col("category_slug") === slug, lit(i)).otherwise(acc)
      }
    // one sortable string key keeps min_by semantics identical between
    // Spark and the DuckDB oracle (composite arg_min keys differ);
    // title+url tiebreakers make it a total order — (prio, rank, slug)
    // alone ties when duplicate listings carry the same category+rank
    val sortKey = format_string("%05d|%05d|%s|%s|%s",
      prio, col("rank"), col("category_slug"), col("title"), col("url"))
    val tagged = rows.select(
      graft.functions.Normalize.urlKey(col("url")).as("url_key"),
      prio.as("prio"), col("category_slug").as("slug"),
      col("category_label").as("label"), col("rank"), col("title"),
      col("url"), sortKey.as("sk"))
    tagged.groupBy("url_key")
      .agg(
        min_by(col("url"), col("sk")).as("url"),
        min(col("rank")).as("min_rank"),
        array_join(transform(
          array_distinct(sort_array(collect_list(struct(col("prio"), col("slug"))))),
          x => x("slug")), ",").as("slugs"),
        array_join(transform(
          array_distinct(sort_array(collect_list(
            struct(col("prio"), col("slug"), col("label"))))),
          x => x("label")), ",").as("labels"),
        min_by(col("title"), when(trim(col("title")) =!= "", col("sk"))).as("title"))
      .withColumn("primary_slug", split(col("slugs"), ",").getItem(0))
      .withColumn("primary_label", split(col("labels"), ",").getItem(0))
      .orderBy("url_key")
  }

  /** Exact dedup by content hash: keep the lowest id per identical text. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("keep_id")

  /** Soft deduplication (He et al. 2024, SoftDedup): keep EVERY
    * document and downweight duplicated content instead of dropping it
    * — a text appearing n times gets sampling weight 1/n, so the
    * corpus-level contribution of each distinct text stays 1.0 while
    * rare content keeps full weight (hard dedup would starve sources
    * whose value lies in their unique tail). Complements `exactDedup`
    * (which emits one keeper per group): this emits one row per doc.
    *
    * 100 TB shape: a single shuffle — rows reduced to (doc_id, md5)
    * before the exchange, then one partition-frame window count over
    * the hash; no self-join, no second scan, and no text bytes cross
    * the wire. weight = one double division of exact BIGINT operands
    * (oracle-exact). */
  def softDedupWeights(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("text_hash")
    docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .withColumn("dup_cnt", count(lit(1)).over(w))
      .select(col("doc_id"), col("dup_cnt"),
        (lit(1.0) / col("dup_cnt")).as("weight"),
        (col("dup_cnt") > 1).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Lowercased whitespace tokens. Documents are single-space separated
    * (verified against the testdata); split on ' ' keeps the oracle exact. */
  private def tokens(text: Column): Column = split(lower(trim(text)), " ")

  /** Distinct 3-word shingles of a token array. */
  private def shingles(tk: Column): Column =
    array_distinct(transform(
      sequence(lit(0), size(tk) - lit(3)),
      i => concat_ws(" ", slice(tk, i + lit(1), lit(3)))))

  /** Bounded pairwise n-gram Jaccard (the oracle-checkable dedup slice):
    * 3-word-shingle sets, |∩|/|∪| ≥ threshold, ids below `maxId`.
    * Relational form: distinct shingles as ROWS, |∩| via an equi-join on
    * the shingle string (codegen'd, no array set ops, no nested-loop
    * pair join) — pairs with an empty intersection have jaccard 0 and
    * fall out naturally (threshold > 0). Integer counts → one double
    * division → engine-exact. The scope releases the persisted
    * per-doc sizes and per-pair intersections the result reads. */
  def ngramJaccardPairs(docs: DataFrame, maxId: Long,
                        threshold: Double): Scoped[DataFrame] = {
    require(threshold > 0, "zero-intersection pairs are never emitted")
    val rows = docs.where(col("doc_id") < maxId && size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), explode(shingles(tokens(col("text")))).as("s"))
      // consumed three times (two join sides + sizes): persist so the
      // shingle transform runs once per doc; released below once the two
      // small derived frames (per-doc sizes, per-pair intersections) are
      // eagerly materialized (persist + count — see minhashCandidatePairs
      // for why not localCheckpoint)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = rows.groupBy("doc_id").agg(count(lit(1)).cast("int").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inter = rows.select(col("doc_id").as("a"), col("s"))
      .join(rows.select(col("doc_id").as("b"), col("s")), Seq("s"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("int").as("inter"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sizes.count(); inter.count()
    rows.unpersist(blocking = false)
    Scoped(inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "inter", "jaccard")
      .orderBy("a", "b")) {
      sizes.unpersist(blocking = false)
      inter.unpersist(blocking = false)
    }
  }

  // 22 bands × 3 rows = 66 permutations. The LSH s-curve for (b, r) is
  // P(candidate | jaccard j) = 1 - (1 - j^r)^b; at the declared q36
  // threshold 0.5 this gives 1-(1-0.125)^22 ≈ 0.947, rising to ≈1.0 by
  // j = 0.7 — vs only ~23% for the old 4×4 banding. DedupRecallSpec
  // asserts the resulting recall against the exact q38 pair set.
  private val BandRows = 3
  private val Bands = 22
  private[graft] val NumPerms = Bands * BandRows

  // One xxhash64 per permutation, seeded by the permutation index.
  // (Measured against Kirsch–Mitzenmacher double hashing h1 + p·h2:
  // ANSI-mode overflow-checked multiply/add across 66 aggregate
  // expressions was 4× SLOWER than 66 codegen'd hash calls — the hash
  // is the cheap part here.)
  private def permHash(p: Int, s: Column): Column = xxhash64(lit(p), s)

  /** Distinct hashed 3-gram shingles as ROWS, not arrays: posexplode
    * tokens, hash each token once (codegen'd xxhash64), combine three
    * consecutive token hashes with a lead() window. Array higher-order
    * functions (`transform`) are CodegenFallback — interpreted per
    * element — and measured ~10× slower than this flat columnar form on
    * the signature path. These rows feed the MinHash signatures, the
    * shingle-feature SimHash fingerprints, AND the flat-row candidate
    * verify in `minhashPairs` — one feature representation end to end. */
  private def hashedShingleRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), xxhash64(col("t")).as("h"))
      .withColumn("h1", lead("h", 1).over(w))
      .withColumn("h2", lead("h", 2).over(w))
      .where(col("h2").isNotNull)
      .select(col("doc_id"), xxhash64(col("h"), col("h1"), col("h2")).as("s"))
      .distinct()
  }

  /** LSH candidate pairs — the band-key self-join ONLY, before Jaccard
    * verification. Exposed separately so scale runs can measure the LSH
    * efficiency ratio (candidates vs verified pairs; SCALE.md "Corpus
    * dedup family").
    *
    * Persist discipline: the signature table (docs × 66 longs — the one
    * corpus-sized intermediate) is persisted only long enough to
    * materialize the candidate pairs (persist + count), then released
    * immediately. Candidates stay persisted executor-side for their
    * consumers until the returned scope releases them; if an evicted
    * partition must recompute through the released signatures the
    * result is still correct, just slower.
    * (NOT `localCheckpoint(eager)`: in Spark 4.1 that materializes by
    * shipping partition blocks through task results, so any candidate
    * set past spark.driver.maxResultSize kills the job — measured at
    * sf10, where an 84-table banding's 12M pairs passed 1 GB and wider
    * bandings did not.) */
  def minhashCandidatePairs(docs: DataFrame): Scoped[DataFrame] = {
    val (plan, sigs) = minhashCandidatePlan(docs)
    // eager: materialize before releasing signatures
    Scoped(plan)(sigs.unpersist(blocking = false)).materialize
  }

  /** The unpersisted candidate-pair plan plus the persisted signature
    * frame it reads twice — split out so PlanAuditSpec can assert the
    * band self-join's physical strategy before execution. */
  private[graft] def minhashCandidatePlan(docs: DataFrame): (DataFrame, DataFrame) = {
    // Persist the signature table: it feeds band generation AND both
    // sides of the candidate self-join, and Spark does not reuse the
    // aggregate subplan across those branches (without this, the
    // scan+shingle+hash pipeline runs once per branch — 8× the work).
    val sigs = minhashSignatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandRows(sigs)
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    (candidates, sigs)
  }

  /** The per-doc MinHash signature table (doc_id, h0…h65) — the
    * corpus SKETCH. 66 min-hashes in one aggregation pass over hashed
    * shingle rows; linear, one shuffle on doc_id. Exposed (unpersisted)
    * because the sketch outlives any single query: `signatureSave`
    * persists it to parquet and `dedupIncremental` dedups an arriving
    * batch against it without touching the original corpus text. */
  def minhashSignatures(docs: DataFrame, pinned: Boolean = false): DataFrame = {
    // pinned: take the lead-window's doc_id exchange on the RAW
    // (doc_id, text) projection at pinned width (round-13 rule, §2.3):
    // fewer shuffled bytes than the exploded token rows, tokenize runs
    // at full width instead of the scan's split count (a 250-doc store
    // side measured as ONE 0.48 s task behind an AQE-coalesced
    // byte-light shuffle, q97 round-14 stage profile), and the window
    // + distinct + signature aggregate all reuse the one exchange.
    // Callers whose input is ALREADY doc_id-partitioned (the candidate
    // re-shingle join) keep the default — pinning there would ADD an
    // exchange.
    val base =
      if (pinned) graft.core.Layout.pinWidth(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      else docs
    val exploded = hashedShingleRows(base)
    val sigCols = (0 until NumPerms).map(p => min(permHash(p, col("s"))).as(s"h$p"))
    exploded.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, band, bkey) rows from a signature frame — one posexplode
    * over the 22 band keys of 3 rows each.
    *
    * SHUFFLE_HASH hint: the planner estimates this frame from the tiny
    * persisted signature table and does not see the ×Bands explode, so
    * it statically picks a BROADCAST join — collecting tens of millions
    * of band rows through the driver (hits spark.driver.maxResultSize
    * at 500 k docs; measured at sf10). Band keys hash-join fine and AQE
    * may still broadcast at runtime when the exact size is genuinely
    * small. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(array(bandKeyCols: _*)).as(Seq("band", "bkey")))
      .hint("shuffle_hash")

  /** The 22 band keys of a signature frame, one column per band (3
    * slots hashed together) — the keys `bandRows` explodes and the
    * ingest gate collects per batch doc and probes its store with. */
  private[graft] def bandKeyCols: Seq[Column] =
    (0 until Bands).map { b =>
      xxhash64((b * BandRows until (b + 1) * BandRows).map(p => col(s"h$p")): _*)
    }

  /** Sketch-estimated Jaccard at or above `threshold`: the share of the
    * 66 slots that agree, as one double division. `slotA`/`slotB` name
    * each side's slot column. Per-CANDIDATE math, never per-corpus, so
    * the 66 checked adds are off the hot path. */
  private[graft] def sketchNear(slotA: Int => Column, slotB: Int => Column,
                                threshold: Double): Column =
    (0 until NumPerms).map(p => when(slotA(p) === slotB(p), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(NumPerms.toDouble) >= threshold

  /** `sketchNear` on two collected sketches — the same rule on the
    * driver, for candidate pairs a gate has already collected. */
  private[graft] def sketchNear(a: Array[Long], b: Array[Long],
                                threshold: Double): Boolean = {
    var agree = 0
    var p = 0
    while (p < NumPerms) { if (a(p) == b(p)) agree += 1; p += 1 }
    agree.toDouble / NumPerms.toDouble >= threshold
  }

  /** MinHash + LSH near-duplicate pairs — the distributed dedup path.
    * Pipeline: hashed shingle rows → 66 min-hashes in ONE aggregation
    * pass → 22 band keys of 3 rows → shuffle-join on band key for
    * candidates → exact Jaccard verify on candidate docs only. No
    * cross join at any scale; candidates track the true-pair count
    * (SCALE.md: 1.1×/2.1×/11× of verified at 5 k/50 k/500 k docs). */
  def minhashPairs(docs: DataFrame, threshold: Double): Scoped[DataFrame] = {
    require(threshold > 0, "zero-intersection pairs are never emitted")
    // candidate pairs are consumed three times (id extraction + the two
    // verify joins); minhashCandidatePairs returns them persisted, so
    // the signature pipeline ran exactly once and its persist is
    // already released
    minhashCandidatePairs(docs).flatMap { candidates =>
      // Verify on FLAT SHINGLE ROWS, not arrays: per-pair
      // array_intersect over collected shingle arrays is CodegenFallback
      // (interpreted per element, and the intersect would run twice per
      // pair) — measured 2.5× slower than this equi-join form at 500 k
      // docs, where verify dominates the whole pipeline. Shingle rows of
      // ONLY the candidate docs (the id-join keeps the re-shingle off the
      // full corpus), then |∩| = count of (pair, shingle) matches and
      // sizes come from one group-by — every operator whole-stage
      // codegen'd. Hashed shingles are the same features the signatures
      // used; integer counts → one double division, engine-exact.
      val candIds = candidates
        .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
      val rows = hashedShingleRows(docs.join(candIds, Seq("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = rows.groupBy("doc_id").agg(count(lit(1)).cast("int").as("n"))
      val inter = candidates
        .join(rows.select(col("doc_id").as("a"), col("s")), Seq("a"))
        .join(rows.select(col("doc_id").as("bid"), col("s").as("s2")),
          col("b") === col("bid") && col("s") === col("s2"))
        .groupBy("a", "b").agg(count(lit(1)).cast("int").as("inter"))
      Scoped(inter
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .select(col("a"), col("b"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter"))).as("jaccard"))
        .where(col("jaccard") >= threshold)
        .orderBy("a", "b"))(rows.unpersist(blocking = false))
    }
  }

  /** SimHash near-duplicate candidate pairs via block-combination
    * banding (Manku, Jain & Sarma, "Detecting Near-Duplicates for Web
    * Crawling", WWW 2007): split the 60-bit fingerprint into
    * `maxHamming + 3` blocks; at most `maxHamming` blocks can contain a
    * differing bit, so for every 3-block subset S there is a table in
    * which two within-distance fingerprints agree — key one table per
    * subset on those 3 blocks (C(maxHamming+3, 3) tables). Recall is
    * 1.0 by construction (asserted in DedupRecallSpec); candidates are
    * verified with bit_count(xor) ≤ maxHamming, so banding affects only
    * the physical plan, never the output.
    *
    * Why not one band per block (maxHamming+1 single blocks): a
    * 60/(k+1)-bit key has so few distinct values that at corpus scale
    * every bucket holds ~N/2^8 docs and the bucket self-join explodes
    * quadratically. 3-block keys carry ~3·60/(k+3) bits (≈20 bits at
    * k=6) — bucket population drops by ~2^12 for a C(9,3)=84× row
    * expansion, the classic simhash-dedup trade. */
  /** Banded simhash candidate pairs with their hamming distance, BEFORE
    * the `hamming ≤ maxHamming` verification filter — exposed so scale
    * runs can measure the banding's candidate volume (SCALE.md "Corpus
    * dedup family").
    * Same persist discipline as minhashCandidatePairs: the fingerprint
    * table persists only until candidates materialize.
    *
    * `blockChoose` (B) is the band-key width in blocks: the fingerprint
    * splits into `maxHamming + B` blocks and every B-subset keys one
    * table — ≤ maxHamming differing bits dirty ≤ maxHamming blocks, so
    * ≥ B stay clean and some table matches (recall 1.0 by pigeonhole
    * for ANY B ≥ 1). B trades table count for key width:
    * B=3 at k=6 → C(9,3)=84 tables of ~20-bit keys; B=4 → C(10,4)=210
    * tables of ~24-bit keys. Wider keys matter when fingerprints
    * CLUSTER (same-domain corpora share vocabulary, so bit votes
    * correlate and 20-bit buckets over-fill — measured 31× candidate:
    * verified overhead at 5 k docs; see SCALE.md "Corpus dedup
    * family"). */
  def simhashCandidatePairs(docs: DataFrame, maxId: Long, maxHamming: Int,
                            blockChoose: Int = 3): Scoped[DataFrame] = {
    val (plan, sims) = simhashCandidatePlan(docs, maxId, maxHamming, blockChoose)
    // eager: materialize before releasing fingerprints
    Scoped(plan)(sims.unpersist(blocking = false)).materialize
  }

  /** Unpersisted candidate plan + persisted fingerprint frame, split out
    * for PlanAuditSpec (see minhashCandidatePlan). */
  private[graft] def simhashCandidatePlan(docs: DataFrame, maxId: Long, maxHamming: Int,
                                          blockChoose: Int): (DataFrame, DataFrame) = {
    val bits = 60
    val numBlocks = maxHamming + blockChoose
    require(numBlocks <= bits, s"maxHamming $maxHamming too large for $bits-bit simhash")
    // distribute the 60 bits as evenly as possible across the blocks
    val widths = (0 until numBlocks).map(b => bits / numBlocks + (if (b < bits % numBlocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    def block(b: Int): Column =
      shiftright(col("simhash"), starts(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    val tables = (0 until numBlocks).combinations(blockChoose).toSeq
    val sims = simhash(docs, maxId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shuffle_hash for the same reason as minhashCandidatePlan: the
    // ×tables explode is invisible to static size estimation, and a
    // planner-chosen broadcast of 10⁸ band rows kills the driver.
    //
    // Blocks materialize as a projection BEFORE the combination array:
    // inlining block(b) into every subset slot re-derives numBlocks·
    // C(n,B)/n shift/mask subtrees per slot (252 at B=3, k=6), and the
    // resulting tree costs ~3 s of Catalyst+Janino per FRESH plan —
    // 6× the 0.5 s the join itself executes in (measured round 6; the
    // bench builds a fresh plan per rep, so plan cost IS query cost).
    val withBlocks = sims.select(col("doc_id") +: col("simhash") +:
      (0 until numBlocks).map(b => block(b).as(s"blk$b")): _*)
    val bands = withBlocks.select(col("doc_id"), col("simhash"),
      posexplode(array(tables.map(s =>
        xxhash64(s.map(b => col(s"blk$b")): _*): Column): _*))
        .as(Seq("band", "bkey")))
      .hint("shuffle_hash")
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
    (candidates, sims)
  }

  def simhashPairs(docs: DataFrame, maxId: Long, maxHamming: Int,
                   blockChoose: Int = 3): Scoped[DataFrame] =
    simhashCandidatePairs(docs, maxId, maxHamming, blockChoose)
      .map(_.where(col("hamming") <= maxHamming).orderBy("a", "b"))

  /** Banded Hamming self-join over ARBITRARY caller-computed `bits`-bit
    * fingerprints (id: long, h: long) — the simhash block machinery
    * factored out so other fingerprint channels (image dHash, any
    * future pHash) reuse it instead of re-deriving the pigeonhole.
    * Exact recall at `maxHamming`: maxHamming + blockChoose blocks, a
    * pair within the radius disagrees on ≤ maxHamming of them, so some
    * blockChoose-subset of agreeing blocks lands it in a band bucket.
    * shuffle_hash on the band join (the explode-blinded-broadcast
    * rule); fingerprints persist only through candidate
    * materialization; the scope releases the persisted pairs. Output
    * (a, b, hamming ≤ maxHamming), ordered. */
  def hammingPairs(hashes: DataFrame, bits: Int, maxHamming: Int,
                   blockChoose: Int = 3): Scoped[DataFrame] = {
    val sigs = hashes.select(col("id").cast("long").as("id"), col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = hammingBandRows(sigs, bits, maxHamming, blockChoose)
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    // eager: materialize before releasing fingerprints
    Scoped(candidates)(sigs.unpersist(blocking = false)).materialize
      .map(_.orderBy("a", "b"))
  }

  /** Band rows (id, h, [carry...], band, bkey) for the pigeonhole
    * Hamming join — shared by `hammingPairs` and the streaming
    * fingerprint gates. Join two band-row frames on (band, bkey),
    * verify with bit_count(xor). `carry` names extra columns to keep
    * through the explode (the multi-part gate's part index / part
    * count); `hint=false` drops the shuffle_hash hint for callers that
    * broadcast one side instead (store-probe joins). */
  private[graft] def hammingBandRows(hashes: DataFrame, bits: Int,
                                     maxHamming: Int,
                                     blockChoose: Int,
                                     carry: Seq[String] = Nil,
                                     hint: Boolean = true): DataFrame = {
    val (blocks, tables) = hammingLayout(bits, maxHamming, blockChoose)
    def block(b: Int): Column =
      shiftright(col("h"), blocks(b)._1).bitwiseAND(lit(blocks(b)._2))
    val withBlocks = hashes.select(col("id") +: col("h") +:
      (carry.map(col) ++
        blocks.indices.map(b => block(b).as(s"blk$b"))): _*)
    val rows = withBlocks.select(col("id") +: col("h") +:
      (carry.map(col) :+
        posexplode(array(tables.map(s =>
          xxhash64(s.map(b => col(s"blk$b")): _*): Column): _*))
          .as(Seq("band", "bkey"))): _*)
    if (hint) rows.hint("shuffle_hash") else rows
  }

  /** `hammingBandRows`' bands of one fingerprint on the driver: per
    * band, in band order, the block values its `bkey` hashes — so two
    * fingerprints within `maxHamming` bits share some band's values
    * exactly when their band rows share a (band, bkey). For a gate that
    * has already collected its batch fingerprints. */
  private[graft] def hammingBandBlocks(bits: Int, maxHamming: Int,
                                       blockChoose: Int): Long => Seq[Seq[Long]] = {
    val (blocks, tables) = hammingLayout(bits, maxHamming, blockChoose)
    h => tables.map(_.map { b => (h >> blocks(b)._1) & blocks(b)._2 })
  }

  // the pigeonhole layout both band forms cut: maxHamming + blockChoose
  // near-equal blocks as (start bit, mask), and the bands as
  // blockChoose-subsets of block indices, in band order
  private def hammingLayout(bits: Int, maxHamming: Int, blockChoose: Int)
      : (IndexedSeq[(Int, Long)], Seq[IndexedSeq[Int]]) = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    require(maxHamming >= 0 && blockChoose >= 1, "non-negative radius")
    val numBlocks = maxHamming + blockChoose
    require(numBlocks <= bits,
      s"maxHamming $maxHamming too large for $bits-bit fingerprints")
    val widths = (0 until numBlocks).map(b =>
      bits / numBlocks + (if (b < bits % numBlocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    (starts.zip(widths.map(w => if (w == 64) -1L else (1L << w) - 1)),
      (0 until numBlocks).combinations(blockChoose).toSeq)
  }

  /** Near-duplicate cluster closure: connected components over verified
    * pair edges → (doc_id, component), component = min doc_id of the
    * cluster (a doc survives dedup iff doc_id == component). Chains
    * collapse transitively: (1,2) + (2,3) is one cluster even when
    * (1,3) itself is below the pair threshold — the reference's
    * keep-first semantics applied to near-dup groups.
    *
    * GraphX connectedComponents is the scale path: Pregel min-label
    * propagation, O(cluster diameter) supersteps — near-dup clusters
    * are shallow, and the edge set (verified pairs) is tiny next to the
    * corpus. Docs with no near-dup edge stay their own component. The
    * scope releases the graphs GraphX leaves cached. */
  def nearDupComponents(docs: DataFrame, edges: DataFrame,
                        maxId: Long): Scoped[DataFrame] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persist the edge RDD: `isEmpty` and the graph build are two
    // executions of the whole verify pipeline otherwise (the pairs
    // frame arrives unpersisted). Pregel runs eagerly inside
    // connectedComponents (per-superstep actions), so the release
    // after `.vertices` is safe — the result is already computed and
    // cached by GraphX when we get it back.
    val raw = edges.select(col("a").cast("long"), col("b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comp =
      if (raw.isEmpty()) {
        raw.unpersist(blocking = false)
        Scoped.pure(Seq.empty[(Long, Long)].toDF("doc_id", "component"))
      } else {
        val components = connectedComponents(raw)
        raw.unpersist(blocking = false)
        components.map(_.toDF("doc_id", "component"))
      }
    comp.map(c => docs.where(col("doc_id") < maxId).select("doc_id")
      .join(c, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id"))
  }

  /** GraphX connected components of an edge list: (vertex, min vertex
    * id of its component) rows. The scope releases the input and result
    * graphs GraphX leaves cached. */
  private[graft] def connectedComponents(
      edges: org.apache.spark.rdd.RDD[(Long, Long)]): Scoped[org.apache.spark.rdd.RDD[(Long, Long)]] = {
    val g = org.apache.spark.graphx.Graph.fromEdgeTuples(edges, 1)
    val cc = g.connectedComponents()
    Scoped(cc.vertices.map { case (id, c) => (id: Long, c: Long) }) {
      cc.unpersist(blocking = false)
      g.unpersist(blocking = false)
    }
  }

  /** End-to-end corpus dedup — the one-call 100 TB path: MinHash-LSH
    * candidate pairs (banded, no cross join) → exact-Jaccard verify →
    * connected-components closure → keep the minimum doc_id of every
    * near-dup cluster. Returns the surviving rows of `docs`. */
  def dedupCorpus(docs: DataFrame, threshold: Double): Scoped[DataFrame] =
    minhashPairs(docs, threshold)
      .flatMap(pairs => nearDupComponents(docs, pairs.select("a", "b"), Long.MaxValue))
      .map(comps => docs.join(
        comps.where(col("doc_id") === col("component")).select("doc_id"), Seq("doc_id")))

  /** Persist the corpus MinHash sketch to parquet — the signature-store
    * half of INCREMENTAL dedup (`dedupIncremental`): a 100 TB pipeline
    * dedups each arriving batch against the sketch of everything kept
    * so far, never against the original text. `mode = "append"` adds a
    * batch's kept signatures to an existing store. 66 longs per doc:
    * the store is ~0.5 KB/doc regardless of document size. */
  def signatureSave(docs: DataFrame, path: String, mode: String = "overwrite"): Unit =
    minhashSignatures(docs, pinned = true).write.mode(mode).parquet(path)

  def signatureLoad(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental near-duplicate dedup of an arriving batch against a
    * signature store (+ within the batch itself): returns the rows of
    * `newDocs` that survive. A new doc drops if it matches ANY store
    * doc (the store is canonical — id order is irrelevant across the
    * boundary) or a smaller-id batch doc (keep-first within the batch,
    * same policy as `dedupCorpus`).
    *
    * Verification is SKETCH-ESTIMATED Jaccard — the fraction of the 66
    * signature slots that agree (an unbiased estimator; σ ≈ √(J(1−J)/66)
    * ≈ 0.06 at J = 0.5) — because the store deliberately holds no text.
    * That is the standard trade of the incremental regime: the store
    * stays ~0.5 KB/doc and batch cost is O(batch), not O(corpus).
    * `DedupIncrementalSpec` pins agreement with the exact full-corpus
    * path on the driver testdata.
    *
    * Shapes for scale: batch bands shuffle-hash-join the store bands on
    * (band, bkey) — the store side streams, only matching keys move;
    * candidates are distinct pairs (tiny next to either side); the
    * 66-slot comparison is a projection over candidate rows. The batch
    * sketch is persisted only until the drop set materializes (the
    * minhashCandidatePairs discipline); the scope releases the persisted
    * drop set. Contract: doc_ids are globally unique across store and
    * batch. */
  def dedupIncremental(newDocs: DataFrame, storeSigs: DataFrame,
                       threshold: Double): Scoped[DataFrame] = {
    val newSigs = minhashSignatures(newDocs, pinned = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    newSigs.count()
    val drops = sketchDrops(newSigs, storeSigs, threshold)
    drops.count() // materialize, then release the batch sketch
    newSigs.unpersist(blocking = false)
    Scoped(newDocs.join(drops, Seq("doc_id"), "left_anti"))(drops.unpersist(blocking = false))
  }

  /** The drop set of `dedupIncremental` computed directly on signature
    * frames: batch doc_ids with a sketch-Jaccard ≥ `threshold` match in
    * the store or at a smaller batch id. Split out so callers that
    * already hold the batch sketch (the streaming ingest path, which
    * must also APPEND survivors' signatures to the store) hash each
    * document exactly once. Caller persists `newSigs` (it is read 4×
    * here) and materializes the result before releasing it; the frame
    * returned is persisted and owned by the caller. */
  def sketchDrops(newSigs: DataFrame, storeSigs: DataFrame,
                  threshold: Double): DataFrame =
    sketchDropIds(newSigs, storeSigs, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** `sketchDrops` unpersisted, for a caller that collects the ids
    * (the streaming gate). */
  private[graft] def sketchDropIds(newSigs: DataFrame, storeSigs: DataFrame,
                                   threshold: Double): DataFrame = {
    val store = storeSigs.select(newSigs.columns.map(col).toIndexedSeq: _*)
    val nb = bandRows(newSigs)
    val candVsStore = nb.as("x").join(bandRows(store).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("a"), col("x.doc_id").as("b")).distinct()
    val candInBatch = nb.as("x").join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val sigsAll = store.unionByName(newSigs)
    def side(tag: String) = sigsAll.toDF(sigsAll.columns.map(c =>
      if (c == "doc_id") tag else s"${c}_$tag").toIndexedSeq: _*)
    candVsStore.unionByName(candInBatch).distinct()
      .join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .where(sketchNear(p => col(s"h${p}_a"), p => col(s"h${p}_b"), threshold))
      .select(col("b").as("doc_id")).distinct()
  }

  /** Doc-level CROSS-corpus near-duplicate pairs: which documents of
    * `b` near-duplicate a document of `a` — the whole-document face of
    * train/eval contamination (q114 reports k-gram containment per
    * eval item; this reports document matches with a similarity
    * estimate), and the A-vs-B form of the q97 store join. Similarity
    * is sketch-estimated Jaccard — the fraction of the 66 MinHash
    * slots that agree (the `dedupIncremental` trade: neither corpus's
    * text is ever joined) — reported as exact ppm ints
    * (`agree·10⁶ div 66`), thresholded at the ppm floor.
    *
    * Shapes: two signature passes (one per corpus), a banded
    * `shuffle_hash` equi-join that only moves matching (band, bkey)
    * keys, distinct candidates, then the 66-slot agreement as a
    * per-candidate projection. No cross join at any scale; candidate
    * volume tracks the true cross-dup count like `minhashPairs`'.
    *
    * Each corpus's 66-minhash aggregation feeds BOTH the band candidate
    * join and the slot-agreement join, so the signatures are persisted
    * (the round-1 shared-subplan rule — Spark re-executes an
    * unpersisted subplan per consumer); the scope releases them. */
  def crossNearDups(a: DataFrame, b: DataFrame,
                    threshold: Double): Scoped[DataFrame] = {
    val sa = minhashSignatures(a, pinned = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sb = minhashSignatures(b, pinned = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandRows(sa).as("x").join(bandRows(sb).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
    def side(s: DataFrame, tag: String) = s.toDF(s.columns.map(c =>
      if (c == "doc_id") s"${tag}_id" else s"${c}_$tag").toIndexedSeq: _*)
    val agree = (0 until NumPerms).map(p =>
      when(col(s"h${p}_a") === col(s"h${p}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val res = cand.join(side(sa, "a"), Seq("a_id")).join(side(sb, "b"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), agree.as("agree"))
      .select(col("a_id"), col("b_id"),
        expr(s"(agree * 1000000) div $NumPerms").as("est_ppm"))
      .where(col("est_ppm") >= math.round(threshold * 1000000))
      .orderBy("a_id", "b_id")
    Scoped(res) { sa.unpersist(blocking = false); sb.unpersist(blocking = false) }
  }

  /** Dedup with QUALITY-AWARE canonical selection: near-dup components
    * (exact-verified Jaccard pairs → connected components, the q72
    * closure) keep their LONGEST member instead of the minimum id —
    * the "keep the best copy" policy real pipelines prefer, since the
    * shortest crawl of a duplicated page is usually the truncated one.
    * Quality key = (token count desc, doc_id asc): integer-exact, so
    * the choice is deterministic and oracle-checkable.
    *
    * One broadcast-sized window per component: `first(doc_id)` over the
    * quality ordering resolves the canonical member for every row (the
    * default frame always contains the top row), and `keep` falls out
    * as an equality — no second join, no argmax subquery. Components
    * are near-dup clusters (tiny — bounded by the verified pair graph),
    * so the window partitions stay small at any corpus size. */
  def dedupKeepBest(docs: DataFrame, maxId: Long,
                    threshold: Double): Scoped[DataFrame] = {
    val quality = docs.where(col("doc_id") < maxId)
      .select(col("doc_id"), size(split(lower(trim(col("text"))), " ")).as("n_tok"))
    val w = Window.partitionBy("component")
      .orderBy(col("n_tok").desc, col("doc_id").asc)
    ngramJaccardPairs(docs, maxId, threshold)
      .flatMap(pairs => nearDupComponents(docs, pairs.select("a", "b"), maxId))
      .map(_.join(quality, Seq("doc_id"))
        .withColumn("canonical", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("component"), col("n_tok"), col("canonical"),
          (col("doc_id") === col("canonical")).as("keep"))
        .orderBy("doc_id"))
  }

  /** 60-bit SimHash per document over distinct 3-gram SHINGLE features
    * (Manku, Jain & Sarma, WWW 2007 §3 — phrase features, not unigrams):
    * each shingle's hash votes ±1 per bit; the sign vector is the
    * fingerprint. One explode + one aggregation — fully distributed.
    *
    * Unigram features are a measured scale trap: every same-domain doc
    * shares the corpus vocabulary, so per-bit votes correlate and
    * UNRELATED docs land within small hamming distance of each other —
    * at 50 k synthetic docs the hamming ≤ 6 pair set (and with it the
    * banded candidate volume) grew quadratically, 99 M candidates for
    * one 50 k corpus (SCALE.md "Corpus dedup family", round 3).
    * Distinct 3-gram shingles decorrelate the features (the shingle
    * space is |vocab|³), which
    * collapses both the noise-pair set and the candidate volume while
    * keeping genuinely overlapping docs (who share most shingles) at
    * tiny hamming distance. */
  def simhash(docs: DataFrame, maxId: Long): DataFrame = {
    // raw-corpus input at every caller: take the shingle window's
    // doc_id exchange on the (doc_id, text) projection at pinned width
    // (round-13 rule — fewer shuffled bytes, tokenize at full width)
    val sh = hashedShingleRows(graft.core.Layout.pinWidth(
      docs.where(col("doc_id") < maxId).select(col("doc_id"), col("text")),
      col("doc_id")))
    val bitSums = (0 until 60).map { b =>
      sum(when(shiftright(col("s"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = sh.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    // assemble with bitwiseOR, not `+`: the addends are disjoint bit
    // values so OR is semantics-identical, and it avoids 60 chained
    // ANSI overflow-checked adds in the hot per-doc path (checked
    // arithmetic measured 4× slower than bitwise/hash ops in wide
    // aggregates — see CLAUDE.md performance rules)
    val sim = (0 until 60).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    agg.select(col("doc_id"), sim.as("simhash"))
      .orderBy("doc_id")
  }

  /** Exact-substring duplicated spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the EXACTSUBSTR
    * half, companion to the MinHash NEARDUP family above): the maximal
    * token ranges of each document covered by some `k`-token run that
    * also appears verbatim in another document. Pipelines CUT these
    * spans instead of dropping whole documents — the policy the paper
    * found strictly better for boilerplate (licenses, headers,
    * templated paragraphs) embedded in otherwise-unique pages.
    *
    * The paper builds a corpus suffix array; relationally the same set
    * falls out without one: a position starts a duplicated run iff its
    * `k`-gram has document frequency ≥ 2, and maximal spans are the
    * gaps-and-islands closure of those fixed-length intervals
    * [pos, pos+k−1] — merge while the next start is ≤ current end + 1.
    * Emits (doc_id, span_start, span_len, n_grams) per span, 0-based
    * token offsets, so a downstream cutter slices text by token index.
    *
    * Shape for scale: gram rows → (doc, sh)-distinct df agg with
    * map-side combine → equi-join back on the gram key (co-partitioned
    * with the agg, AQE splits skewed boilerplate grams) → per-doc
    * windows run over MATCHING positions only (the duplicated subset,
    * tiny next to the corpus). Nothing materializes per-doc arrays and
    * no stage sees the corpus in one partition. The scope releases the
    * persisted gram frame (consumed by the df agg and the join-back). */
  def exactSubstrSpans(docs: DataFrame, k: Int = 5): Scoped[DataFrame] = {
    val grams = gramRows(tokenRows(docs), k)
    val hits = coveredStarts(grams)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    // gaps-and-islands over fixed-length intervals: a start opens a new
    // span iff it lies past the running max end + 1 (adjacent coverage
    // merges); island id = running count of opens
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
    val res = hits
      .withColumn("opens",
        when(col("pos") > coalesce(prevEnd, lit(-1)) + 1, 1).otherwise(0))
      .withColumn("island", sum(col("opens")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k) - min(col("pos"))).as("span_len"),
        count(lit(1)).cast("int").as("n_grams"))
      .select("doc_id", "span_start", "span_len", "n_grams")
      .orderBy("doc_id", "span_start")
    Scoped(res)(grams.unpersist(blocking = false))
  }

  /** Token rows (doc_id, pos, w), 0-based. */
  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))

  /** k-gram rows (doc_id, pos, sh) from token rows. PERSISTED by
    * default (the df agg and the join-back both consume them; caller
    * releases); `doPersist = false` for single-consumer plans. */
  private def gramRows(tok: DataFrame, k: Int,
                       doPersist: Boolean = true): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = (1 until k).foldLeft(tok) { (d, i) =>
      d.withColumn(s"w$i", lead(col("w"), i).over(wDoc))
    }
    val grams = withNext.where(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (col("w") +: (1 until k).map(i => col(s"w$i"))): _*).as("sh"))
    if (!doPersist) grams
    else {
      val p = grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
  }

  /** Positions that START a duplicated k-gram (df ≥ 2 over docs).
    * The duplicated-gram set scales with corpus dup density — never
    * let the static planner broadcast it (its estimate is blinded by
    * the upstream window/agg); AQE may still broadcast from exact
    * runtime sizes. */
  private def coveredStarts(grams: DataFrame): DataFrame = {
    val dupGrams = grams.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select("sh")
    grams.join(dupGrams.hint("shuffle_hash"), Seq("sh")).select("doc_id", "pos")
  }

  /** The consumer-facing half of EXACTSUBSTR: the corpus with every
    * duplicated span CUT OUT — kept tokens reassembled in position
    * order, plus the (n_tok, n_cut) accounting. Every input doc emits
    * one row (unduplicated docs pass through verbatim; fully-covered
    * docs emit an empty `cut_text`), so the output IS the training
    * corpus after span removal.
    *
    * Covered positions = the union of [pos, pos+k−1] over duplicated
    * gram starts — one `sequence` explode over the (tiny) hit set,
    * distinct, then a left join back to token rows. Reassembly builds
    * one doc-sized array per document (sort_array over collected
    * (pos, w) structs — per-doc arrays are bounded by document length,
    * the urlKeyMerge cold-path contract; the corpus never concentrates
    * in one partition because the group key is doc_id). */
  def exactSubstrCut(docs: DataFrame, k: Int = 5): Scoped[DataFrame] = {
    val tok = tokenRows(docs)
    val grams = gramRows(tok, k)
    Scoped(cutDocs(tok, coverage(coveredStarts(grams), k)))(
      grams.unpersist(blocking = false))
  }

  /** Positions covered by the union of [pos, pos+k−1] over gram
    * starts — one `sequence` explode over the (tiny) hit set. */
  private def coverage(starts: DataFrame, k: Int): DataFrame =
    starts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("cv", lit(1))

  /** Reassemble each doc with covered positions removed: one row per
    * doc with (n_tok, n_cut) accounting. Per-doc arrays are bounded by
    * document length (the urlKeyMerge cold-path contract); the corpus
    * never concentrates in one partition because the group key is
    * doc_id. */
  private def cutDocs(tok: DataFrame, cov: DataFrame): DataFrame =
    // the coverage set scales with dup density (sequence-explode output
    // — statically unsized): pin shuffle_hash so a dup-heavy corpus
    // can't static-broadcast a corpus-sized frame; AQE re-plans small
    // coverage sets to broadcast from runtime sizes
    tok.join(cov.hint("shuffle_hash"), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_tok"),
        sum(when(col("cv") === 1, 1).otherwise(0)).cast("int").as("n_cut"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("cv").isNull,
            struct(col("pos"), col("w"))))),
          x => x("w"))).as("cut_text"))
      .orderBy("doc_id")

  /** Corpus-wide heavy-hitter k-grams: the exact top-`topN` grams by
    * total occurrence count (ties → lexical gram order), with the
    * number of distinct docs each appears in — the boilerplate table a
    * C4/RefinedWeb-style curation pass consults before stripping
    * templated content. Reference analog: the duplicated-content
    * accounting the EXACTSUBSTR family serves (exactSubstrSpans),
    * aggregated corpus-wide instead of per-doc.
    *
    * Shape for scale: one hash agg over gram rows with map-side
    * combine, then TakeOrdered for the top-N — no window, no sort of
    * the full gram table. */
  def heavyHitterGrams(docs: DataFrame, k: Int = 5, topN: Int = 50): DataFrame =
    gramRows(tokenRows(docs), k, doPersist = false)
      .groupBy("sh")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("sh"))
      .limit(topN)

  /** Heavy-hitter k-grams via the DataSketches frequent-items sketch
    * (`approx_top_k`) — the third face of the heavy-hitter family and
    * the operationally strongest at scale: exact `heavyHitterGrams`
    * shuffles every distinct gram; the CMS form (`cmsHeavyHitters`)
    * is bounded but needs a candidate pass to name items; the
    * frequent-items sketch TRACKS ITEMS INTERNALLY (maxTracked
    * entries, merged map-side), so one aggregation yields named top-N
    * with estimated counts and no second pass over the corpus.
    * FOOTGUN (measured, Spark 4.1): `approx_top_k` returns an EMPTY
    * array — no error, no partial result — the moment distinct items
    * exceed `maxItemsTracked` (pinned by `DedupSpec`). So `maxTracked`
    * must be sized ≥ the distinct-gram cardinality (default = the
    * engine's hard cap, 10⁶; the q139/q143 cardinality audits tell
    * you the number), and past 10⁶ distinct grams the CMS form is the
    * only bounded-memory path. Below capacity the counts are exact,
    * which is what `DedupSpec` pins against q104. */
  def heavyHittersSketch(docs: DataFrame, k: Int = 5, topN: Int = 25,
                         maxTracked: Int = 1000000): DataFrame =
    gramRows(tokenRows(docs), k, doPersist = false)
      .agg(expr(s"approx_top_k(sh, $topN, $maxTracked)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("sh"), col("e.count").as("n_occ_est"))
      .orderBy(col("n_occ_est").desc, col("sh"))

  /** Approximate heavy-hitter k-grams via a Count-Min sketch (Cormode
    * & Muthukrishnan 2005) — the bounded-memory form of
    * `heavyHitterGrams` for corpora where the exact gram aggregation's
    * shuffle IS the bottleneck: the sketch state is `depth × width`
    * counters REGARDLESS of gram cardinality (32 k rows here vs one
    * row per distinct gram — at 100 TB that's MBs vs TBs of shuffle),
    * built in one pass with map-side combine.
    *
    * Candidates come from the distinct grams of a deterministic
    * 1/`sampleMod` hash-sample of docs — boilerplate by definition
    * recurs across docs, so a doc sample contains every true heavy
    * hitter with overwhelming probability (missing requires the gram
    * to dodge all sampled docs). Each candidate's estimate is the MIN
    * over the `depth` counter rows (CMS never under-counts:
    * `n_occ_est >= true n_occ` always, pinned by `DedupSpec` together
    * with planted-boilerplate recovery). Top-N is meaningful when true
    * hitters exceed the collision noise floor (≈ total gram
    * occurrences / width per counter row) — the regime real boilerplate
    * lives in; on a flat count distribution the head is tie-noise.
    *
    * Shape for scale: gram pass → depth×width agg (bounded, broadcast
    * back) → candidate distinct (sample-sized) → broadcast join on
    * (row, bucket) → per-gram min. No full-cardinality shuffle
    * anywhere; the exact variant remains the right call when the
    * distinct-gram table fits (it also yields `n_docs`). */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 5, topN: Int = 25,
                      depth: Int = 4, width: Int = 8192,
                      sampleMod: Int = 8): DataFrame =
    cmsTopK(docs, cmsSketch(docs, k, depth, width),
      k, topN, depth, width, sampleMod)

  /** The (r, bucket) coordinate rows a gram `sh` touches — one per
    * sketch row, hashed with the row index as the salt. */
  private def cmsRows(depth: Int, width: Int): Column =
    explode(array((0 until depth).map(j =>
      struct(lit(j).as("r"),
        pmod(xxhash64(col("sh"), lit(j)), lit(width.toLong)).as("bucket"))): _*))

  /** Per-gram CMS estimate: min over the `depth` counter rows. The
    * sketch side is depth×width rows at most — always broadcast. */
  private def cmsEstimate(cand: DataFrame, sketch: DataFrame,
                          depth: Int, width: Int): DataFrame = {
    val s = sketch.select(col("r"), col("bucket"), col("cnt"))
    cand.select(col("sh"), cmsRows(depth, width).as("rb"))
      .join(broadcast(s),
        col("rb.r") === s("r") && col("rb.bucket") === s("bucket"))
      .groupBy("sh")
      .agg(min(col("cnt")).as("n_occ_est"))
  }

  /** The CMS counter state of a corpus's k-grams: (r, bucket, cnt),
    * at most depth×width rows. Counters are ADDITIVE, which is the
    * whole point of the sketch as pipeline state: bucket-summing two
    * corpora's sketches (`cmsMerge`) equals sketching their union
    * BIT-FOR-BIT — so heavy-hitter tracking over an unbounded ingest
    * stream carries ≤ depth·width longs forward, never the text, and
    * incremental maintenance loses nothing vs a full recompute
    * (pinned by `DedupSpec`). */
  def cmsSketch(docs: DataFrame, k: Int = 5,
                depth: Int = 4, width: Int = 8192): DataFrame =
    gramRows(tokenRows(docs), k, doPersist = false)
      .select(cmsRows(depth, width).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge two CMS sketches of identical (k, depth, width) geometry:
    * bucket-wise counter sum. Exactly equals the sketch of the
    * concatenated corpora. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("r"), col("bucket"), col("cnt"))
      .unionByName(b.select(col("r"), col("bucket"), col("cnt")))
      .groupBy("r", "bucket")
      .agg(sum(col("cnt")).as("cnt"))

  /** Top-`topN` heavy hitters among `candDocs`' k-grams, estimated
    * against an EXTERNAL sketch (a `cmsSketch` of a much larger
    * corpus, or a `cmsStoreLoad`ed running store): the query half of
    * incremental heavy-hitter tracking. `sampleMod` > 1 hash-samples
    * the candidate docs as in `cmsHeavyHitters`. */
  def cmsTopK(candDocs: DataFrame, sketch: DataFrame, k: Int = 5,
              topN: Int = 25, depth: Int = 4, width: Int = 8192,
              sampleMod: Int = 1): DataFrame = {
    // sample DOCS before tokenizing (not gram rows after): the filter
    // lands at the scan, so the tokenize/window/distinct chain only
    // ever sees the 1/sampleMod slice — and nothing here needs a
    // persist, so no corpus-sized gram table is ever materialized
    // (measured 1.7× total speedup at 500 k docs vs the shared-persist
    // form, SCALE.md round 6)
    val sampled = if (sampleMod > 1)
      candDocs.where(pmod(xxhash64(col("doc_id")), lit(sampleMod.toLong)) === 0)
    else candDocs
    val cand = gramRows(tokenRows(sampled), k, doPersist = false)
      .select("sh").distinct()
    cmsEstimate(cand, sketch, depth, width)
      .orderBy(col("n_occ_est").desc, col("sh"))
      .limit(topN)
  }

  /** On-disk CMS store with generation directories (`g0`, `g1`, …):
    * a merge is read-latest → bucket-sum → write-next → prune, so a
    * crash between write and prune just leaves an extra generation
    * behind (next load reads the newest). Replaying a batch after a
    * restart over-counts — which keeps the CMS one-sided guarantee
    * (estimates only ever overshoot), the same at-least-once stance
    * as `IngestDedup`/`IngestVectors`.
    *
    * The (k, depth, width) GEOMETRY is part of the store: counters
    * from sketches of different geometry are incomparable (summing
    * them yields pure collision noise, not an over-estimate), so the
    * save writes a one-row `meta` table and every merge/query
    * require()s it matches. Saving over an existing store is rejected
    * — a second initialization would silently discard the newest
    * generation's counts (use `cmsStoreMerge` to fold batches in). */
  def cmsStoreSave(sketch: DataFrame, path: String, k: Int = 5,
                   depth: Int = 4, width: Int = 8192): Unit = {
    val spark = sketch.sparkSession
    require(cmsStoreGens(spark, path).isEmpty,
      s"$path already holds a CMS store — use cmsStoreMerge to fold batches in")
    import spark.implicits._
    Seq((k, depth, width)).toDF("k", "depth", "width")
      .coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(path, "meta").toString)
    sketch.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(path, "g0").toString)
  }

  /** The store's sketch geometry, as written by `cmsStoreSave`. A
    * store with generations but no `meta/` predates the geometry
    * check — fail with the recovery path, not a raw
    * path-not-found AnalysisException from the parquet reader. */
  def cmsStoreGeometry(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Int, Int, Int) = {
    val meta = new org.apache.hadoop.fs.Path(path, "meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(meta),
      s"$path is a pre-geometry CMS store (generations exist but no meta/): " +
        "rewrite it once with cmsStoreSave(cmsStoreLoad(spark, path), newPath, " +
        "k, depth, width) using the geometry it was built with, then merge there")
    val m = spark.read.parquet(meta.toString)
      .select(col("k"), col("depth"), col("width")).head()
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  private def requireGeometry(spark: org.apache.spark.sql.SparkSession,
                              path: String, k: Int, depth: Int,
                              width: Int): Unit = {
    val g = cmsStoreGeometry(spark, path)
    require(g == ((k, depth, width)),
      s"CMS store $path has geometry (k,depth,width)=$g, caller passed " +
        s"(${k},${depth},${width}) — estimates across geometries are collision noise")
  }

  private def cmsStoreGens(spark: org.apache.spark.sql.SparkSession,
                           path: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.matches("g\\d+") => s.drop(1).toInt }
      .sorted
  }

  /** True iff `path` holds at least one generation of a CMS store
    * (an empty or missing directory is "no store" — first ingest
    * batch initializes it). */
  def cmsStoreExists(spark: org.apache.spark.sql.SparkSession,
                     path: String): Boolean =
    cmsStoreGens(spark, path).nonEmpty

  def cmsStoreLoad(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val gens = cmsStoreGens(spark, path)
    require(gens.nonEmpty, s"$path is not a cmsStoreSave store")
    spark.read.parquet(
      new org.apache.hadoop.fs.Path(path, s"g${gens.last}").toString)
  }

  /** Fold a batch's sketch into the store: one bounded merge write,
    * O(depth·width) regardless of how much text the store has seen.
    * Rejects a (k, depth, width) that differs from the store's saved
    * geometry — bucket-summing mismatched sketches is collision noise. */
  def cmsStoreMerge(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, k: Int = 5,
                    depth: Int = 4, width: Int = 8192): Unit = {
    val gens = cmsStoreGens(spark, path)
    require(gens.nonEmpty, s"$path is not a cmsStoreSave store")
    requireGeometry(spark, path, k, depth, width)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged = cmsMerge(
      spark.read.parquet(new org.apache.hadoop.fs.Path(root, s"g${gens.last}").toString),
      cmsSketch(batch, k, depth, width))
    merged.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, s"g${gens.last + 1}").toString)
    gens.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"g$g"), true)
    }
  }

  /** Geometry-safe query form of `cmsTopK` against an on-disk store:
    * reads (k, depth, width) from the store's own `meta` table, so a
    * caller can never estimate with mismatched hash coordinates. */
  def cmsStoreTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   candDocs: DataFrame, topN: Int = 25,
                   sampleMod: Int = 1): DataFrame = {
    val (k, depth, width) = cmsStoreGeometry(spark, path)
    cmsTopK(candDocs, cmsStoreLoad(spark, path), k, topN, depth, width, sampleMod)
  }

  /** The purge half of the heavy-hitter table: cut every occurrence of
    * the corpus's top-`topN` k-grams out of every document (the C4
    * "remove boilerplate lines" analog at k-gram granularity). Same
    * output contract as `exactSubstrCut`: one row per input doc,
    * covered tokens removed, (n_tok, n_cut) accounting.
    *
    * The heavy-hitter list is topN rows → broadcast to the join-back;
    * coverage/reassembly reuse the EXACTSUBSTR cut machinery. */
  def boilerplateCut(docs: DataFrame, k: Int = 5,
                     topN: Int = 50): Scoped[DataFrame] = {
    val tok = tokenRows(docs)
    val grams = gramRows(tok, k)
    val hh = grams.groupBy("sh").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("sh"))
      .limit(topN)
      .select("sh")
    val starts = grams.join(broadcast(hh), Seq("sh")).select("doc_id", "pos")
    Scoped(cutDocs(tok, coverage(starts, k)))(grams.unpersist(blocking = false))
  }

  /** Per-document memorization-risk audit (Carlini et al., "Quantifying
    * Memorization Across Neural Language Models", 2022: sequence
    * memorization probability rises with corpus duplication count).
    * For each document: how many of its k-gram positions start a
    * sequence that repeats corpus-wide ≥ `minFreq` times, the worst
    * repeat count seen, and the risky fraction — the per-doc triage
    * face of `heavyHitterGrams` (corpus-wide) and `exactSubstrSpans`
    * (span extraction). Docs shorter than k tokens report 0 grams.
    *
    * Shape for scale: gram frequencies aggregate BEFORE the join back
    * (map-side combine; the freq side is distinct-gram-bounded), the
    * join shuffles both sides on the gram key — linear, never
    * quadratic — and the final per-doc agg is one hash agg. */
  def memorizationRisk(docs: DataFrame, k: Int = 5,
                       minFreq: Int = 2): Scoped[DataFrame] = {
    val grams = gramRows(tokenRows(docs), k) // persisted: freq agg + join-back
    val freq = grams.groupBy("sh").agg(count(lit(1)).as("n_occ"))
    val perDoc = grams.join(freq, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        max(col("n_occ")).as("max_freq"),
        sum(when(col("n_occ") >= minFreq, 1L).otherwise(0L)).as("n_risky"))
    val res = docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("max_freq"), lit(0L)).as("max_freq"),
        coalesce(col("n_risky"), lit(0L)).as("n_risky"),
        when(col("n_grams").isNull || col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_risky").cast("double") / col("n_grams"))
          .as("risk_frac"))
      .orderBy("doc_id")
    Scoped(res)(grams.unpersist(blocking = false))
  }

  /** Edit-distance similarity join: ALL pairs of strings within
    * Levenshtein distance `maxDist`, without an all-pairs comparison —
    * the fuzzy-key flavor of the near-dup family (entity/URL/title
    * resolution, typo-clustering), exact by construction so the DuckDB
    * `levenshtein` oracle hash-matches it end-to-end (no recall dial).
    *
    * Blocking is the q-gram prefix filter (Gravano et al. 2001's
    * count-filter bound; Xiao, Wang & Lin 2008 "Ed-Join"'s prefix
    * form): an edit operation destroys at most `q` of a string's
    * `len − q + 1` positional q-grams, so two strings within distance
    * d share ≥ max(len) − q + 1 − d·q gram occurrences — and with all
    * grams ordered by (global frequency asc, gram asc), any such pair
    * must collide inside each side's first d·q + 1 grams (the RAREST
    * ones, which is what keeps per-gram candidate lists small at
    * corpus scale). Strings too short for the bound to bite
    * (len < q·(d+1)) pair through a length-band equi-join instead —
    * within the band ∣Δlen∣ ≤ d, since d edits can't move length more
    * — and a long↔sub-q pair is impossible outright (Δlen alone
    * exceeds d). Every candidate is verified with the exact
    * `levenshtein` (codegen'd builtin), so false candidates cost time,
    * never correctness.
    *
    * Shape for scale: gram explode → two hash aggs (per-string gram
    * counts, global gram df) → one keyed window for the per-string
    * prefix rank → an equi-join on the gram key (never a cross join;
    * prefix grams are globally rare, AQE splits a skewed one) → pair
    * distinct → verify join. The short-string band join touches only
    * the len < q·(d+1) slice, bounded-length by definition.
    *
    * Input contract: (id: long, s: string); null strings drop. Output
    * (id_a < id_b, dist), deterministic order. */
  def editDistancePairs(strs: DataFrame, maxDist: Int,
                        q: Int = 3): Scoped[DataFrame] = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(q >= 2, "q-gram length must be >= 2")
    val base = edBase(strs)
    val shortCut = q * (maxDist + 1) // below this, the gram bound is vacuous
    val res = edVerify(base,
      edPrefixCandidates(base, maxDist, q)
        .unionByName(edShortBandPairs(base, shortCut, maxDist)), maxDist)
      .orderBy("id_a", "id_b")
    Scoped(res)(base.unpersist(blocking = false))
  }

  /** Long-involved candidate pairs of the prefix-filter family —
    * exposed within the package so blocking selectivity (candidates
    * vs verified) can be measured directly (SCALE.md "Round 9: the
    * edit-distance join's entropy law"). */
  private[graft] def edPrefixCandidates(base: DataFrame, maxDist: Int,
                                        q: Int): DataFrame = {
    val shortCut = q * (maxDist + 1)
    // rarest-first q-gram prefixes must collide
    val gramCounts = base.where(col("len") >= q)
      .select(col("id"), col("len"), col("s"),
        explode(expr(s"sequence(1, len - ${q - 1})")).as("p"))
      .select(col("id"), col("len"), expr(s"substring(s, p, $q)").as("g"))
      .groupBy("id", "len", "g").agg(count(lit(1)).as("c"))
    val dfreq = gramCounts.groupBy("g").agg(count(lit(1)).as("df"))
    // pin the id-window's exchange at full width: this shuffle's bytes
    // are tiny (one row per (id, gram)), but the stage FUSED after the
    // window carries the whole gram self-join fan-out and (in the
    // calling join) the levenshtein verify — AQE coalesced it to ONE
    // task at sf0.1 (2.6 s of a 3.9 s query single-threaded)
    val prefix = graft.core.Layout.pinWidth(
        gramCounts.join(dfreq, Seq("g")), col("id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("g").asc)))
      .where(col("rn") <= maxDist * q + 1)
      .select(col("id"), col("len"), col("g"))
    val longPairs = prefix
      .select(col("id").as("id_a"), col("len").as("len_a"), col("g"))
      .join(prefix.select(col("id").as("id_b"), col("len").as("len_b"), col("g")),
        Seq("g"))
      .where(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist &&
        greatest(col("len_a"), col("len_b")) >= shortCut) // both-short → band join
      .select("id_a", "id_b")
    longPairs
  }

  /** Segment-blocked edit-distance join — the PassJoin family (Li,
    * Wang & Feng 2011, PVLDB 5(1)): partition each string into
    * `maxDist + 1` segments; by pigeonhole, d edits leave at least one
    * segment UNTOUCHED, so any pair within distance d must contain one
    * side's segment EXACTLY, shifted by at most d. Candidates come
    * from an equi-join on (segment content, segment index, target
    * length) — exact 6-to-8-char segment matches are far more
    * selective than shared q-grams on low-entropy keys (measured 6×
    * fewer candidates than the prefix filter on the 31-word synthetic
    * corpus), at the price of a (d+1)·(d+1)·(2d+1)-row probe-side
    * explode. Same exact recall, same verify, identical answers to
    * `editDistancePairs` (EditJoinSpec pins both against brute force).
    *
    * The probe side (the LONGER of each pair; both on ties) enumerates,
    * for every candidate target length lt in [len − d, len], the
    * target layout's segment windows ±d and emits the substrings; the
    * index side emits each string's own d+1 segments. Layout
    * convention: base = lt div (d+1), the last lt mod (d+1) segments
    * one char longer. Pairs where both strings sit below
    * `minSeg·(d+1)` (segments would shrink under `minSeg` chars) fall
    * back to the length-band join; a long↔below-band pair is
    * impossible (Δlen alone exceeds d). */
  def editDistancePairsSeg(strs: DataFrame, maxDist: Int,
                           minSeg: Int = 3): Scoped[DataFrame] = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(minSeg >= 1, "minSeg must be >= 1")
    val base = edBase(strs)
    val res = edVerify(base,
      edSegCandidates(base, maxDist, minSeg)
        .unionByName(edShortBandPairs(base, minSeg * (maxDist + 1), maxDist)),
      maxDist).orderBy("id_a", "id_b")
    Scoped(res)(base.unpersist(blocking = false))
  }

  /** Segment-blocked (PassJoin) candidate pairs — see
    * `edPrefixCandidates` for why this is package-visible. */
  private[graft] def edSegCandidates(base: DataFrame, maxDist: Int,
                                     minSeg: Int): DataFrame =
    edProbeSegs(base, maxDist, minSeg, twoSided = false)
      .join(edIndexSegs(base, maxDist, minSeg), Seq("lt", "i", "seg"))
      .where(col("pid") =!= col("tid"))
      .select(least(col("pid"), col("tid")).as("id_a"),
        greatest(col("pid"), col("tid")).as("id_b"))

  // layout of segment i (1-based) for a target of length lt:
  // li = base + 1 for the last (lt mod n) segments, pi = 1-based start
  private def edLiExpr(n: Int) = s"(lt div $n) + if(i > $n - (lt % $n), 1, 0)"
  private def edPiExpr(n: Int) =
    s"1 + (i - 1) * (lt div $n) + greatest(0, i - 1 - ($n - (lt % $n)))"

  /** Index-side PassJoin rows for a key frame: each string's own
    * `maxDist + 1` segments, keyed (lt = the string's own length,
    * i = segment index, seg = content). This is what a persisted
    * fuzzy-key store materializes ONCE per kept key — every later
    * batch equi-joins it, so history is never re-segmented. Strings
    * below `minSeg·(d+1) − d` are excluded: any segment-PROBING
    * partner is ≥ `minSeg·(d+1)` long, so Δlen alone would exceed d
    * (such pairs go through the length band instead). */
  private[graft] def edIndexSegs(base: DataFrame, maxDist: Int,
                                 minSeg: Int,
                                 carryS: Boolean = false): DataFrame = {
    val d = maxDist
    val n = d + 1
    val shortCut = minSeg * n
    val tail = if (carryS) Seq(col("s")) else Nil
    base.where(col("len") >= shortCut - d)
      .select(col("id").as("tid"), col("s"), col("len").as("lt"))
      .select(col("tid"), col("s"), col("lt"),
        explode(expr(s"sequence(1, $n)")).as("i"))
      .select(col("tid") +: col("lt") +: col("i") +:
        expr(s"substring(s, ${edPiExpr(n)}, ${edLiExpr(n)})").as("seg") +:
        tail: _*)
  }

  /** Probe-side PassJoin rows: for each candidate target length lt,
    * each of the target layout's segments, the window of starts that
    * segment could occupy in the probe (±d — PassJoin's pigeonhole
    * shift bound), and the substring it would have to equal. In the
    * SELF-join the probe is the longer side of each pair, so lt only
    * descends (`twoSided = false`); probing a STORE the partner can be
    * longer OR shorter, so lt runs over [len − d, len + d]
    * (`twoSided = true`) — the start windows clamp to the probe
    * string, so over-long layouts vanish instead of emitting junk.
    * `carryS` keeps the probe string `s` on every row. */
  private[graft] def edProbeSegs(base: DataFrame, maxDist: Int,
                                 minSeg: Int, twoSided: Boolean,
                                 carryS: Boolean = false): DataFrame = {
    val d = maxDist
    val n = d + 1
    val shortCut = minSeg * n
    val hi = if (twoSided) s"len + $d" else "len"
    base.where(col("len") >= shortCut)
      .select(col("id").as("pid"), col("s"), col("len"),
        explode(expr(s"sequence(greatest(${shortCut - d}, len - $d), $hi)")).as("lt"))
      .select(col("pid"), col("s"), col("len"), col("lt"),
        explode(expr(s"sequence(1, $n)")).as("i"))
      .withColumn("li", expr(edLiExpr(n)))
      .withColumn("pi", expr(edPiExpr(n)))
      // Spark sequence(a, b) DESCENDS when a > b — drop empty windows
      // explicitly instead of emitting junk starts
      .where(expr(s"greatest(1, pi - $d) <= least(pi + $d, len - li + 1)"))
      .select(col("pid"), col("s"), col("lt"), col("i"), col("li"),
        explode(expr(s"sequence(greatest(1, pi - $d), least(pi + $d, len - li + 1))")).as("st"))
      .select(Seq(col("pid"), col("lt"), col("i"),
        expr("substring(s, st, li)").as("seg")) ++
        (if (carryS) Seq(col("s")) else Nil): _*)
  }

  /** Shared (id, s, len) frame for the edit-join family, persisted for
    * the candidate and verify passes. */
  private[graft] def edBase(strs: DataFrame): DataFrame = {
    val base = strs.where(col("s").isNotNull)
      .select(col("id").cast("long").as("id"), col("s"))
      .withColumn("len", length(col("s")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    base
  }

  /** short×short fallback: length-band equi-join (the shorter string
    * probes [len, len+d]; the longer anchors at its own length) —
    * pairs where the blocking bound is vacuous. Bounded-length slice
    * by definition. */
  private def edShortBandPairs(base: DataFrame, shortCut: Int,
                               maxDist: Int): DataFrame = {
    val shorts = base.where(col("len") < shortCut)
    shorts
      .select(col("id").as("pid"),
        explode(expr(s"sequence(len, len + $maxDist)")).as("k"))
      .join(shorts.select(col("id").as("aid"), col("len").as("k")), Seq("k"))
      .where(col("pid") =!= col("aid"))
      .select(least(col("pid"), col("aid")).as("id_a"),
        greatest(col("pid"), col("aid")).as("id_b"))
  }

  /** Dedupe candidates and verify with the THRESHOLDED levenshtein
    * (banded O(d·len) DP with early exit — the verify cost per
    * candidate is ~(2d+1)·len char ops, not len²). Returns -1 above
    * the threshold, so the kept distances are exact. Unordered: the
    * public pair functions sort their own output. */
  private def edVerify(base: DataFrame, cand: DataFrame,
                       maxDist: Int): DataFrame =
    // width-pinned distinct: the dedup agg and the fused base-join +
    // levenshtein stage after it are byte-light but compute-dense —
    // the AQE coalescing trap (round 13)
    graft.core.Layout.pinWidth(cand, col("id_a"), col("id_b")).distinct()
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))

  /** Asymmetric (batch × store) edit-distance join: every pair of a
    * `batch` key and a `store` key within Levenshtein distance
    * `maxDist` — the probe primitive behind the fuzzy-key INGEST gate
    * (streaming.IngestFuzzy), exact recall like the self-join family
    * so the DuckDB `levenshtein` cross oracle hash-matches it.
    *
    * Blocking is PassJoin's pigeonhole, probed ONE-SIDED from the
    * batch: d edits leave one of the store key's d+1 segments intact,
    * appearing in the batch key within ±d of its layout position —
    * so the batch enumerates target lengths over [len − d, len + d]
    * (the partner can be longer OR shorter; `edProbeSegs` twoSided)
    * and equi-joins the store's own segments (`edIndexSegs`). Batch
    * keys below `minSeg·(d+1)` fall back to a length-band equi-join
    * against the (bounded-length by definition) short slice of the
    * store; a long-batch↔below-band-store pair is impossible (Δlen
    * alone exceeds d). Every candidate verifies with the thresholded
    * `levenshtein`, so false candidates cost time, never correctness.
    *
    * The point of the asymmetry: the store side's segment rows are a
    * pure per-key projection (`edIndexSegs`) a persisted store
    * materializes once per kept key — per-batch cost is then one
    * equi-join against the seg index (shuffle_hash-hinted: the probe
    * side is a ~(2d+1)²·(d+1)-fold explode of the batch whose static
    * size estimate stays at batch size, the round-3 explode-blinded
    * broadcast trap; AQE still upgrades to broadcast from exact
    * runtime sizes when the batch is genuinely small) plus the
    * levenshtein verify — never a re-segmentation or rescan of kept
    * keys.
    *
    * Input contract: (id: long, s: string) on both sides; null keys
    * drop. Output (store_id, batch_id, dist), deterministic order. The
    * scope releases both persisted key frames. */
  def edStorePairs(batch: DataFrame, store: DataFrame, maxDist: Int,
                   minSeg: Int = 3): Scoped[DataFrame] = {
    val (bb, sb) = (edBase(batch), edBase(store))
    Scoped(edStorePairsIndexed(bb, sb, maxDist, minSeg, alreadySegged = None)) {
      bb.unpersist(blocking = false); sb.unpersist(blocking = false)
    }
  }

  /** `edStorePairs` with the store's segment rows supplied by the
    * caller (the persisted `segs/` side of a fuzzy-key store) instead
    * of recomputed from the keys — the batch-vs-store probe the
    * streaming gate runs. `storeBase` must still carry the keys
    * (id, s, len): the band fallback and the verify read them. */
  private[graft] def edStorePairsIndexed(batchBase: DataFrame,
                                         storeBase: DataFrame,
                                         maxDist: Int, minSeg: Int,
                                         alreadySegged: Option[DataFrame])
      : DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(minSeg >= 1, "minSeg must be >= 1")
    val d = maxDist
    val shortCut = minSeg * (d + 1)
    val idx = alreadySegged.getOrElse(edIndexSegs(storeBase, d, minSeg))
    val segCand = edProbeSegs(batchBase, d, minSeg, twoSided = true)
      .join(idx.hint("shuffle_hash"), Seq("lt", "i", "seg"))
      .select(col("pid"), col("tid"))
    // batch shorts (blocking vacuous) probe the store's bounded-length
    // short slice across the full ±d band — asymmetric, so both
    // directions of Δlen, unlike the self-join's shorter-probes-longer
    val bandCand = batchBase.where(col("len") < shortCut)
      .select(col("id").as("pid"),
        explode(expr(s"sequence(greatest(0, len - $d), len + $d)")).as("k"))
      .join(storeBase.where(col("len") < shortCut + d)
        .select(col("id").as("tid"), col("len").as("k")), Seq("k"))
      .select(col("pid"), col("tid"))
    graft.core.Layout.pinWidth(
        segCand.unionByName(bandCand), col("pid"), col("tid")).distinct()
      .join(batchBase.select(col("id").as("pid"), col("s").as("s_b")), Seq("pid"))
      .join(storeBase.select(col("id").as("tid"), col("s").as("s_a"))
        .hint("shuffle_hash"), Seq("tid"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("tid").as("store_id"), col("pid").as("batch_id"), col("dist"))
      .orderBy("store_id", "batch_id")
  }

  /** The fuzzy-key ingest GATE, batch form: which batch keys survive
    * against an already-kept store — drop any key within `maxDist` of
    * a store key, or of a SMALLER-id key in the same batch (the
    * `sketchDrops` first-wins policy, conservative cascade: the
    * smaller key's own fate doesn't matter). Both rules are
    * first-order — no closure — so the whole gate is expressible as
    * two NOT EXISTS in the DuckDB oracle and hash-checks end-to-end
    * (q170), unlike the MinHash gate (q97) whose sketch has no SQL
    * analog. Null keys drop from the key frame here (the streaming
    * gate keeps their DOCS — a null key matches nothing).
    *
    * Output: kept (id, s), deterministic order; the scope releases both
    * persisted key frames. The streaming runtime over a persisted
    * segment store is `streaming.IngestFuzzy`. */
  def fuzzyKeyGate(batch: DataFrame, store: DataFrame, maxDist: Int,
                   minSeg: Int = 3): Scoped[DataFrame] = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(minSeg >= 1, "minSeg must be >= 1")
    val bb = edBase(batch)
    val sb = edBase(store)
    Scoped(fuzzyKeyKept(bb, sb, maxDist, minSeg, storeSegs = None).orderBy("id")) {
      bb.unpersist(blocking = false); sb.unpersist(blocking = false)
    }
  }

  /** `fuzzyKeyGate` over pre-built bases, with the store's segment
    * rows optionally supplied from a persisted store. Package-visible
    * for the streaming gate. */
  private[graft] def fuzzyKeyKept(batchBase: DataFrame, storeBase: DataFrame,
                                  maxDist: Int, minSeg: Int,
                                  storeSegs: Option[DataFrame]): DataFrame = {
    val storeDrops =
      edStorePairsIndexed(batchBase, storeBase, maxDist, minSeg, storeSegs)
        .select(col("batch_id").as("id"))
    val inBatchDrops =
      edVerify(batchBase,
        edSegCandidates(batchBase, maxDist, minSeg)
          .unionByName(edShortBandPairs(batchBase, minSeg * (maxDist + 1), maxDist)),
        maxDist)
        .select(col("id_b").as("id"))
    batchBase
      .join(storeDrops.unionByName(inBatchDrops).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("s"))
  }
}
