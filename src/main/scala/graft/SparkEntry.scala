package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from the SURVEY.md §2 inventory
  * (or the training-data-pipeline extension set), expressed as a pure
  * Spark DataFrame program over the driver testdata. `oracleSql` carries
  * the DuckDB-equivalent SQL; queries absent there (minhash/simhash/LSH
  * ANN) get the driver's rows-only check.
  *
  * Oracle-fidelity conventions (see graft.core.Cols): decimal-exact sums
  * cast to double once, single double divisions, second-truncated event
  * timestamps, deterministic sorts with explicit tiebreaks, DuckDB casts
  * (INT/BIGINT/DOUBLE) mirroring Spark's result types.
  */
object SparkEntry {

  /** Flagship: the reference's 8-way grouping-set count engine
    * (bdqueimadas_incremental.py:403-471) in one GROUPING SETS pass. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.groupingSetCounts(lineitem(spark, "/root/testdata/sf0.001"))

  /** The query catalogue: name → (session, testdata dir) → result.
    *
    * Cache contract: an entry may return a frame that still reads
    * persisted intermediates — it takes a `Scoped` operator's `.value`
    * (lazy) or `.materialize.value` (persisted result) without
    * releasing the scope. Every caller that runs the catalogue (Bench,
    * Verify, TimeQ, the benchmark's query workload) clears the
    * session's cache after each query, and that is what releases them.
    * Code outside the catalogue releases its scopes itself (`use`). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 aggregations
    "q01_pricing_summary" -> ((s, d) => Aggregates.pricingSummary(lineitem(s, d))),
    "q02_grouping_sets" -> ((s, d) => Aggregates.groupingSetCounts(lineitem(s, d))),
    "q03_distinct_flags" -> ((s, d) => Aggregates.distinctFlags(lineitem(s, d))),
    "q04_month_span" -> ((s, d) => Aggregates.monthSpan(lineitem(s, d))),
    "q05_partial_merge" -> ((s, d) => Aggregates.partialMergeSum(lineitem(s, d))),
    "q06_monthly_counts" -> ((s, d) => Aggregates.monthlyCounts(lineitem(s, d))),
    "q24_sentinel_union" -> ((s, d) => Aggregates.sentinelUnion(lineitem(s, d))),
    "q41_profile_stats" -> ((s, d) => Aggregates.profileStats(documents(s, d))),
    "q42_zero_filled_days" -> ((s, d) =>
      Aggregates.zeroFilledDays(events(s, d), "2024-01-01", "2024-01-31")),
    "q43_ytd_membership" -> ((s, d) => Aggregates.ytdMembership(lineitem(s, d),
      Seq("1998-01", "1998-02", "1998-03", "1998-04", "1998-05", "1998-06"))),
    "q44_type_infer" -> ((s, d) => Aggregates.typeInfer(documents(s, d))),
    // §2.5 windows
    "q07_rolling_12m" -> ((s, d) => Windows.rolling12(orders(s, d))),
    "q08_mom_yoy" -> ((s, d) => Windows.momYoy(orders(s, d))),
    "q09_5yr_monthly_avg" -> ((s, d) => Windows.fiveYearMonthlyAvg(orders(s, d), 1996, 2000)),
    "q10_topn_other" -> ((s, d) => Windows.topNOther(customer(s, d), nation(s, d), 5)),
    "q11_share_of_total" -> ((s, d) =>
      Windows.shareOfTotal(customer(s, d), nation(s, d), region(s, d))),
    "q12_argmax_user" -> ((s, d) => Windows.argmaxUser(events(s, d))),
    "q13_change_detection" -> ((s, d) => Windows.changeDetection(events(s, d))),
    "q14_cadence" -> ((s, d) => Windows.cadence(events(s, d))),
    "q25_multisort_topk" -> ((s, d) => Windows.multisortTopk(customer(s, d), nation(s, d), 10)),
    "q45_topk_abs_pct" -> ((s, d) => Windows.topkByAbsPct(orders(s, d), 10)),
    "q58_range_join" -> ((s, d) => {
      // for each error event, clicks by the same user in the prior hour
      import org.apache.spark.sql.functions._
      val e = events(s, d)
      val t = unix_timestamp(date_trunc("second", col("ts")))
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), t.as("t"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), t.as("t"))
      Joins.rangeJoinBucketed(errors, clicks, "user_id", "t", 3600L)
        .select("user_id", "event_id", "n_in_window")
        .orderBy("event_id")
    }),
    "q59_sessionize" -> ((s, d) => Windows.sessionize(events(s, d), 1800L)),
    "q60_month_pivot" -> ((s, d) => Windows.monthPivot(orders(s, d))),
    "q62_part_types" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      part(s, d)
        .select(col("p_brand"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
          col("p_retailprice"), col("p_size"))
        .groupBy("p_brand", "type_head")
        .agg(count(lit(1)).as("cnt"),
          sum(col("p_retailprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          min("p_size").as("min_size"), max("p_size").as("max_size"))
        .orderBy("p_brand", "type_head")
    }),
    "q63_supplier_balance" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"),
          sum(col("s_acctbal").cast(DecimalType(18, 2))).cast(DoubleType).as("total_bal"))
        .orderBy("n_name")
    }),
    // §2.3 joins
    "q15_yoy_outer" -> ((s, d) => Joins.yoyOuter(orders(s, d), 2000)),
    "q16_inner_merge_series" -> ((s, d) => Joins.innerMergeSeries(lineitem(s, d), orders(s, d))),
    "q17_anti_overlay" -> ((s, d) => Joins.antiOverlay(lineitem(s, d), orders(s, d)).value),
    "q18_incremental_merge" -> ((s, d) => Joins.incrementalMerge(events(s, d), 5000L)),
    "q19_dim_broadcast" -> ((s, d) =>
      Joins.dimBroadcast(customer(s, d), nation(s, d), region(s, d))),
    "q20_upsert_priority" -> ((s, d) => Joins.upsertPriority(orders(s, d), "2001-01")),
    "q21_same_month_prev_year" -> ((s, d) => Joins.sameMonthPrevYear(orders(s, d))),
    "q57_asof_join" -> ((s, d) => {
      // for each click event, the latest purchase by the same user at or
      // before it (ordered by event_id — strictly increasing, engine-exact)
      import org.apache.spark.sql.functions._
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("value").as("click_value"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value").as("purchase_value"))
      Joins.asOfJoin(clicks, purchases, "user_id", "event_id",
          Seq("purchase_value"))
        .select(col("user_id"), col("event_id"), col("click_value"),
          col("asof_purchase_value"))
        .orderBy("event_id")
    }),
    // §2.7 dedup + set ops
    "q22_first_wins_dedup" -> ((s, d) => Dedup.firstWins(events(s, d))),
    "q23_key_merge_dedup" -> ((s, d) => Dedup.keyMerge(documents(s, d))),
    "q26_set_intersection" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = events(s, d)
      val a = e.where(col("ts") < "2024-01-15").select(col("event_type")).distinct()
      val b = e.where(col("ts") >= "2024-01-15").select(col("event_type")).distinct()
      a.join(b, Seq("event_type")).orderBy("event_type")
    }),
    "q35_exact_dedup" -> ((s, d) => Dedup.exactDedup(documents(s, d))),
    // soft dedup (SoftDedup): every doc kept, duplicated text
    // downweighted to 1/n — one window shuffle over the content hash
    "q121_soft_dedup" -> ((s, d) => Dedup.softDedupWeights(documents(s, d))),
    "q36_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(documents(s, d), 0.5).value),
    "q37_simhash" -> ((s, d) => Dedup.simhash(documents(s, d), 200L)),
    "q65_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(documents(s, d), 2000L, 6).value),
    "q38_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(documents(s, d), 300L, 0.2).value),
    // §2.8 scalar functions / text analysis
    "q27_string_normalize" -> ((s, d) => TextAnalysis.stringNormalize(documents(s, d))),
    "q28_regex_extract" -> ((s, d) => TextAnalysis.regexExtractBuckets(documents(s, d))),
    "q29_json_extract" -> ((s, d) => TextAnalysis.jsonExtract(events(s, d))),
    "q30_content_hashes" -> ((s, d) => TextAnalysis.contentHashes(documents(s, d), 100L)),
    "q31_token_stats" -> ((s, d) => TextAnalysis.tokenStats(documents(s, d))),
    "q32_quality_score" -> ((s, d) => TextAnalysis.qualityScore(documents(s, d), 200L)),
    "q33_lang_id" -> ((s, d) => TextAnalysis.langId(documents(s, d), 200L)),
    "q34_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(documents(s, d), 100L)),
    // similarity search
    "q54_bpe_tokens" -> ((s, d) => TextAnalysis.bpeTokenStats(documents(s, d))),
    "q55_winnow_fp" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(documents(s, d), 200L, 8, 4)),
    "q73_winnow_pairs" -> ((s, d) =>
      TextAnalysis.winnowPairs(documents(s, d), 500L, 8, 4, 0.8).value),
    "q47_topical_filter" -> ((s, d) =>
      TextAnalysis.topicalFilter(documents(s, d), Seq("spark", "stream", "window"))),
    "q48_distinct_preview" -> ((s, d) =>
      Aggregates.distinctPreview(documents(s, d), "lang", 4)),
    "q49_validation_join" -> ((s, d) => Joins.validationJoin(events(s, d), "2024-01-16")),
    "q53_hist2d" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Aggregates.histogram2d(events(s, d), col("value"), col("user_id"), 50.0, 100.0)
    }),
    "q51_nested_explode" -> ((s, d) => {
      // A13 (social/research_trends/pipeline.py:271-332): nest events per
      // user as array<struct>, explode, count per inner key — the
      // collect→explode round trip preserves the multiset, so the oracle
      // is the direct aggregation.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      events(s, d)
        .groupBy("user_id")
        .agg(collect_list(struct(col("event_type").as("t"), col("value").as("v"))).as("items"))
        .select(explode(col("items")).as("it"))
        .groupBy(col("it.t").as("event_type"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("it.v").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_v"))
        .orderBy("event_type")
    }),
    "q64_nested_two_level" -> ((s, d) => {
      // A13 full shape (social/research_trends/pipeline.py:284-327):
      // two-level nested arrays (user → type → values), double explode,
      // count with dedup keys. Round trip preserves multisets → oracle
      // is the equivalent direct aggregation with distinct users.
      import org.apache.spark.sql.functions._
      val inner = events(s, d).groupBy("user_id", "event_type")
        .agg(collect_list(col("value")).as("vals"))
      val nested = inner.groupBy("user_id")
        .agg(collect_list(struct(col("event_type").as("t"), col("vals"))).as("groups"))
      nested
        .select(col("user_id"), explode(col("groups")).as("g"))
        .select(col("user_id"), col("g.t").as("event_type"),
          explode(col("g.vals")).as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    "q52_url_policy" -> ((s, d) => {
      // P10 over a deterministic synthetic listing derived from documents.
      import org.apache.spark.sql.functions._
      val listing = documents(s, d).select(
        concat(lit("https://"),
          when(col("doc_id") % 3 === 0, "dados.gov.br")
            .when(col("doc_id") % 3 === 1, "inpe.br")
            .otherwise("evil.example.com"),
          lit("/"), col("source"), lit("/f"), col("doc_id"),
          when(col("doc_id") % 2 === 0, ".csv").otherwise(".zip")).as("url"),
        col("source"))
      Discovery.policyFilter(listing, Seq("dados.gov.br", "inpe.br"),
          Seq(".csv"), "/f1[13579]")
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .orderBy("source")
    }),
    "q50_multimodal_features" -> ((s, d) => {
      // Scalar feature columns (f1..f8 via element_at) — the driver's
      // checker canonicalizes by sorting column values, which an
      // array<float> column breaks; the Dataset decode pipeline is
      // unchanged, only the output projection is flattened.
      import org.apache.spark.sql.functions._
      val feats = Multimodal.extractFeatures(
        Multimodal.fromDocuments(documents(s, d))).toDF()
      val fcols = (1 to 8).map(i =>
        element_at(col("features"), i).cast("double").as(s"f$i"))
      feats.where(col("media_id") < 100)
        .select(col("media_id") +: col("kind") +: col("n_bytes").cast("int").as("n_bytes") +: fcols: _*)
        .orderBy("media_id")
    }),
    // REAL image decode — JDK ImageIO, no external library: exact
    // per-channel pixel sums over PNGs synthesized in executors.
    // Hash-green: DuckDB can't decode PNG, but the payloads have
    // closed-form sums, so the oracle computes the same statistics
    // from the generator formula — an independent end-to-end check of
    // the actual pixel decode. MultimodalSpec additionally pins
    // hostile-byte handling and the deterministic resize
    "q148_image_stats" -> ((s, d) => {
      val n = math.min(documents(s, d).count(), 500L)
      Multimodal.imageStats(Multimodal.syntheticImages(s, n))
        .toDF().orderBy("media_id")
    }),
    // the image near-dup channel (dHash + banded Hamming): 40 distinct
    // md5-patterned PNGs plus a BRIGHTNESS variant of every 4th — the
    // variant's gray values all shift uniformly, the difference hash
    // cancels the shift, and the pair lands at hamming 0. REAL decode
    // on the engine side (PNG bytes → ImageIO → 9×8 NN sample → luma);
    // the oracle recomputes the same 72 sampled gray values per image
    // from the md5-nibble generator formula (the q148/q171 trick) and
    // counts disagreeing difference signs — the whole decode→hash→
    // band→verify path is hash-checked, with pigeonhole recall making
    // the banded set EQUAL the all-pairs hamming ≤ 2 set
    "q187_image_dhash_pairs" -> ((s, d) => {
      val specs = (0L until 40L).map(i => (i, i, 0)) ++
        (0L until 40L by 4L).map(i => (i + 1000L, i, 40))
      Multimodal.imageNearDupPairs(
        Multimodal.patternImages(s, specs, 36, 32), maxHamming = 2).value
    }),
    // the VIDEO face: per-frame dHash over the REAL AVI demux (DIB
    // rows decoded bottom-up), clips near-duplicate iff EVERY aligned
    // frame pair sits within the radius — brightness twins planted as
    // all-frames hamming-0; the oracle recomputes each frame's 72
    // sampled grays from the md5-nibble generator formula, exactly the
    // q187 construction with a frame dimension
    "q192_video_dhash_pairs" -> ((s, d) => {
      val specs = (0L until 30L).map(i => (i, i, 0)) ++
        (0L until 30L by 3L).map(i => (i + 1000L, i, 30))
      Multimodal.videoNearDupPairs(
        Multimodal.patternVideos(s, specs, nFrames = 3, w = 36, h = 32),
        maxHamming = 2)
    }),
    // the AUDIO sibling: energy-envelope fingerprints over REAL PCM
    // decode (javax.sound), half-volume variants planted as hamming-0
    // duplicates (uniform gain cancels in the energy comparison — the
    // brightness analog); the oracle recomputes every window energy
    // from the triangle-wave closed form with the amplitude dropped
    "q190_audio_ahash_pairs" -> ((s, d) => {
      val specs = (0L until 40L).map(i => (i, i, 500)) ++
        (0L until 40L by 4L).map(i => (i + 1000L, i, 250))
      Multimodal.audioNearDupPairs(
        Multimodal.patternAudio(s, specs, 1600), maxHamming = 2).value
    }),
    // the closure: every image labeled by its near-dup cluster's
    // smallest media_id — the q72 recursive-reach oracle over the q187
    // pair set (third dedup channel complete: content, fuzzy key, image)
    "q188_image_dedup" -> ((s, d) => {
      val specs = (0L until 40L).map(i => (i, i, 0)) ++
        (0L until 40L by 4L).map(i => (i + 1000L, i, 40))
      Multimodal.imageDupComponents(
        Multimodal.patternImages(s, specs, 36, 32), maxHamming = 2).value
    }),
    // the streaming FINGERPRINT gate (IngestFingerprints), driver-gated
    // end-to-end with a REAL store lifecycle inside the query (the q183
    // discipline): fpSave seeds dHashes of 20 pattern images, one
    // gateBatch resolves a batch carrying store twins (drop), novel
    // patterns (keep), and an in-batch twin (first-wins drop). Both
    // drop rules are first-order, so the oracle replays them as two
    // EXISTS branches over the closed-form dHash bits (bright cancels
    // — the q187 construction)
    "q193_fp_gate_image" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q193_fp").toString
      val store = Multimodal.patternImages(s,
        (0L until 20L).map(i => (i, i, 0)), 36, 32)
        .toDF().selectExpr("media_id AS doc_id", "content AS image")
      graft.streaming.IngestFingerprints.fpSave(s,
        graft.streaming.IngestFingerprints.imageFps(store), dir,
        maxHamming = 2)
      val batchSpecs = (0 until 30).map { k =>
        if (k % 3 == 0) (100L + k, (k / 3).toLong, 40) // store twin → drop
        else (100L + k, 100L + k, 0)                   // novel → keep
      } :+ ((200L, 101L, 25)) // in-batch twin of kept 101 → drop
      val batch = Multimodal.patternImages(s, batchSpecs, 36, 32)
        .toDF().selectExpr("media_id AS doc_id", "content AS image")
      graft.streaming.IngestFingerprints.gateBatch(
        batch, dir, graft.streaming.IngestFingerprints.imageFps(batch)).use { case (kept, _) =>
        kept.select("doc_id").write.mode("overwrite").parquet(s"$dir/result")
      }
      s.read.parquet(s"$dir/result").orderBy("doc_id")
    }),
    // the SERVING face of the fingerprint store, end-to-end (round
    // 13): fpSave 20 pattern images, materialize the bands/ point
    // index (bandsSave), then fpProbe a 5-image probe — three
    // brightness twins of store images and two novel patterns. The
    // result is the (probe, store) match pairs under the gate
    // predicate, which the oracle replays as the q187 closed-form
    // dHash pairs at hamming ≤ 2 (bright cancels)
    "q199_fp_point_probe" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q199_fp").toString
      val store = Multimodal.patternImages(s,
        (0L until 20L).map(i => (i, i, 0)), 36, 32)
        .toDF().selectExpr("media_id AS doc_id", "content AS image")
      graft.streaming.IngestFingerprints.fpSave(s,
        graft.streaming.IngestFingerprints.imageFps(store), dir,
        maxHamming = 2)
      graft.streaming.IngestFingerprints.bandsSave(s, dir,
        targetRowsPerBucket = 50)
      val probe = Multimodal.patternImages(s,
        Seq((100L, 3L, 40), (101L, 7L, 25), (102L, 500L, 0),
          (103L, 11L, 10), (104L, 501L, 0)), 36, 32)
        .toDF().selectExpr("media_id AS doc_id", "content AS image")
      graft.streaming.IngestFingerprints.fpProbe(s, dir,
        graft.streaming.IngestFingerprints.imageFps(probe))
        .orderBy("id", "oid")
    }),
    // the MULTI-PART face of the same gate: per-frame video dHashes,
    // drop iff SAME frame count and EVERY aligned frame within the
    // radius — a full brightness twin drops, a one-tampered-frame clip
    // and a 2-frame prefix (part-count mismatch) survive, an in-batch
    // twin drops. The oracle carries the frame table explicitly and
    // replays matched-frames == both clips' frame counts
    "q194_fp_gate_video" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q194_fp").toString
      import s.implicits._
      val store = Multimodal.patternVideos(s,
        (0L until 10L).map(i => (i, i, 0)), nFrames = 3, w = 36, h = 32)
        .toDF().selectExpr("media_id AS doc_id", "content AS video")
      graft.streaming.IngestFingerprints.fpSave(s,
        graft.streaming.IngestFingerprints.videoFps(store), dir,
        maxHamming = 2)
      def clip(seeds: Seq[Long], bright: Int): Array[Byte] =
        Multimodal.aviBytesOf(seeds.zipWithIndex.map { case (sd, f) =>
          Multimodal.dibPatternFrame(sd, f, bright, 36, 32) }, 36, 32)
      val batch = Seq(
        (100L, clip(Seq(0L, 0L, 0L), 30)),   // full twin of clip 0 → drop
        (101L, clip(Seq(1L, 1L, 99L), 30)),  // tampered last frame → keep
        (102L, clip(Seq(2L, 2L), 0)),        // 2-frame prefix → keep
        (103L, clip(Seq(50L, 50L, 50L), 0)), // novel → keep
        (104L, clip(Seq(50L, 50L, 50L), 25)) // in-batch twin of 103 → drop
      ).toDF("doc_id", "video")
      graft.streaming.IngestFingerprints.gateBatch(
        batch, dir, graft.streaming.IngestFingerprints.videoFps(batch)).use { case (kept, _) =>
        kept.select("doc_id").write.mode("overwrite").parquet(s"$dir/result")
      }
      s.read.parquet(s"$dir/result").orderBy("doc_id")
    }),
    // the AUDIO face of the q193 gate — same single-part machinery,
    // fingerprint fn = audioAHash64, so the planted twins are VOLUME
    // twins (amp cancels in the energy comparisons): store-tone twins
    // at half volume drop, novel tone periods mostly keep (a few sit
    // within the radius of a store tone — genuine near-collisions the
    // oracle drops identically), an in-batch quarter-volume twin of a
    // kept record drops first-wins. Tone periods alias mod 50
    // (p = seed % 50 + 2), so novel seeds start at 20 — a p-range
    // disjoint from the store's 0..19
    "q196_fp_gate_audio" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q196_fp").toString
      val store = Multimodal.patternAudio(s,
        (0L until 20L).map(i => (i, i, 500)), 1600)
        .toDF().selectExpr("media_id AS doc_id", "content AS audio")
      graft.streaming.IngestFingerprints.fpSave(s,
        graft.streaming.IngestFingerprints.audioFps(store), dir,
        maxHamming = 2)
      val batchSpecs = (0 until 30).map { k =>
        if (k % 3 == 0) (100L + k, (k / 3).toLong, 250) // volume twin → drop
        else (100L + k, 20L + k, 500)                   // novel tone → keep
      } :+ ((200L, 21L, 125)) // in-batch volume twin of kept 101 → drop
      val batch = Multimodal.patternAudio(s, batchSpecs, 1600)
        .toDF().selectExpr("media_id AS doc_id", "content AS audio")
      graft.streaming.IngestFingerprints.gateBatch(
        batch, dir, graft.streaming.IngestFingerprints.audioFps(batch)).use { case (kept, _) =>
        kept.select("doc_id").write.mode("overwrite").parquet(s"$dir/result")
      }
      s.read.parquet(s"$dir/result").orderBy("doc_id")
    }),
    // geometry-independence of the fuzzy store, driver-gated: build at
    // one bucket geometry, append, REBALANCE to a co-prime geometry,
    // then gate a batch — the result must equal q170's pure batch-form
    // NOT-EXISTS oracle exactly (the rebalance is invisible, as in q183:
    // both re-bucket through Stores.rebucket)
    "q195_fuzzy_rebalance" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q195_fz").toString
      val heads = documents(s, d)
        .selectExpr("doc_id AS id", "substring(text, 1, 24) AS s")
      graft.streaming.IngestFuzzy.fuzzySave(s, heads.where("id < 150"),
        s"$dir/store", maxDist = 3, nBuckets = 8)
      graft.streaming.IngestFuzzy.appendKeys(s, s"$dir/store",
        heads.where("id >= 150 AND id < 250"))
      graft.streaming.IngestFuzzy.fuzzyRebalance(s, s"$dir/store", 61)
      graft.streaming.IngestFuzzy.gateBatch(
        heads.where("id >= 250 AND id < 2000")
          .selectExpr("id AS doc_id", "s AS key"), s"$dir/store").use { kept =>
        kept.select("doc_id", "key")
          .write.mode("overwrite").parquet(s"$dir/result")
      }
      s.read.parquet(s"$dir/result").orderBy("doc_id")
    }),
    // the bucket prune's PAYING regime, driver-gated: a 5-key POINT
    // probe against a store rebalanced to a fine co-prime geometry
    // (251 buckets ≫ the probe's segment-tuple bucket set), so the
    // pruned named-dir read path — not its full-scan degradation —
    // is what the oracle hashes (q195 covers the covering-probe case;
    // PlanAuditSpec pins that this shape's scan touches exactly the
    // probe's buckets)
    "q197_fuzzy_point_probe" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q197_fz").toString
      val heads = documents(s, d)
        .selectExpr("doc_id AS id", "substring(text, 1, 24) AS s")
      graft.streaming.IngestFuzzy.fuzzySave(s, heads.where("id < 250"),
        s"$dir/store", maxDist = 3, nBuckets = 8)
      graft.streaming.IngestFuzzy.fuzzyRebalance(s, s"$dir/store", 251)
      graft.streaming.IngestFuzzy.gateBatch(
        heads.where("id >= 250 AND id < 255")
          .selectExpr("id AS doc_id", "s AS key"), s"$dir/store").use { kept =>
        kept.select("doc_id", "key")
          .write.mode("overwrite").parquet(s"$dir/result")
      }
      s.read.parquet(s"$dir/result").orderBy("doc_id")
    }),
    // the lexical point-search twin: ONE term against a 251-bucket
    // store reads one bucket partition; still the q107 fixed-point
    // ranking bit-for-bit
    "q198_lex_point_search" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q198_lex").toString
      Lexical.lexSave(s, documents(s, d), dir, nBuckets = 8)
      Lexical.lexRebalance(s, dir, 251)
      Lexical.lexSearch(s, dir, Seq("dup"), 20)
    }),
    // REAL audio decode — JDK javax.sound (PCM WAV/AIFF/AU): exact
    // frame counts + absolute-amplitude sums over executor-synthesized
    // WAVs. Hash-green against the triangle-wave closed form.
    "q149_audio_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val n = math.min(documents(s, d).count(), 500L)
      Multimodal.audioStats(Multimodal.syntheticAudio(s, n))
        .orderBy(col("media_id"))
    }),
    // REAL video decode — RIFF/AVI demux of uncompressed-DIB streams
    // (pure byte walking, no codec needed): exact per-channel pixel
    // sums across every frame of executor-synthesized AVIs. Compressed
    // streams (H.264 etc.) are refused, not faked — the JDK carries no
    // codec. Hash-green against the per-frame gradient closed form;
    // MultimodalSpec pins the round-trip through a standard AVI
    // container and the compressed-stream refusal.
    "q150_video_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val n = math.min(documents(s, d).count(), 300L)
      Multimodal.videoStats(Multimodal.syntheticVideos(s, n))
        .orderBy(col("media_id"))
    }),
    // In-engine text→vector bridge: feature-hashed embeddings
    // (Weinberger 2009 signed hashing trick — no vocabulary, no model)
    // feeding the float ANN tier, so embedding-cosine retrieval runs
    // end-to-end on raw documents. Rows-only (xxhash64 has no DuckDB
    // analog); TextAnalysisSpec pins determinism, the identical-text
    // cosine-1 planted pair, and the empty-doc drop.
    "q151_text_ann" -> ((s, d) => {
      val emb = TextAnalysis.hashEmbed(documents(s, d))
      Similarity.cosineTopK(emb, 5, 3)
    }),
    // round-2 oracle coverage for previously test-only operators
    "q66_schema_audit" -> ((s, d) => {
      // A16 (audits/inpe/bdqueimadas_focos.py:62-155) over a synthetic
      // (file, cols) frame derived from documents the way q52 derives
      // URLs: base 3-column schema, extras keyed off the source number.
      import org.apache.spark.sql.functions._
      val sn = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val empty = array().cast("array<string>")
      val files = documents(s, d).select(col("source"), sn.as("sn")).distinct()
        .select(col("source").as("file"),
          concat(array(lit("id"), lit("name"), lit("value")),
            when(col("sn") % 3 === 0, array(lit("extra_a"))).otherwise(empty),
            when(col("sn") % 4 === 0, array(lit("extra_b"))).otherwise(empty)).as("cols"))
      Audit.schemaPresence(files).withColumnRenamed("column", "col_name")
    }),
    "q67_state_topn_window" -> ((s, d) => {
      // A10 (social/anp_producao/pipeline.py:328-344): top-8 states at
      // the latest period + OUTROS over the trailing 6-month window.
      import org.apache.spark.sql.functions._
      val df = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("periodo"),
          col("n_name").as("uf"), col("o_totalprice").as("valor"))
      graft.reports.AnpPipeline.stateSeriesWithOther(df, "2001-06", 6, 8)
    }),
    "q68_latest_n" -> ((s, d) => {
      // O4–O6 (datasets/cvm/ckan_dataset.py:267-275): period extraction
      // from filenames + latest-N selection over a synthetic listing.
      import org.apache.spark.sql.functions._
      val listing = documents(s, d).select(
        concat(lit("https://x/f"), col("doc_id")).as("url"),
        concat(lit("inf_"), (col("doc_id") % 6 + 2019).cast("string"), lit("_"),
          lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"), lit(".zip")).as("filename"))
      Discovery.selectLatest(listing, 10)
    }),
    "q69_window_select" -> ((s, d) => {
      // P12 (social/bdqueimadas_daily/pipeline.py:353-369): resources
      // dated from filenames, < as-of (incomplete day excluded), last 7.
      import org.apache.spark.sql.functions._
      val listing = documents(s, d).select(
        concat(lit("daily_"),
          date_format(date_add(to_date(lit("2024-01-01")),
            (col("doc_id") % 60).cast("int")), "yyyyMMdd"),
          lit(".csv")).as("filename")).distinct()
      graft.reports.DailyPipeline.selectWindow(listing, "2024-02-15", 7,
          excludeAsOf = true)
        .orderBy(org.apache.spark.sql.functions.col("day").desc)
    }),
    "q70_catalog_join" -> ((s, d) => {
      // J10 (catalog/build.py:63-101): configured cards left-join their
      // published manifests; unpublished cards keep null metadata.
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val sn = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val cards = docs.select(col("source").as("id"),
          concat(lit("manifests/"), col("source"), lit(".json")).as("manifest_path"))
        .distinct()
      val manifests = docs.groupBy("source")
        .agg(count(lit(1)).as("item_count"), max("n_chars").as("max_chars"))
        .where(sn % 3 =!= 0)
        .select(concat(lit("manifests/"), col("source"), lit(".json")).as("manifest_path"),
          col("item_count"),
          when(col("max_chars") > 500, "complete").otherwise("partial")
            .as("generation_status"))
      cards.join(manifests, Seq("manifest_path"), "left")
        .select(col("id"), col("manifest_path"), col("generation_status"),
          col("item_count"))
        .orderBy("id")
    }),
    "q71_rowcol_counts" -> ((s, d) => {
      // A19 (profiling.py:269-297): per-file row/column counting profile
      // over the q66 synthetic schema family.
      import org.apache.spark.sql.functions._
      val sn = regexp_extract(col("file"), "src(\\d+)", 1).cast("int")
      documents(s, d).groupBy(col("source").as("file"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("file"), col("n_rows"),
          (lit(3) + (sn % 3 === 0).cast("int") + (sn % 4 === 0).cast("int"))
            .as("n_cols"))
        .orderBy("file")
    }),
    "q74_url_key_merge" -> ((s, d) => {
      // D2 full form (datasets/noticias_agricolas/merge.py:10-76) over a
      // synthetic listing: URL variants (trailing slash, query, host
      // case) collapse to one key; categories merge config-order-first.
      import org.apache.spark.sql.functions._
      val slug = element_at(typedLit(Seq("clima", "agro", "mercado", "energia")),
        (col("doc_id") % 4 + 1).cast("int"))
      val listing = documents(s, d).select(
        concat(lit("https://News.Example.com/arts/a"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 2 === 0, "/").otherwise(""),
          when(col("doc_id") % 5 === 0, "?utm=1").otherwise("")).as("url"),
        slug.as("category_slug"),
        initcap(slug).as("category_label"),
        (col("doc_id") % 7 + 1).cast("int").as("rank"),
        when(col("doc_id") % 10 === 0, "").otherwise(concat(lit("T"), col("doc_id"))).as("title"))
      Dedup.urlKeyMerge(listing, Seq("mercado", "clima"))
    }),
    "q72_near_dup_components" -> ((s, d) => {
      // Dedup closure: exact-verified jaccard-0.5 pairs → connected
      // components (GraphX min-label propagation) → keep-first map.
      // At corpus scale the edge input is minhashPairs; the exact pair
      // generator here keeps the query oracle-checkable end-to-end.
      val docs = documents(s, d)
      val edges = Dedup.ngramJaccardPairs(docs, 500L, 0.5).value.select("a", "b")
      Dedup.nearDupComponents(docs, edges, 500L).value
    }),
    // similarity search
    "q39_cosine_topk" -> ((s, d) => Similarity.cosineTopK(embeddings(s, d), 5, 10)),
    // hybrid retrieval: RRF fusion of exact cosine top-20 (dense) and
    // BM25 top-20 (lexical) in fixed-point ppm — fully oracle-exact
    // because both stages are (q39 + q107 disciplines)
    "q108_rrf_fusion" -> ((s, d) =>
      Similarity.rrfFusion(embeddings(s, d), documents(s, d),
        Seq("spark", "merge", "dup"), 5, 10)),
    // q108 served from the PERSISTED stores: exhaustive-dial dense
    // ranking from an ivfSave store + bucket-pruned BM25 from the
    // lexSave store, same fixed-point RRF — the store round-trip must
    // not move a single rank (hash-green against q108's oracle)
    "q167_hybrid_store" -> ((s, d) => {
      val e = embeddings(s, d)
      val vdir = java.nio.file.Files.createTempDirectory("q167_vec").toString
      val ldir = java.nio.file.Files.createTempDirectory("q167_lex").toString
      // sample-fit coarse quantizer (round-8 driver-Lloyd): the fusion
      // searches with nProbe = nList (every list probed), so the result
      // is fit-INVARIANT — same hash-green rows, none of the MLlib
      // KMeans job-launch overhead (round-13 job profile: takeSample/
      // collectAsMap job storm inside a store-lifecycle query)
      val idx = Similarity.ivfBuild(e.where("vec_id >= 5"), 16, sampleFit = true)
      Similarity.ivfSave(idx, vdir)
      idx.release()
      Lexical.lexSave(s, documents(s, d).where("doc_id >= 5"), ldir)
      Similarity.rrfFusionStores(s, vdir, ldir, e.where("vec_id < 5"),
        Seq("spark", "merge", "dup"), 10)
    }),
    "q40_ann_lsh" -> ((s, d) => Similarity.annLshTopK(embeddings(s, d), 5, 10)),
    // int8 scalar-quantized brute top-k (FAISS SQ8 codec as native
    // codegen expressions). Rows-only: quantized ranks can differ from
    // the float path near ties; Sq8Spec pins recall@10 >= 0.9 vs q39
    // plus codec exactness and the IVF,SQ8 save/load round trip.
    "q101_sq8_topk" -> ((s, d) => Similarity.sq8TopK(embeddings(s, d), 5, 10)),
    // product-quantized ADC top-k + exact refine (FAISS PQ8,RefineFlat;
    // 16x compression (m=16) — the densest tier of the Flat→SQ8→IVF→PQ
    // ladder). Rows-only: ADC ranks are approximate by design; PqSpec
    // pins ADC recall@10 >= 0.6 and refined recall >= 0.9 vs q39.
    "q116_pq_topk" -> ((s, d) => Similarity.pqTopKRefine(embeddings(s, d), 5, 10)),
    // OPQ pretransform (Ge 2013; FAISS OPQ16,PQ16,RefineFlat): a
    // driver-fit orthonormal rotation decorrelates subspaces before PQ
    // encoding — same storage as q116, strictly better ADC geometry.
    // Rows-only: approximate by design; OpqSpec pins rotation
    // orthonormality, recall floors vs q39, and >= plain-PQ recall.
    "q122_opq_topk" -> ((s, d) => Similarity.opqTopKRefine(embeddings(s, d), 5, 10)),
    // IVF,PQ composite (FAISS's billion-vector workhorse): coarse
    // list pruning x PQ compression — the scan touches nProbe/nList
    // of the corpus at 8 bytes/row. Rows-only: both stages are
    // approximate; PqSpec pins recall and the save/load round trip.
    "q119_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfPqTopK(embeddings(s, d), 5, 10, 16, 4)),
    "q56_ivf_topk" -> ((s, d) => Similarity.ivfTopK(embeddings(s, d), 5, 10, 16, 3)),
    // cluster-balanced diversity sample: k-means quota over embedding
    // space (rows-only — seeded KMeans; SimilaritySpec pins cap/
    // determinism/output size)
    "q106_diversity_sample" -> ((s, d) => {
      Similarity.diversitySample(embeddings(s, d), 8, 40).materialize.value
    }),
    "q61_lsh_near_dup" -> ((s, d) => Similarity.lshNearDupPairs(embeddings(s, d), 0.35)),
    "q46_cosine_near_dup" -> ((s, d) => Similarity.cosineNearDupPairs(embeddings(s, d), 300L, 0.4).value),
    // round-3 oracle coverage: P4/P5/P13 + the SQL extension surface
    "q75_coerce_datetime" -> ((s, d) => {
      // P4 (bdqueimadas_incremental.py:727-756): mixed-format datetime
      // strings coerce to timestamp, unparseable rows drop, monthly counts.
      // Formats synthesized per doc_id: ISO full / dayfirst-slash /
      // garbage / empty / date-only / dayfirst-dash.
      import org.apache.spark.sql.functions._
      val m2 = lpad((col("doc_id") % 9 + 1).cast("string"), 2, "0")
      val dd = lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")
      val raw = when(col("doc_id") % 6 === 0,
          concat(lit("2024-"), m2, lit("-"), dd, lit(" 10:30:00")))
        .when(col("doc_id") % 6 === 1, concat(dd, lit("/"), m2, lit("/2024 08:45")))
        .when(col("doc_id") % 6 === 2, lit("not-a-date"))
        .when(col("doc_id") % 6 === 3, lit(""))
        .when(col("doc_id") % 6 === 4, concat(lit("2024-"), m2, lit("-"), dd))
        .otherwise(concat(dd, lit("-"), m2, lit("-2024 12:00:00")))
      documents(s, d)
        .select(graft.functions.Coerce.toTimestampCoerce(raw).as("dt"))
        .where(col("dt").isNotNull)
        .groupBy(date_format(col("dt"), "yyyy-MM").as("period"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("period")
    }),
    "q76_satellite_filter" -> ((s, d) => {
      // P5 (bdqueimadas_incremental.py:868-881): keep rows whose satellite
      // name normalize-equals the reference satellite, or is null.
      import org.apache.spark.sql.functions._
      val m = col("doc_id") % 7
      val sat = when(m === 0, "AQUA_M-T").when(m === 1, "aqua m t")
        .when(m === 2, "Aqua-M.T").when(m === 3, "TERRA")
        .when(m === 4, "NOAA-20").when(m === 5, lit(null).cast("string"))
        .otherwise("GOES-16")
      documents(s, d).select(col("source"), sat.as("sat"))
        .where(col("sat").isNull ||
          graft.core.Cols.normKey(col("sat")) === Focos.ReferenceSatellite)
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source")
    }),
    "q77_yyyymm_listing" -> ((s, d) => {
      // P13 (bdqueimadas_mensal_listing.py:41-45): yyyymm period extraction
      // from listing filenames + target-year filter, per-period file counts.
      import org.apache.spark.sql.functions._
      val fname = concat(lit("focos_mensal_"),
        (col("doc_id") % 6 + 2019).cast("string"),
        lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"), lit("_br.csv"))
      documents(s, d)
        .select(graft.functions.Normalize.extractPeriod(fname).as("period"))
        .where(substring(col("period"), 1, 4) === "2023")
        .groupBy("period").agg(count(lit(1)).as("n_files"))
        .orderBy("period")
    }),
    "q78_sql_extensions" -> ((s, d) => {
      // §2.10 SQL surface: the custom codegen expressions (StripAccents,
      // DotProduct) registered via SparkSessionExtensions and exercised
      // through SQL TEXT under the driver contract — proving the
      // extension path, not just the Column API.
      graft.functions.GraftExtensions.register(s)
      embeddings(s, d).createOrReplaceTempView("emb_q78")
      s.sql("""
        SELECT vec_id,
               strip_accents(concat('Amazônia São-', CAST(label AS STRING))) AS ascii_label,
               dot_product(CAST(embedding AS ARRAY<DOUBLE>),
                           CAST(embedding AS ARRAY<DOUBLE>)) AS norm2
        FROM emb_q78 WHERE vec_id < 50 ORDER BY vec_id
      """)
    }),
    // Training-data curation family (beyond-reference, first-class):
    // deterministic splits/sampling, Gopher repetition filter, PII
    // redaction, token-budget sharding, eval decontamination.
    "q79_hash_split" -> ((s, d) => TrainingData.hashSplit(documents(s, d))),
    "q80_quota_sample" -> ((s, d) =>
      TrainingData.quotaSample(documents(s, d), "lang", 25)),
    "q81_repetition_filter" -> ((s, d) =>
      TrainingData.repetitionFilter(documents(s, d), 0.2)),
    "q82_pii_redact" -> ((s, d) => {
      // contacts synthesized deterministically from testdata (documents
      // carry no PII) — the redaction core is what's under test
      import org.apache.spark.sql.functions._
      val contact = concat(substring(col("text"), 1, 40),
        lit(" contact user"), (col("doc_id") % 97).cast("string"),
        lit("@"), col("source"), lit(".org or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      TrainingData.piiRedact(documents(s, d).withColumn("text", contact))
    }),
    "q83_token_pack" -> ((s, d) =>
      // bucketRows=64 so the two-level prefix sum exercises multiple
      // buckets (and the offsets window) even at sf0.01
      TrainingData.tokenPack(documents(s, d), 500L, 64L)),
    "q84_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.decontaminate(docs.where(col("doc_id") >= 20),
        docs.where(col("doc_id") < 20), 3, 2)
    }),
    // SemDeDup: cluster-scoped embedding dedup — KMeans quantizer has
    // no DuckDB equivalent, so rows-only here; SemDedupSpec pins recall
    // against the exact all-pairs baseline (q46's oracle-checked form).
    // Cluster count scales with the corpus (N/200): a hardcoded count
    // degrades toward all-pairs as the corpus grows (SCALE.md round 4)
    "q85_semdedup" -> ((s, d) =>
      Similarity.semDedupPairsAuto(embeddings(s, d), 0.4)),
    "q86_c4_clean" -> ((s, d) => {
      // multi-line pages synthesized deterministically from testdata
      // (documents are single-line word soup) — each rule gets both a
      // passing and a failing line/page somewhere in the corpus
      import org.apache.spark.sql.functions._
      val page = concat(
        substring(col("text"), 1, 50), lit(" end of line one."), lit("\n"),
        substring(col("text"), 51, 40),
        when(col("doc_id") % 3 === 0, lit(" tail line two!"))
          .otherwise(lit(" unterminated tail line")), lit("\n"),
        lit("too short."), lit("\n"),
        when(col("doc_id") % 5 === 0,
          lit("please enable javascript in your browser to continue."))
          .otherwise(lit("a perfectly ordinary closing sentence here.")), lit("\n"),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet."))
          .otherwise(lit("final line with six words total.")),
        when(col("doc_id") % 13 === 0, lit(" {")).otherwise(lit("")))
      TrainingData.c4Clean(documents(s, d).withColumn("page", page))
    }),
    "q87_mixture_sample" -> ((s, d) =>
      // target mixture: even-indexed sources keep 75%, odd keep 25%
      TrainingData.mixtureSample(documents(s, d),
        (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.75 else 0.25)).toMap)),
    // Gopher word-level quality rules — testdata docs run 10-99 words,
    // so minWords=30 exercises both verdicts; other thresholds are the
    // published defaults
    "q88_gopher_quality" -> ((s, d) =>
      TrainingData.gopherQuality(documents(s, d), minWords = 30)),
    // threshold 0.6 ≈ the corpus median shared fraction at sf0.01 —
    // both verdicts appear at every driver SF
    "q89_dup_ngrams" -> ((s, d) =>
      TrainingData.dupNgramFraction(documents(s, d), 3, 0.6).value),
    // maxLen=40 against 10-99-word docs: 1-3 chunks per doc, so both
    // the split and the tail-length arithmetic get exercised
    "q90_chunk_split" -> ((s, d) =>
      TrainingData.chunkSplit(documents(s, d), 40)),
    "q91_tfidf_topk" -> ((s, d) =>
      TextAnalysis.tfidfTopK(documents(s, d), Seq("join", "hash", "scan"), 20)),
    // BM25 lexical retrieval over the same pivot shape as q91, exact
    // fixed-point ppm scores (integer-cleared k1/b, linear idf); "dup"
    // is the rare high-idf term that dominates the ranking
    "q107_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25TopK(documents(s, d), Seq("spark", "merge", "dup"), 20)),
    // the persisted inverted index: save → bucket-pruned search must
    // reproduce the in-memory BM25 ranking bit-for-bit (q107's oracle)
    "q165_bm25_store" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q165_lex").toString
      Lexical.lexSave(s, documents(s, d), dir)
      Lexical.lexSearch(s, dir, Seq("spark", "merge", "dup"), 20)
    }),
    // store geometry is invisible to the ranking: build coarse (8
    // buckets), append, REBALANCE to a co-prime 61-bucket layout, then
    // search — still q107's fixed-point oracle bit-for-bit, which is
    // the whole rebalance contract (probe buckets recompute from meta)
    "q183_lex_rebalance" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q183_lex").toString
      val docs = documents(s, d)
      Lexical.lexSave(s, docs.where("doc_id < 250"), dir, nBuckets = 8)
      Lexical.lexAppendSave(s, dir, docs.where("doc_id >= 250"), 1L)
      Lexical.lexRebalance(s, dir, 61)
      Lexical.lexSearch(s, dir, Seq("spark", "merge", "dup"), 20)
    }),
    // incremental lexical ingest: build on half the corpus, append the
    // rest O(batch), search — still the full-corpus q107 ranking
    "q166_lex_incremental" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q166_lex").toString
      val docs = documents(s, d)
      Lexical.lexSave(s, docs.where("doc_id < 250"), dir)
      Lexical.lexAppendSave(s, dir, docs.where("doc_id >= 250"), 1L)
      Lexical.lexSearch(s, dir, Seq("spark", "merge", "dup"), 20)
    }),
    // stride 30 < maxLen 40: overlapping RAG-style passage windows
    "q92_sliding_chunks" -> ((s, d) =>
      TrainingData.chunkSplit(documents(s, d), 40, 30)),
    // q72's closure with quality-aware canonical selection: keep the
    // LONGEST member of each near-dup component, not the min id
    "q93_dedup_keep_best" -> ((s, d) =>
      Dedup.dedupKeepBest(documents(s, d), 500L, 0.5).value),
    // the streaming curation pass, exercised as a batch oracle query:
    // mixture admission + split + redaction in one stateless projection
    // (same contact synthesis as q82, same weights as q87); the orderBy
    // is the driver determinism requirement, not part of the operator
    "q94_curate_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val contact = concat(substring(col("text"), 1, 40),
        lit(" contact user"), (col("doc_id") % 97).cast("string"),
        lit("@"), col("source"), lit(".org or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      TrainingData.curateStream(
        documents(s, d).withColumn("text", contact),
        (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.75 else 0.25)).toMap)
        .orderBy("doc_id")
    }),
    // the end-to-end one-call dedup artifact (MinHash-LSH candidates →
    // exact-Jaccard verify → connected components → keep min doc_id per
    // cluster). Rows-only: the banded-LSH candidate stage has no DuckDB
    // equivalent; DedupCorpusSpec pins the drop-set against the q93
    // exact-edge closure on the same slice
    "q95_dedup_corpus" -> ((s, d) =>
      Dedup.dedupCorpus(documents(s, d), 0.5).value
        .select("doc_id").orderBy("doc_id")),
    // incremental dedup against the corpus SKETCH (signature store):
    // batch = doc_id ≥ 250 deduped against the signatures of the first
    // 250 docs and itself. Rows-only: sketch-estimated Jaccard has no
    // DuckDB equivalent; DedupIncrementalSpec pins drop-set agreement
    // 1.0 vs the exact full-corpus pair set plus the store lifecycle
    "q97_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val all = documents(s, d)
      // pinned: 250 raw docs behind a byte-light shuffle otherwise
      // tokenize as ONE AQE-coalesced task (round-14 stage profile)
      val store = Dedup.minhashSignatures(all.where(col("doc_id") < 250),
        pinned = true)
      Dedup.dedupIncremental(all.where(col("doc_id") >= 250), store, 0.5).value
        .select("doc_id").orderBy("doc_id")
    }),
    // Bloom-regime decontamination: the Catalyst runtime-filter pair
    // (BloomFilterAggregate / might_contain) lifted to the operator
    // level. Exactness-preserving by construction (bloom pre-filter +
    // exact confirm join), so it hash-checks against the same plain
    // shingle-join SQL as q84 — different slice/minOverlap so the two
    // rows are independent evidence. fpp 0.05 keeps the sketch small
    // while the confirm join erases every false positive.
    "q98_decontaminate_bloom" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.decontaminateBloom(docs.where(col("doc_id") >= 40),
        docs.where(col("doc_id") < 40), 3, 1, fpp = 0.05).value
    }),
    // Lee et al. 2021 EXACTSUBSTR: maximal per-doc token spans covered
    // by 5-gram runs appearing verbatim in ≥2 documents — the span-CUT
    // companion to the whole-doc near-dup family (q36/q95). The
    // suffix-array construction reduces to df≥2 gram starts + a
    // gaps-and-islands interval merge, both oracle-expressible.
    "q99_exact_substr" -> ((s, d) =>
      Dedup.exactSubstrSpans(documents(s, d), 5).value),
    // the consumer-facing half of EXACTSUBSTR: the corpus with q99's
    // spans cut out and kept tokens reassembled — every doc emits one
    // row, so the output IS the post-cut training corpus
    "q102_exact_substr_cut" -> ((s, d) =>
      Dedup.exactSubstrCut(documents(s, d), 5).value),
    // CCNet-style LM quality scoring: bigram model trained on docs
    // < 250, all docs scored by mean bigram probability in FIXED-POINT
    // ppm (integer div) so the perplexity proxy hash-checks exactly;
    // docs ≥ 250 exercise the unseen-bigram backoff path.
    "q100_lm_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.lmQualityScore(docs, docs.where(col("doc_id") < 250)).value
    }),
    // scorer evaluation: ROC-AUC (exact Mann-Whitney rank-sum, ties at
    // average rank) + R-precision of q100's LM score against q88's
    // Gopher keep verdict as labels — the one-number report a pipeline
    // reads before swapping quality scorers. Every operand is an exact
    // long; auc/prec are single double divisions (hash-green).
    "q124_score_auc" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val labels = TrainingData.gopherQuality(docs, minWords = 30)
        .select(col("doc_id"), col("keep").cast("long").as("label"))
      TrainingData.lmQualityScore(docs, docs.where(col("doc_id") < 250))
        .flatMap(TrainingData.scoreAuc(_, labels)).materialize.value
    }),
    // q124's calibration companion: decile bins of the LM score vs the
    // Gopher verdict — monotone pos_rate means the score ranks quality
    // even where its absolute values are uncalibrated
    "q126_score_calibration" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val labels = TrainingData.gopherQuality(docs, minWords = 30)
        .select(col("doc_id"), col("keep").cast("long").as("label"))
      TrainingData.lmQualityScore(docs, docs.where(col("doc_id") < 250))
        .flatMap(TrainingData.scoreCalibration(_, labels, 10)).materialize.value
    }),
    // Cohen's kappa between the two rule-based gates (Gopher word
    // rules vs bigram repetition) — chance-corrected agreement, the
    // number read before swapping one quality filter for another
    "q127_filter_kappa" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.filterKappa(
        TrainingData.gopherQuality(docs, minWords = 30)
          .select(col("doc_id"), col("keep")),
        TrainingData.repetitionFilter(docs, 0.2)
          .select(col("doc_id"), col("keep")))
    }),
    // mixture feasibility: per-source token supply vs the budget share
    // its target weight demands; weights = (srcnum mod 4 + 1)/50 so
    // they sum to 1 over the 20 sources, budget 50k tokens so both
    // oversubscription verdicts appear at sf0.01
    "q128_mixture_plan" -> ((s, d) =>
      TrainingData.mixturePlan(documents(s, d),
        (0 until 20).map(i => s"src$i" -> ((i % 4 + 1) * 20000L)).toMap,
        50000L)),
    // q128's consumer: the materialized repeated corpus — whole epochs
    // as integer repeats, the fractional epoch as one extra copy of a
    // hash-ordered token-prefix per source
    "q133_mixture_materialize" -> ((s, d) =>
      TrainingData.mixtureMaterialize(documents(s, d),
        (0 until 20).map(i => s"src$i" -> ((i % 4 + 1) * 20000L)).toMap,
        50000L)),
    // corpus-wide kNN JOIN: every vector's top-5 neighbors, IVF-blocked
    // (N·nProbe·clusterRows pair volume, never N²). Rows-only: KMeans
    // lists; recall vs brute force pinned by SimilaritySpec
    "q134_knn_join" -> ((s, d) =>
      Similarity.knnJoin(embeddings(s, d), 5).materialize.value),
    // q134's exhaustive dial: scanFrac = 1.0 probes every IVF list,
    // which IS the brute-force join — so the SAME knnJoin code path
    // (probe selection, candidate equi-join, per-qid window) runs
    // end-to-end and hash-checks against a DuckDB all-pairs top-k
    "q138_knn_exhaustive" -> ((s, d) =>
      Similarity.knnJoin(embeddings(s, d), 5, scanFrac = Some(1.0)).materialize.value),
    // q134 over the SQ8-quantized index: int8 assigned lists (~7× less
    // long-lived memory), ADC candidate scoring, float refine re-rank.
    // Rows-only (int8 ADC ranks the pool); recall parity vs the float
    // path pinned by SimilaritySpec
    "q140_knn_join_sq8" -> ((s, d) =>
      Similarity.knnJoinSq8(embeddings(s, d), 5).materialize.value),
    // the deepest corpus-side quantization rung: PQ-coded lists scored
    // via PqDecode reconstructions + exact float refine (rows-only —
    // seeded KMeans/codebooks; SimilaritySpec pins refined recall and
    // determinism; m=8 divides the testdata's 32-dim embeddings)
    "q152_knn_join_pq" -> ((s, d) =>
      Similarity.knnJoinPq(embeddings(s, d), 5, m = 8).materialize.value),
    // q152's exhaustive dial: scanFrac = 1.0 probes every list AND the
    // refine pool covers the corpus (k·refine ≥ N), so the exact-float
    // re-rank ranks ALL candidates — the result IS the brute-force
    // ranking while build → encode → PqDecode → ADC pool → refine all
    // still execute (hash-green; extends the green-dial ladder to the
    // fifth ANN family)
    "q153_knn_pq_exhaustive" -> ((s, d) => {
      val e = embeddings(s, d)
      // sampleFit: the exhaustive dial probes every list, so the coarse
      // fit is output-invariant (the q167/q156 argument) — the MLlib
      // job storm measured ~0.8 s of pure scheduling here (q138 vs q156)
      Similarity.knnJoinPq(e, 5, m = 8,
        refine = (e.count() / 5L + 1L).toInt, scanFrac = Some(1.0),
        sampleFit = true).materialize.value
    }),
    // the OPQ rung of the corpus-side ladder (FAISS OPQ,IVF,PQ as a
    // join): rotation-decorrelated subspaces before the codebook fit.
    // Rows-only (seeded alternation + KMeans); recall floor and
    // determinism pinned by SimilaritySpec
    "q154_knn_join_opq" -> ((s, d) =>
      Similarity.knnJoinOpq(embeddings(s, d), 5, m = 8).materialize.value),
    // the OPQ rung's exhaustive dial: rotation preserves dots/norms,
    // so scanFrac = 1.0 + a corpus-covering refine pool is again the
    // exact brute ranking — hash-green through rotation + codebooks
    // (every rung of the corpus-side ladder now carries a green dial)
    "q155_knn_opq_exhaustive" -> ((s, d) => {
      val e = embeddings(s, d)
      // sampleFit: fit-invariant at the exhaustive dial (see q153)
      Similarity.knnJoinOpq(e, 5, m = 8,
        refine = (e.count() / 5L + 1L).toInt, scanFrac = Some(1.0),
        sampleFit = true).materialize.value
    }),
    // q138's brute-force contract through the SAMPLE-FIT coarse
    // quantizer (round-8): centroids train on a bounded driver slice
    // (`coarseLloyd`) and assignment is the codegen augmented-dot
    // argmin — the exhaustive dial scans every list regardless of
    // where the cheap fit put them, so the green-dial invariance the
    // spec pins is proven in the gate too (hash-green, same oracle)
    "q156_knn_exhaustive_samplefit" -> ((s, d) =>
      Similarity.knnJoin(embeddings(s, d), 5, scanFrac = Some(1.0),
        sampleFit = true).materialize.value),
    // the 1-bit rung (FAISS IndexBinaryFlat): sign codes, exact
    // integer Hamming ranking — HASH-GREEN, because the oracle can
    // recompute Hamming as the count of per-dim sign disagreements
    // over the raw floats (no bit packing needed SQL-side)
    "q157_bin_topk" -> ((s, d) =>
      Similarity.binTopK(embeddings(s, d), 5, 10)),
    // Binary,RefineFlat at ITS exhaustive dial: the refine pool covers
    // the corpus, so the float re-rank orders every candidate and the
    // result is the exact brute ranking through encode → Hamming →
    // pool → refine (hash-green; sixth ANN family on the dial ladder)
    "q158_bin_refine_exhaustive" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.binTopK(e, 5, 10, refine = (e.count() / 10L + 1L).toInt)
    }),
    // the binary rung lifted to the corpus side: 1-bit inverted lists,
    // Hamming candidate pool, float refine. Rows-only (seeded lists);
    // BinSpec pins refined recall and determinism
    "q159_knn_join_bin" -> ((s, d) =>
      Similarity.knnJoinBin(embeddings(s, d), 5).materialize.value),
    // q159 at the exhaustive dial (every list + corpus-covering pool):
    // the float refine ranks all candidates — the brute ranking through
    // build → sign-encode → Hamming → refine (hash-green; the corpus-
    // side ladder's fifth green dial)
    "q160_knn_bin_exhaustive" -> ((s, d) => {
      val e = embeddings(s, d)
      // sampleFit: fit-invariant at the exhaustive dial (see q153)
      Similarity.knnJoinBin(e, 5,
        refine = (e.count() / 5L + 1L).toInt, scanFrac = Some(1.0),
        sampleFit = true).materialize.value
    }),
    // fuzzy-key similarity join: ALL head-32 pairs within Levenshtein
    // distance 4, blocked by the rarest-first q-gram prefix filter —
    // exact recall by the Gravano/Ed-Join bound, so the DuckDB
    // levenshtein oracle hash-matches end-to-end (no recall dial)
    "q161_edit_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(
        documents(s, d).where("doc_id < 2000")
          .selectExpr("doc_id AS id", "substring(text, 1, 32) AS s"),
        4).value),
    // fastText-shaped linear token classifier, fixed-point: per-token
    // smoothed class-conditional difference weights (hash-green — the
    // q100 integer-ppm discipline; the MLlib qualityClassifier's
    // oracle-exact sibling). Label: language-ID en-vs-rest on the
    // doc_id < 250 labeled slice
    "q163_nb_model" -> ((s, d) => {
      val docs = documents(s, d)
      TrainingData.nbTokenWeights(docs,
        docs.selectExpr("doc_id", "lang = 'en' AS label").where("doc_id < 250"))
    }),
    // the GPT-3 rule-distillation loop, oracle-exact end-to-end: train
    // the fixed-point token classifier ON the gopher rule's verdicts
    // (labeled slice), score the whole corpus, report Cohen's kappa
    // between classifier and rule — the q127 agreement machinery
    // evaluating the q163/q164 model against its own teacher
    "q168_classifier_kappa" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val rule = TrainingData.gopherQuality(docs, minWords = 30)
        .select(col("doc_id"), col("keep"))
      val clf = TrainingData.tokenClassifier(docs,
          rule.where(col("doc_id") < 250).selectExpr("doc_id", "keep AS label"))
        .value.select(col("doc_id"), col("pred").as("keep"))
      TrainingData.filterKappa(rule, clf)
    }),
    // train-and-score: every doc scored by the fixed-point token
    // weights (unseen tokens back off through the smoothed formula);
    // all-integer score, prior-free threshold — hash-green end-to-end
    "q164_nb_score" -> ((s, d) => {
      val docs = documents(s, d)
      TrainingData.tokenClassifier(docs,
        docs.selectExpr("doc_id", "lang = 'en' AS label").where("doc_id < 250")).value
    }),
    // fuzzy-key dedup closure: edit-distance edges → connected
    // components → keep-min representative (the q72 pattern over
    // typo-distance edges instead of jaccard edges). Edges come from
    // the SEGMENT blocking (PassJoin pigeonhole) so both exact-recall
    // families run under the driver gate (q161 is the prefix filter)
    "q162_fuzzy_key_dedup" -> ((s, d) => {
      val docs = documents(s, d).where("doc_id < 2000")
      val edges = Dedup.editDistancePairsSeg(
        docs.selectExpr("doc_id AS id", "substring(text, 1, 32) AS s"), 4)
        .value.selectExpr("id_a AS a", "id_b AS b")
      Dedup.nearDupComponents(docs, edges, 2000L).value
    }),
    // asymmetric (batch × store) edit-distance probe — the primitive
    // behind the streaming fuzzy-key gate (IngestFuzzy): every pair of
    // a batch key and a store key within d=4, exact recall through the
    // one-sided PassJoin probe, so the DuckDB cross levenshtein oracle
    // hash-matches it. Bounded slices per the round-9 entropy law
    "q169_fuzzy_store_pairs" -> ((s, d) => {
      val heads = documents(s, d)
        .selectExpr("doc_id AS id", "substring(text, 1, 32) AS s")
      Dedup.edStorePairs(heads.where("id >= 250 AND id < 2000"),
        heads.where("id < 250"), 4).value
    }),
    // the fuzzy-key ingest GATE itself, batch form: batch keys kept
    // after dropping any within d=3 of a store key or of a smaller-id
    // batch key (sketchDrops' first-wins policy). Both rules are
    // first-order — two NOT EXISTS in the oracle — so unlike the
    // MinHash gate (q97, rows-only) this gate is hash-green end-to-end
    "q170_fuzzy_gate" -> ((s, d) => {
      val heads = documents(s, d)
        .selectExpr("doc_id AS id", "substring(text, 1, 24) AS s")
      Dedup.fuzzyKeyGate(heads.where("id >= 250 AND id < 2000"),
        heads.where("id < 250"), 3).value.selectExpr("id AS doc_id", "s AS key")
    }),
    // deterministic seeded epoch shuffle: the dataloader-ordering step
    // (reproducible permutation as (shard, pos) coordinates, seed =
    // epoch number). md5 + nibble arithmetic + keyed ROW_NUMBER — all
    // engine-portable, so the oracle replays it bit-for-bit
    "q171_epoch_shuffle" -> ((s, d) =>
      TrainingData.epochShuffle(documents(s, d), 8, 7L)),
    // Fellegi-Sunter record linkage across two feeds: frame b is a
    // deterministic "vendor copy" of the registry (head truncated one
    // char, lengths shifted +3), blocked on lang. q172 measures the
    // u-probabilities (per-field chance-agreement ppm over blocked
    // pairs — the FS estimator); q173 scores with integer
    // log-likelihood-ratio weights and thresholds into the link stratum
    "q172_linkage_u" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.uRates(a, b, linkageRules)
    }),
    "q173_linkage_match" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      // weights ≈ round(100·log2(m/u)) with clerical m (head .98,
      // source .99, n_chars .95) and u from q172's measured rates;
      // threshold 800 admits the full-agreement stratum plus the
      // strong source+length corroboration band
      Linkage.linkScores(a, b, linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 800)
    }),
    // one-to-one resolution over q173's link stratum: mutual-best
    // assignment (each side's argmax, ties to the smaller partner id)
    // — the post-linkage step that stops a noisy record from absorbing
    // several entities. Two keyed windows, hash-green
    "q174_linkage_best" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.bestMatch(Linkage.linkScores(a, b, linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 800))
    }),
    // sorted-neighborhood blocking (Hernández & Stolfo 1995) composed
    // with the levenshtein verify: the LINEAR-candidate (≤ N·w)
    // complement to the exact-recall blockings of q161/q162 for
    // low-entropy keys, where those degrade toward quadratic (the
    // round-9 entropy law). Positional by definition → the ROW_NUMBER
    // oracle reproduces it exactly, hash-green
    "q175_snm_pairs" -> ((s, d) =>
      Linkage.snmPairs(documents(s, d).where("doc_id < 2000")
        .selectExpr("doc_id AS id", "substring(text, 1, 32) AS skey"),
        w = 10, maxDist = 4)),
    // multiclass token classifier (the fastText lang-ID shape): one
    // smoothed class-conditional unigram model per lang trained on the
    // doc_id < 250 labeled slice, every doc argmax-scored in pure
    // integer arithmetic — the LEARNED sibling of the heuristic q33,
    // hash-green end-to-end
    "q178_lang_classifier" -> ((s, d) => {
      val docs = documents(s, d)
      TrainingData.multiClassifier(docs,
        docs.selectExpr("doc_id", "lang AS cls").where("doc_id < 250")).value
    }),
    // survivorship merge over the resolved matches: one golden record
    // per entity, per-field precedence as explicit CASE projections
    // (longest head, registry source, larger length) — the stage that
    // closes block → score → resolve → MERGE. Hash-green
    "q177_linkage_golden" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      val matches = Linkage.bestMatch(Linkage.linkScores(a, b, linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 800))
      Linkage.goldenRecords(matches, a, b,
        Seq(Linkage.Longest("head"), Linkage.PreferA("source"),
            Linkage.Greatest("n_chars")))
    }),
    // unsupervised Fellegi-Sunter: fixed-point integer-ppm EM over the
    // 8-row agreement-pattern histogram (driver-side BigInt loop — the
    // pqFitBooks statistics-sized-model discipline), every division
    // truncating, parameters clamped to [1, 999999]. The oracle
    // re-runs the SAME 15 unrolled iterations in DuckDB HUGEINT SQL,
    // so the fit itself is hash-green — no clerical weights anywhere
    "q180_linkage_em" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.emFit(a, b, linkageRules)
    }),
    // the fitted model scoring pairs: each blocked pair joined to its
    // pattern's posterior match probability (broadcast 8-row table),
    // thresholded at the Bayes point 0.5 — EM-derived integer weights
    // scoring hash-green end-to-end; q173's clerical weights remain
    // the override path
    "q181_linkage_em_score" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.emPosteriors(a, b, linkageRules, 500000L).value
    }),
    // the MULTI-feed closure: connected components over the scored
    // match graph (threshold 680 admits the source+length band, so
    // one record can link several partners and clusters grow past
    // pairs), every record labeled by its cluster's smallest id —
    // GraphX CC on verified links, the recursive-CTE oracle replays it
    "q184_linkage_clusters" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.entityClusters(a, b,
        Linkage.linkScores(a, b, linkageRules,
          Map("head" -> (200, -300), "source" -> (430, -300),
              "n_chars" -> (550, -400)), 680)).value
    }),
    // the skewed-block mitigation under the hash gate: q172's
    // u-estimator computed over AUTO-salted blocking — per-block pair
    // counts decide which blocks get salted and by how much
    // (targetPairs is set low enough that the driver slice's blocks
    // genuinely salt, so the hash gate exercises the hot path, not
    // just the plumbing); every pair still meets exactly once, so the
    // UNSALTED oracle hash-matches it verbatim, which is the whole
    // claim: salting — manual or auto — changes the shuffle, never
    // the answer
    "q182_linkage_salted" -> ((s, d) => {
      val (a, b) = linkageFeeds(s, d)
      Linkage.uRatesFrom(Linkage.fieldAgreementsAuto(a, b, linkageRules,
        targetPairs = 1000L, maxSalt = 8), linkageRules)
    }),
    // the STREAMING entity-resolution face (IngestLinkage), batch form:
    // the registry feed then the vendor feed run through the persisted
    // store as two id-ordered micro-batches, and the sequential-arrival
    // assignment (each record joins its best-scoring prior's entity or
    // founds its own; parent chains resolve to their root) is replayed
    // by the oracle as ONE global pass — which is the fold-parity claim
    // itself, made hash-checkable
    "q185_linkage_ingest" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q185_link").toString
      val (a, b) = linkageFeeds(s, d)
      graft.streaming.IngestLinkage.linkSave(s, s"$dir/store", linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 680,
        Seq(Linkage.Longest("head"), Linkage.PreferA("source"),
            Linkage.Greatest("n_chars")), nBuckets = linkNB)
      Seq(a, b).foreach(f => graft.streaming.IngestLinkage.processBatch(
        f.withColumnRenamed("id", "doc_id"), s"$dir/store", s"$dir/out"))
      s.read.parquet(s"$dir/out").select("doc_id", "entity")
        .orderBy("doc_id")
    }),
    // the golden-record store after the same two-batch ingest: the
    // incremental survivorship aggregates (Longest/PreferA/Greatest,
    // golden riding at seq −1 so earliest-wins ties replay the fold)
    // must equal the one-pass per-entity merge the oracle computes
    "q186_linkage_golden_inc" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("q186_link").toString
      val (a, b) = linkageFeeds(s, d)
      graft.streaming.IngestLinkage.linkSave(s, s"$dir/store", linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 680,
        Seq(Linkage.Longest("head"), Linkage.PreferA("source"),
            Linkage.Greatest("n_chars")), nBuckets = linkNB)
      Seq(a, b).foreach(f => graft.streaming.IngestLinkage.processBatch(
        f.withColumnRenamed("id", "doc_id"), s"$dir/store", s"$dir/out"))
      graft.streaming.IngestLinkage.goldenLatest(s, s"$dir/store")
        .orderBy("entity")
    }),
    // survivorship under the RECENCY rule: same resolve as q177, but
    // head precedence goes to the feed with the later ingest timestamp
    // (deterministic per-feed timestamps derived from the ids). The
    // Newest rule is an explicit CASE like the others, hash-green
    "q179_linkage_newest" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      val (a0, b0) = linkageFeeds(s, d)
      val ts = (m: Int) =>
        expr(s"timestampadd(DAY, CAST(id % $m AS INT), timestamp'2024-01-01 00:00:00')")
      val matches = Linkage.bestMatch(Linkage.linkScores(a0, b0, linkageRules,
        Map("head" -> (200, -300), "source" -> (430, -300),
            "n_chars" -> (550, -400)), 800))
      Linkage.goldenRecords(matches,
        a0.withColumn("ts", ts(5)), b0.withColumn("ts", ts(7)),
        Seq(Linkage.Newest("head", "ts"), Linkage.PreferA("source"),
            Linkage.Greatest("n_chars")))
    }),
    // multi-pass SNM: forward + reversed key orderings, one verify —
    // the recall repair for pairs a first-character typo throws across
    // the forward sort. Still linear (≤ N·w·2 candidates), hash-green
    "q176_snm_multikey" -> ((s, d) =>
      Linkage.snmPairsMulti(documents(s, d).where("doc_id < 2000")
        .selectExpr("doc_id AS id", "substring(text, 1, 32) AS skey"),
        Seq("skey", "reverse(skey)"), w = 10, maxDist = 4)),
    // the q56 IVF family's exhaustive dial: nProbe = nList probes every
    // inverted list, so build → assign → probe → score runs end-to-end
    // and the result IS the q39 brute-force ranking (hash-green)
    "q141_ivf_exhaustive" -> ((s, d) =>
      // sampleFit: nProbe = nList probes every list, so the coarse fit
      // is output-invariant (the q167/q156 argument) — skip the MLlib
      // job storm
      Similarity.ivfTopK(embeddings(s, d), 5, 10, 16, 16, sampleFit = true)),
    // the q101 IVF,SQ8+RefineFlat tier at ITS exhaustive dial: every
    // list probed AND the float refine pool spans the corpus, so the
    // int8 store round-trips to the exact brute ranking (hash-green
    // through encode → store → ADC → refine)
    "q142_sq8_refine_exhaustive" -> ((s, d) => {
      val e = embeddings(s, d)
      // sampleFit: fit-invariant at the exhaustive dial (see q141)
      Similarity.sq8RefineTopK(e, 5, 10, 16, 16, (e.count() / 10L + 1L).toInt,
        sampleFit = true)
    }),
    // the q40 sign-LSH family's exhaustive dial: 0 hash bits = one
    // bucket = every pair a candidate, so the bucket-join machinery
    // runs end-to-end and the result IS the brute ranking (hash-green;
    // completes the green-dial ladder across all four ANN families)
    "q144_lsh_exhaustive" -> ((s, d) =>
      Similarity.annLshTopK(embeddings(s, d), 5, 10, nBits = 0)),
    // doc-level cross-corpus near-dup pairs (train side vs eval side):
    // the whole-document face of q114's contamination report, sketch-
    // estimated Jaccard in exact ppm. Rows-only (MinHash estimate);
    // planted recovery + no-false-pairs pinned by DedupSpec
    "q135_cross_near_dups" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = documents(s, d)
      Dedup.crossNearDups(docs.where(col("doc_id") >= 40),
        docs.where(col("doc_id") < 40), 0.5).materialize.value
    }),
    // one-call end-to-end curation (the q95 counterpart for the
    // curation family): gopher gate -> exact dedup -> split -> pack;
    // hash-green because every stage composes its own green oracle
    "q115_curate_corpus" -> ((s, d) =>
      TrainingData.curateCorpus(documents(s, d), 500).value),
    // q115 with the q95 MinHash near-dup stage composed between exact
    // dedup and the split (the real-pipeline order). Rows-only: the
    // LSH band stage has no DuckDB equivalent; TrainingDataSpec pins
    // the keep-set against hand-composing gopher -> exact -> q95
    "q118_curate_neardup" -> ((s, d) => {
      TrainingData.curateCorpus(documents(s, d), 500, nearDup = true)
        .materialize.value
    }),
    // snapshot diff between two corpus versions by content hash:
    // docs 0-9 removed, 400+ added, every 50th changed (mutated text)
    "q113_corpus_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val old = docs.where(col("doc_id") < 400)
      val nu = docs.where(col("doc_id") >= 10)
        .withColumn("text", when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      TrainingData.corpusDiff(old, nu)
    }),
    // per-eval-item contamination report: the audit face of q84 —
    // how many corpus docs share >= 2 distinct 3-shingles per eval doc
    "q114_eval_leak_report" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.evalLeakReport(docs.where(col("doc_id") >= 20),
        docs.where(col("doc_id") < 20), 3, 2)
    }),
    // cross-source k-gram containment matrix: the dataset-mixing audit
    // (which sources duplicate each other) — distinct gram sets,
    // equi-join on the gram key, fixed-point ppm containment
    "q111_source_overlap" -> ((s, d) =>
      TrainingData.sourceOverlap(documents(s, d), 5)),
    // q111's sketch twin: theta-sketch set algebra gives the same
    // containment matrix from one sketch row per source — no gram
    // join. Rows-only (DataSketches theta is engine-specific);
    // TrainingDataSpec pins equality with q111 in the exact regime
    "q146_source_overlap_sketch" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TrainingData.sourceOverlapSketch(documents(s, d), 5)
        .where(col("shared_est") > 0L)
    }),
    // Zipf rank-frequency profile: top tokens with exact corpus share
    // + cumulative share in ppm — the corpus-health report
    "q112_token_zipf" -> ((s, d) =>
      TextAnalysis.tokenZipf(documents(s, d), 100)),
    // token-distribution drift between snapshots (even vs odd doc_id
    // halves as the demo split): per-token ppm shares + signed delta,
    // ranked by absolute drift — the distribution-shift monitor beside
    // q113's doc-level snapshot diff. BIGINT fixed-point throughout.
    "q123_token_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TextAnalysis.tokenDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), 50)
    }),
    // BPE merge-table induction (Sennrich et al. 2016): tokenizer
    // training from corpus word-type counts — distributed type agg,
    // vocabulary-bounded merge loop (rows-only; TextAnalysisSpec pins
    // the classic low/lower hand trace)
    "q110_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMerges(documents(s, d), 15)),
    // q110's consumer half: re-encode the corpus under its own learned
    // merges (Sennrich apply_bpe, native BpeEncode expression) and
    // count subword usage. Rows-only: the apply loop has no SQL analog;
    // TextAnalysisSpec pins a hand-traced encode + training round trip
    "q120_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncodeCounts(documents(s, d), 15, 100)),
    // the APPLY half under the hash gate: greedy min-rank merging with
    // a FIXED merge table is a bounded recursion per word (at most
    // word-length steps, each merging every occurrence of the lowest-
    // ranked adjacent pair), so the DuckDB oracle replays it step for
    // step over (sym)-delimited states — self-contained delimiters make
    // plain string replace() exactly the engine's left-to-right
    // non-overlapping merge. Training (q110/q120) stays rows-only: its
    // merge table EVOLVES per iteration, which has no first-order SQL
    // analog; the consumer half is now oracle-checked
    "q189_bpe_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      documents(s, d)
        .select(explode(split(lower(trim(col("text"))), " ")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .select(explode(
          graft.functions.Bpe.encode(col("w"), bpeFixedMerges)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(100)
    }),
    // BPE TRAINING under the hash gate — the q180 unrolled-iteration
    // discipline applied to the merge loop: each of the 8 iterations
    // is one CTE stage (adjacent-pair counts over current states →
    // argmax with the engine's exact (count desc, pair lexical)
    // tie-break → replace over (sym)-delimited states), so the oracle
    // IS the algorithm and the learned merge table hash-matches row
    // for row. Clean alpha words only (the q189 delimiter discipline);
    // q110's full-corpus training stays rows-only
    "q191_bpe_train" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.bpeMerges(documents(s, d)
        .select(explode(split(lower(trim(col("text"))), " ")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .selectExpr("w AS text"), 8)
    }),
    // model-based quality filtering (Brown et al. 2020 App. A): LR
    // trained on gopherQuality's verdict over docs < 250 as weak
    // labels, every doc scored with a soft probability (rows-only —
    // iterative float fit; TrainingDataSpec pins held-out agreement)
    "q109_quality_classifier" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val labels = TrainingData.gopherQuality(docs.where(col("doc_id") < 250))
        .select(col("doc_id"), when(col("keep"), 1.0).otherwise(0.0).as("label"))
      TrainingData.qualityClassifier(docs, labels)
    }),
    // DSIR importance resampling (Xie et al. 2023): bag-of-bigram
    // target (lang='en') vs raw models, docs ranked by the fixed-point
    // probability-difference surrogate of the log-likelihood ratio,
    // top 100 kept; the hashed-feature mode is DsirSpec-pinned
    "q103_dsir_select" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      TrainingData.dsirSelect(docs, docs.where(col("lang") === "en"), 100).value
    }),
    // corpus-wide boilerplate table: exact top-25 5-grams by total
    // occurrences (ties lexical) with distinct-doc counts — one hash
    // agg + TakeOrdered, the C4 line-frequency analog
    "q104_heavy_hitters" -> ((s, d) =>
      Dedup.heavyHitterGrams(documents(s, d), 5, 25)),
    // q104's bounded-memory form: Count-Min sketch (depth 4 x 8 k
    // counters) + doc-sampled candidates — the shape that replaces the
    // full distinct-gram shuffle at 100 TB. Rows-only: sketch
    // collisions aren't SQL-expressible; DedupSpec pins the CMS
    // never-undercount invariant and planted-boilerplate recovery
    "q125_cms_hitters" -> ((s, d) =>
      Dedup.cmsHeavyHitters(documents(s, d), 5, 25)),
    // the third heavy-hitter face: DataSketches frequent-items
    // (approx_top_k) tracks items INSIDE the sketch — named top-N in
    // one aggregation, no candidate pass (vs q104 exact shuffle, q125
    // CMS + sample). Rows-only; DedupSpec pins exact-regime equality
    // with q104's counts and determinism
    "q147_hitters_sketch" -> ((s, d) =>
      Dedup.heavyHittersSketch(documents(s, d), 5, 25)),
    // per-source vocabulary cardinality: exact distinct vs the HLL++
    // sketch (the fixed-memory form at 100 TB) + relative error.
    // Rows-only: DuckDB's approx_distinct is a different HLL; the
    // error bound and determinism are pinned by TextAnalysisSpec
    "q129_cardinality_audit" -> ((s, d) =>
      TextAnalysis.cardinalityAudit(documents(s, d))),
    // q129's oracle-checkable half: the exact per-source COUNT(DISTINCT)
    // is fully DuckDB-expressible, so it hash-checks on its own row —
    // only the HLL estimate stays in the rows-only audit above
    "q139_vocab_exact" -> ((s, d) =>
      TextAnalysis.vocabCardinality(documents(s, d))),
    // the streaming face of q129: per-source vocabulary from MERGED
    // HLL sketch halves — DataSketches union of batch sketches equals
    // one sketch of everything (IngestVocabSpec pins merge == one-shot
    // AND rel err <= 0.05 vs q139's exact column). Rows-only: the
    // sketch estimate has no DuckDB equivalent (different HLL impl)
    "q143_vocab_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = documents(s, d)
      graft.streaming.IngestVocab.mergeReport(
        graft.streaming.IngestVocab.batchSketches(docs.where(col("doc_id") < 250), 0L)
          .unionByName(graft.streaming.IngestVocab.batchSketches(
            docs.where(col("doc_id") >= 250), 1L)))
    }),
    // per-source discrete length quantiles (value at rank ceil(p*n) —
    // exact longs, no interpolation) — sizes chunking/packing/Gopher
    // bounds against the corpus as it actually is
    "q131_length_profile" -> ((s, d) =>
      TextAnalysis.lengthProfile(documents(s, d))),
    // q131's sketch twin: mergeable Greenwald-Khanna quantiles — the
    // fixed-memory form at 100 TB (the exact form sorts per source).
    // Rows-only (engine-specific sketch); TextAnalysisSpec pins the
    // GK rank guarantee against the exact sorted lists
    "q145_length_sketch" -> ((s, d) =>
      TextAnalysis.lengthProfileSketch(documents(s, d))),
    // domain-disjoint split: the unit of assignment is the source
    // hash, so within-domain near-dups can never straddle train/eval
    "q132_disjoint_split" -> ((s, d) =>
      TrainingData.disjointSplit(documents(s, d))),
    // one-row corpus health dashboard: size, exact-dup mass, Gopher
    // keep rate, source concentration, length envelope — all exact
    // ppm integers
    "q136_corpus_health" -> ((s, d) =>
      TrainingData.corpusHealth(documents(s, d))),
    // per-source robust length outliers: |n_tok - source median| >
    // 3 x MAD, both discrete rank values — the truncated/concatenated
    // crawl-artifact filter, exact longs throughout
    "q137_length_outliers" -> ((s, d) =>
      TextAnalysis.lengthOutliers(documents(s, d))),
    // incremental heavy hitters: two half-corpus CMS sketches merged
    // (counter addition — exact), then top-k against the merged state.
    // Equals q125's one-shot output bit-for-bit; the merge==recompute
    // law and the on-disk store lifecycle are pinned by
    // IngestHittersSpec. Rows-only (sketch collisions, as q125)
    "q130_cms_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d)
      val merged = Dedup.cmsMerge(
        Dedup.cmsSketch(docs.where(col("doc_id") < 250)),
        Dedup.cmsSketch(docs.where(col("doc_id") >= 250)))
      Dedup.cmsTopK(docs, merged, sampleMod = 8)
    }),
    // the purge half of q104: every occurrence of the top-25 grams cut
    // from every doc, q102's reassembly contract (one row per doc)
    "q105_boilerplate_cut" -> ((s, d) =>
      Dedup.boilerplateCut(documents(s, d), 5, 25).value),
    // per-doc memorization-risk triage (Carlini 2022): of each doc's
    // 5-gram positions, how many start a sequence repeating >=2 times
    // corpus-wide, the worst repeat count, and the risky fraction
    "q117_memorization_risk" -> ((s, d) => {
      Dedup.memorizationRisk(documents(s, d), 5, 2).materialize.value
    }),
    // P2 oracle-expressible slice (bdqueimadas_incremental.py:795-824):
    // drifted per-file headers (case/separator/alias variants keyed off
    // the source number, q66 pattern) resolved to canonical roles by
    // ordered candidate lists under normalized matching; sn%5==4 files
    // carry an unresolvable value header → role row absent
    "q96_resolve_columns" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val sn = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val files = documents(s, d).select(col("source").as("file"), sn.as("sn")).distinct()
      def hdrRow(pos: Int, hdr: org.apache.spark.sql.Column) =
        files.select(col("file"), lit(pos).as("pos"), hdr.as("hdr"))
      val headers = hdrRow(0, lit("Satelite"))
        .unionAll(hdrRow(1, when(col("sn") % 4 === 0, "DataHoraGMT")
          .when(col("sn") % 4 === 1, "data_hora")
          .when(col("sn") % 4 === 2, "DATAHORA").otherwise("Data Hora GMT")))
        .unionAll(hdrRow(2, when(col("sn") % 3 === 0, "Estado")
          .when(col("sn") % 3 === 1, "UF").otherwise("ESTADO")))
        .unionAll(hdrRow(3, when(col("sn") % 5 === 0, "FRP")
          .when(col("sn") % 5 === 1, "frp_mw")
          .when(col("sn") % 5 === 2, "Valor")
          .when(col("sn") % 5 === 3, "FRP").otherwise("potencia")))
        .unionAll(hdrRow(4, lit("municipio")))
      graft.sources.ColumnResolver.resolveFrame(headers, Seq(
        "datetime" -> Seq("DataHoraGMT", "data_hora", "data"),
        "state" -> Seq("Estado", "UF"),
        "value" -> Seq("FRP", "frp_mw", "Valor")))
    }),
  )

  /** Registry (a) vs deterministic "vendor copy" (b) feeds for the
    * linkage family (q172/q173): bounded slice, lang-blocked; the copy
    * truncates the head one char and shifts lengths +3, so every
    * record has exactly one planted cross-feed match. */
  // store geometry for the q185/q186 toy stores (2 k members): results
  // are geometry-independent by construction, so this only sets the
  // per-append file count
  private val linkNB = 4

  private def linkageFeeds(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = documents(s, d).where("doc_id < 1000")
    (docs.selectExpr("doc_id AS id", "lang AS block",
       "substring(text, 1, 24) AS head", "source", "n_chars"),
     docs.selectExpr("doc_id + 100000 AS id", "lang AS block",
       "substring(text, 1, 23) AS head", "source", "n_chars + 3 AS n_chars"))
  }
  private val linkageRules = Seq(Linkage.LevRule("head", 2),
    Linkage.ExactRule("source"), Linkage.BandRule("n_chars", 5))

  /** q189's frozen merge table — common English digraph merges plus
    * end-of-word closures, in rank order (mirrored verbatim in the
    * oracle's VALUES list). */
  private val bpeFixedMerges: Array[(String, String)] = Array(
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("i", "n"), ("a", "n"),
    ("o", "n"), ("r", "e"), ("in", "g"), ("ing", "</w>"), ("s", "</w>"))

  /** The unrolled fixed-point-EM oracle for q180/q181: DuckDB re-runs
    * `Linkage.emFitParams`' exact integer iteration — HUGEINT products
    * (bounded by 10³⁰ ≪ the 1.7·10³⁸ HUGEINT range), floor division ==
    * BigInt truncation on non-negatives, the same [1, 999999] clamps
    * and GREATEST(·,1) denominators — over the same 8-row pattern
    * histogram, so the fit hash-matches bit-for-bit. `withFinal` adds
    * the post-fit E-step (`wf`) q181 joins pairs against. */
  private def emOracleCtes(iters: Int, withFinal: Boolean): String = {
    def estep(src: String, tag: String) = s"""
      e$tag AS (SELECT h.g0, h.g1, h.g2, h.cnt,
        (t.p * (CASE WHEN h.g0 = 1 THEN t.m0 ELSE 1000000 - t.m0 END)
             * (CASE WHEN h.g1 = 1 THEN t.m1 ELSE 1000000 - t.m1 END)
             * (CASE WHEN h.g2 = 1 THEN t.m2 ELSE 1000000 - t.m2 END)) AS num,
        ((1000000 - t.p) * (CASE WHEN h.g0 = 1 THEN t.u0 ELSE 1000000 - t.u0 END)
             * (CASE WHEN h.g1 = 1 THEN t.u1 ELSE 1000000 - t.u1 END)
             * (CASE WHEN h.g2 = 1 THEN t.u2 ELSE 1000000 - t.u2 END)) AS den
        FROM hist h CROSS JOIN $src t),
      w$tag AS (SELECT g0, g1, g2, cnt,
        CASE WHEN num + den = 0 THEN 0::HUGEINT
             ELSE (num * 1000000) // (num + den) END AS w FROM e$tag)"""
    val mInit = (0 until 3).map(i =>
      s"900000::HUGEINT AS m$i, 100000::HUGEINT AS u$i").mkString(", ")
    val head = s"""
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      pr AS (SELECT a.id AS id_a, b.id AS id_b,
                    CASE WHEN levenshtein(a.head, b.head) <= 2
                         THEN 1 ELSE 0 END AS g0,
                    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
                    CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                         THEN 1 ELSE 0 END AS g2
             FROM a JOIN b USING (block)),
      hist AS (SELECT g0, g1, g2, COUNT(*)::HUGEINT AS cnt
               FROM pr GROUP BY 1, 2, 3),
      it0 AS (SELECT 100000::HUGEINT AS p, $mInit)"""
    val its = (1 to iters).map { i =>
      estep(s"it${i - 1}", s"$i") + s""",
      it$i AS (SELECT
        GREATEST(1, LEAST(999999, SUM(cnt * w) // SUM(cnt))) AS p,""" +
        (0 until 3).map { f => s"""
        GREATEST(1, LEAST(999999,
          (SUM(CASE WHEN g$f = 1 THEN cnt * w ELSE 0 END) * 1000000)
          // GREATEST(SUM(cnt * w), 1))) AS m$f,
        GREATEST(1, LEAST(999999,
          (SUM(CASE WHEN g$f = 1 THEN cnt * (1000000 - w) ELSE 0 END) * 1000000)
          // GREATEST(SUM(cnt * (1000000 - w)), 1))) AS u$f""" }.mkString(",") +
        s"""
        FROM w$i)"""
    }.mkString(",")
    head + "," + its +
      (if (withFinal) "," + estep(s"it$iters", "f") else "")
  }

  private val DSUM_QTY = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  private val DSUM_PRICE = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
  private val DSUM_TOT = "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
  private val DSUM_BAL = "SUM(CAST(c_acctbal AS DECIMAL(18,2)))"

  /** q191's oracle, generated by unrolling the 8 BPE training
    * iterations into CTE stages (the q180 discipline: the oracle IS
    * the algorithm). Validated stage shape: adjacent pairs via
    * list-subscript unnest, argmax with the engine's exact
    * (count desc, l, r) tie-break, merge via plain replace over
    * (sym)-delimited states. "left"/"right" are SQL keywords, hence
    * the quoted aliases. */
  private def bpeTrainOracle(n: Int): String = {
    val stages = (0 until n).map { i =>
      s"""syms$i AS (SELECT word, c, string_split(substr(state, 2, length(state) - 2), ')(') AS syms FROM s$i),
         |p$i AS (SELECT syms[j] AS l, syms[j + 1] AS r, SUM(c) AS pc
         |  FROM syms$i, unnest(generate_series(1, len(syms) - 1)) AS t(j) GROUP BY 1, 2),
         |b$i AS (SELECT $i AS rank, l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |s${i + 1} AS (SELECT word, c, replace(state, '(' || b.l || ')(' || b.r || ')', '(' || b.l || b.r || ')') AS state
         |  FROM s$i CROSS JOIN b$i b)""".stripMargin
    }.mkString(",\n")
    val union = (0 until n).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""WITH w AS (
       |  SELECT word, COUNT(*) AS c FROM (
       |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
       |    FROM documents) t
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
       |s0 AS (SELECT word, c,
       |       regexp_replace(word, '(.)', '(\\1)', 'g') || '(</w>)' AS state
       |       FROM w),
       |$stages
       |SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
       |       l || r AS merged, CAST(pc AS BIGINT) AS pair_count
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q191_bpe_train" -> bpeTrainOracle(8),
    "q01_pricing_summary" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
             $DSUM_QTY AS sum_qty, $DSUM_PRICE AS sum_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             $DSUM_QTY / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_grouping_sets" -> """
      SELECT period, yr, state, biome, COUNT(*) AS value,
             CAST(GROUPING(period) AS INT) AS g_period,
             CAST(GROUPING(state) AS INT) AS g_state,
             CAST(GROUPING(biome) AS INT) AS g_biome
      FROM (SELECT strftime(l_shipdate, '%Y-%m') AS period,
                   CAST(year(l_shipdate) AS INT) AS yr,
                   l_returnflag AS state, l_linestatus AS biome FROM lineitem)
      GROUP BY GROUPING SETS ((period, yr), (period, yr, biome), (yr), (yr, biome),
        (yr, state), (yr, state, biome), (period, yr, state), (period, yr, state, biome))
      ORDER BY g_period, g_state, g_biome, yr,
               coalesce(period, ''), coalesce(state, ''), coalesce(biome, '')""",
    "q03_distinct_flags" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      WHERE l_returnflag IS NOT NULL ORDER BY l_returnflag, l_linestatus""",
    "q04_month_span" -> """
      SELECT min(strftime(l_shipdate, '%Y-%m')) AS min_month,
             max(strftime(l_shipdate, '%Y-%m')) AS max_month,
             COUNT(*) AS cnt FROM lineitem""",
    "q05_partial_merge" -> s"""
      SELECT l_returnflag, COUNT(*) AS cnt, $DSUM_QTY AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q06_monthly_counts" -> """
      SELECT strftime(l_shipdate, '%Y-%m') AS m, COUNT(*) AS cnt,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY 1 ORDER BY m""",
    "q07_rolling_12m" -> s"""
      WITH mm AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, $DSUM_TOT AS rev_dec
                  FROM orders GROUP BY 1),
      w AS (SELECT m, CAST(rev_dec AS DOUBLE) AS revenue,
              CAST(SUM(rev_dec) OVER (ORDER BY m ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS r12,
              CASE WHEN COUNT(*) OVER (ORDER BY m ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING) = 12
                   THEN CAST(SUM(rev_dec) OVER (ORDER BY m ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING) AS DOUBLE)
                   ELSE NULL END AS r12_prior
            FROM mm)
      SELECT m, revenue, r12, r12_prior,
             CASE WHEN r12_prior IS NULL OR r12_prior = 0 THEN NULL
                  ELSE (r12 - r12_prior) / r12_prior * 100 END AS r12_pct
      FROM w ORDER BY m""",
    "q08_mom_yoy" -> s"""
      WITH mm AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, $DSUM_TOT AS rev_dec
                  FROM orders GROUP BY 1),
      l AS (SELECT m, CAST(rev_dec AS DOUBLE) AS revenue,
              CAST(LAG(rev_dec, 1) OVER (ORDER BY m) AS DOUBLE) AS prev_m,
              CAST(LAG(rev_dec, 12) OVER (ORDER BY m) AS DOUBLE) AS prev_y FROM mm)
      SELECT m, revenue, prev_m, prev_y,
             CASE WHEN prev_m IS NULL OR prev_m = 0 THEN NULL ELSE (revenue - prev_m) / prev_m * 100 END AS mom_pct,
             CASE WHEN prev_y IS NULL OR prev_y = 0 THEN NULL ELSE (revenue - prev_y) / prev_y * 100 END AS yoy_pct
      FROM l ORDER BY m""",
    "q09_5yr_monthly_avg" -> s"""
      WITH mm AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, $DSUM_TOT AS tot
                  FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 2000 GROUP BY 1)
      SELECT substr(m, 6, 2) AS mm, CAST(SUM(tot) AS DOUBLE) / COUNT(*) AS avg_rev,
             COUNT(*) AS n_years
      FROM mm WHERE tot > 0 GROUP BY 1 ORDER BY mm""",
    "q10_topn_other" -> s"""
      WITH per AS (SELECT n_name, COUNT(*) AS cnt, $DSUM_BAL AS bal
                   FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, n_name ASC) AS rn FROM per)
      SELECT CASE WHEN rn <= 5 THEN n_name ELSE 'OUTROS' END AS label,
             CAST(SUM(cnt) AS BIGINT) AS cnt, CAST(SUM(bal) AS DOUBLE) AS bal
      FROM r GROUP BY 1 ORDER BY label""",
    "q11_share_of_total" -> s"""
      WITH per AS (SELECT r_name, n_name, $DSUM_BAL AS bal
                   FROM customer JOIN nation ON c_nationkey = n_nationkey
                                 JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2)
      SELECT r_name, n_name, CAST(bal AS DOUBLE) AS bal,
             CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER (PARTITION BY r_name) AS DOUBLE) * 100 AS share_pct
      FROM per ORDER BY r_name, n_name""",
    "q12_argmax_user" -> """
      WITH per AS (SELECT event_type, user_id, SUM(CAST(value AS DECIMAL(18,2))) AS tot
                   FROM events GROUP BY 1, 2),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tot DESC, user_id ASC) AS rn FROM per)
      SELECT event_type, user_id, CAST(tot AS DOUBLE) AS total FROM r WHERE rn = 1
      ORDER BY event_type""",
    "q13_change_detection" -> """
      WITH t AS (SELECT event_id, user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
      l AS (SELECT event_id, user_id,
              t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS interval_s FROM t)
      SELECT event_id, user_id, interval_s, interval_s > 0 AS changed FROM l ORDER BY event_id""",
    "q14_cadence" -> """
      WITH t AS (SELECT user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
      iv AS (SELECT user_id, s FROM (
               SELECT user_id, t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS s FROM t)
             WHERE s IS NOT NULL AND s > 0),
      a AS (SELECT user_id, COUNT(*) AS n, median(CAST(s AS DOUBLE)) AS median_s,
              CAST(SUM(s) AS BIGINT) AS sx, CAST(SUM(s * s) AS BIGINT) AS sx2 FROM iv GROUP BY 1),
      b AS (SELECT user_id, n, median_s, CAST(sx AS DOUBLE) / n AS mean_s,
              sqrt(greatest(CAST(sx2 AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n), 0)) AS sd
            FROM a),
      c AS (SELECT user_id, n, median_s, mean_s,
              CASE WHEN mean_s = 0 THEN NULL ELSE sd / mean_s END AS cv FROM b)
      SELECT user_id, n, median_s, mean_s, cv,
             CASE WHEN median_s <= 21600 THEN 'frequent' WHEN median_s <= 129600 THEN 'daily'
                  WHEN median_s <= 691200 THEN 'weekly' ELSE 'irregular' END AS cadence,
             CASE WHEN cv IS NULL THEN 'low' WHEN cv < 0.5 THEN 'high'
                  WHEN cv < 1.0 THEN 'medium' ELSE 'low' END AS confidence
      FROM c ORDER BY user_id""",
    "q15_yoy_outer" -> s"""
      WITH cur AS (SELECT o_orderpriority AS priority, $DSUM_TOT AS cur, COUNT(*) AS cur_cnt
                   FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1),
      prev AS (SELECT o_orderpriority AS priority, $DSUM_TOT AS prev, COUNT(*) AS prev_cnt
               FROM orders WHERE year(o_orderdate) = 1999 GROUP BY 1)
      SELECT COALESCE(cur.priority, prev.priority) AS priority,
             CAST(COALESCE(cur.cur, 0) AS DOUBLE) AS cur,
             CAST(COALESCE(prev.prev, 0) AS DOUBLE) AS prev,
             COALESCE(cur_cnt, 0) AS cur_cnt, COALESCE(prev_cnt, 0) AS prev_cnt,
             CAST(COALESCE(cur.cur, 0) AS DOUBLE) - CAST(COALESCE(prev.prev, 0) AS DOUBLE) AS delta,
             CASE WHEN CAST(COALESCE(prev.prev, 0) AS DOUBLE) = 0 THEN NULL
                  ELSE (CAST(COALESCE(cur.cur, 0) AS DOUBLE) - CAST(COALESCE(prev.prev, 0) AS DOUBLE))
                       / CAST(COALESCE(prev.prev, 0) AS DOUBLE) * 100 END AS pct
      FROM cur FULL OUTER JOIN prev ON cur.priority = prev.priority ORDER BY priority""",
    "q16_inner_merge_series" -> s"""
      WITH q AS (SELECT strftime(l_shipdate, '%Y-%m') AS m, $DSUM_QTY AS qty FROM lineitem GROUP BY 1),
      r AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, CAST($DSUM_TOT AS DOUBLE) AS revenue FROM orders GROUP BY 1)
      SELECT q.m AS m, qty, revenue FROM q JOIN r ON q.m = r.m ORDER BY m""",
    "q17_anti_overlay" -> """
      WITH base AS (SELECT strftime(l_shipdate, '%Y-%m') AS m, COUNT(*) AS cnt, 'base' AS src
                    FROM lineitem GROUP BY 1),
      om AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, COUNT(*) AS cnt FROM orders GROUP BY 1),
      patch AS (SELECT m, cnt, 'patch' AS src FROM om WHERE m = (SELECT max(m) FROM om))
      SELECT * FROM (
        SELECT m, cnt, src FROM base WHERE m NOT IN (SELECT m FROM patch)
        UNION ALL SELECT m, cnt, src FROM patch) ORDER BY m""",
    "q18_incremental_merge" -> """
      WITH ex AS (SELECT user_id, event_type, MIN(event_id) AS item_id, 'existing' AS src
                  FROM events WHERE event_id < 5000 GROUP BY 1, 2),
      cu AS (SELECT user_id, event_type, MIN(event_id) AS item_id, 'current' AS src
             FROM events WHERE event_id >= 5000 GROUP BY 1, 2)
      SELECT * FROM (
        SELECT * FROM ex WHERE NOT EXISTS (
          SELECT 1 FROM cu WHERE cu.user_id = ex.user_id AND cu.event_type = ex.event_type)
        UNION ALL SELECT * FROM cu) ORDER BY user_id, event_type""",
    "q19_dim_broadcast" -> """
      SELECT r_name, COUNT(*) AS cnt,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1 ORDER BY r_name""",
    "q20_upsert_priority" -> """
      WITH l1 AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderpriority AS priority,
                         COUNT(*) AS cnt, 1 AS prio FROM orders GROUP BY 1, 2),
      l2 AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderpriority AS priority,
                    COUNT(*) AS cnt, 2 AS prio FROM orders
             WHERE strftime(o_orderdate, '%Y-%m') >= '2001-01' AND o_orderstatus <> 'X' GROUP BY 1, 2),
      u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY m, priority ORDER BY prio DESC) AS rn FROM u)
      SELECT m, priority, cnt, prio FROM r WHERE rn = 1 ORDER BY m, priority""",
    "q21_same_month_prev_year" -> s"""
      WITH mm AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, CAST($DSUM_TOT AS DOUBLE) AS revenue
                  FROM orders GROUP BY 1)
      SELECT a.m AS m, a.revenue AS revenue, b.revenue AS prev_revenue,
             CASE WHEN b.revenue IS NULL OR b.revenue = 0 THEN NULL
                  ELSE (a.revenue - b.revenue) / b.revenue * 100 END AS yoy_pct
      FROM mm a LEFT JOIN mm b
        ON CAST(CAST(substr(a.m, 1, 4) AS INT) - 1 AS VARCHAR) || '-' || substr(a.m, 6, 2) = b.m
      ORDER BY m""",
    "q57_asof_join" -> """
      WITH clicks AS (SELECT user_id, event_id, value AS click_value FROM events
                      WHERE event_type = 'click'),
      purchases AS (SELECT user_id, event_id AS p_id, value AS purchase_value
                    FROM events WHERE event_type = 'purchase')
      SELECT c.user_id AS user_id, c.event_id AS event_id, c.click_value,
             p.purchase_value AS asof_purchase_value
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.event_id >= p.p_id
      ORDER BY event_id""",
    "q22_first_wins_dedup" -> """
      WITH r AS (SELECT user_id, event_type, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
                 FROM events)
      SELECT user_id, event_type, event_id, value FROM r WHERE rn = 1
      ORDER BY user_id, event_type""",
    "q23_key_merge_dedup" -> """
      SELECT lower(trim(source)) AS key, MIN(doc_id) AS first_id, COUNT(*) AS cnt,
             array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs
      FROM documents GROUP BY 1 ORDER BY key""",
    "q24_sentinel_union" -> """
      SELECT * FROM (
        SELECT strftime(l_shipdate, '%Y-%m') AS m, '__ALL__' AS flag, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
        UNION ALL
        SELECT strftime(l_shipdate, '%Y-%m') AS m, l_linestatus AS flag, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2) ORDER BY m, flag""",
    "q25_multisort_topk" -> s"""
      WITH per AS (SELECT n_name, COUNT(*) AS cnt, CAST($DSUM_BAL AS DOUBLE) AS bal
                   FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
      SELECT * FROM per ORDER BY cnt DESC, bal DESC, n_name ASC LIMIT 10""",
    "q26_set_intersection" -> """
      SELECT a.event_type FROM
        (SELECT DISTINCT event_type FROM events WHERE ts < TIMESTAMP '2024-01-15') a
        JOIN (SELECT DISTINCT event_type FROM events WHERE ts >= TIMESTAMP '2024-01-15') b
        ON a.event_type = b.event_type ORDER BY 1""",
    "q27_string_normalize" -> """
      SELECT CASE WHEN upper(trim(lang)) IN ('', 'NAN', 'NONE') THEN NULL
                  ELSE upper(trim(lang)) END AS norm_lang, COUNT(*) AS cnt
      FROM documents GROUP BY 1 ORDER BY norm_lang""",
    "q28_regex_extract" -> """
      WITH t AS (SELECT TRY_CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS src_num FROM documents)
      SELECT src_num % 4 AS bucket, COUNT(*) AS cnt, MIN(src_num) AS min_src, MAX(src_num) AS max_src
      FROM t GROUP BY 1 ORDER BY bucket""",
    "q29_json_extract" -> """
      WITH t AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
      SELECT event_type, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k,
             MIN(k) AS min_k, MAX(k) AS max_k
      FROM t GROUP BY 1 ORDER BY event_type""",
    "q30_content_hashes" -> """
      SELECT doc_id, sha256(text) AS sha256, md5(text) AS md5 FROM documents
      WHERE doc_id < 100 ORDER BY doc_id""",
    "q31_token_stats" -> """
      WITH t AS (SELECT source, CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tok FROM documents)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
             MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens
      FROM t GROUP BY 1 ORDER BY source""",
    "q32_quality_score" -> """
      WITH t AS (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS tk,
                        CAST(length(text) AS INT) AS n_chars_obs
                 FROM documents WHERE doc_id < 200),
      s AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tok,
              CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS INT) AS stop_hits,
              CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
              n_chars_obs FROM t)
      SELECT doc_id, n_tok, stop_hits, CAST(stop_hits AS DOUBLE) / n_tok AS stop_ratio,
             punct_ratio, n_chars_obs,
             CASE WHEN n_tok < 20 THEN 'short'
                  WHEN CAST(stop_hits AS DOUBLE) / n_tok > 0.5 THEN 'low'
                  WHEN CAST(stop_hits AS DOUBLE) / n_tok > 0.25 THEN 'medium'
                  ELSE 'high' END AS quality
      FROM s ORDER BY doc_id""",
    "q33_lang_id" -> """
      WITH t AS (SELECT doc_id, lang AS labeled, string_split(lower(trim(text)), ' ') AS tk
                 FROM documents WHERE doc_id < 200),
      s AS (SELECT doc_id, labeled,
              CAST(len(list_filter(tk, x -> x IN ('the','of','and'))) AS INT) AS en_hits,
              CAST(len(list_filter(tk, x -> x IN ('de','que','para'))) AS INT) AS pt_hits,
              CAST(len(list_filter(tk, x -> x IN ('el','la','los'))) AS INT) AS es_hits
            FROM t)
      SELECT doc_id, labeled, en_hits, pt_hits, es_hits,
             CASE WHEN en_hits > pt_hits AND en_hits > es_hits THEN 'en'
                  WHEN pt_hits > en_hits AND pt_hits > es_hits THEN 'pt'
                  WHEN es_hits > en_hits AND es_hits > pt_hits THEN 'es'
                  ELSE 'unk' END AS guess
      FROM s ORDER BY doc_id""",
    "q34_fingerprint" -> """
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q35_exact_dedup" -> """
      SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
      FROM documents GROUP BY 1 ORDER BY keep_id""",
    "q121_soft_dedup" -> """
      SELECT doc_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS dup_cnt,
             CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY md5(text)) AS weight,
             COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
      FROM documents ORDER BY doc_id""",
    "q38_ngram_jaccard" -> """
      WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                 FROM documents WHERE doc_id < 300),
      s AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b,
              CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS inter,
              CAST(len(a.sh) AS INT) AS na, CAST(len(b.sh) AS INT) AS nb
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT a, b, inter, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2 ORDER BY a, b""",
    "q39_cosine_topk" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q138_knn_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
            FROM n q JOIN n c ON q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    // Hamming of sign codes == count of per-dim sign disagreements
    // over the raw floats — the integer ranking is exactly
    // reproducible in SQL without packing a single bit
    "q157_bin_topk" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce FROM e WHERE vec_id >= 5),
      s AS (SELECT qid, vid,
              CAST(list_sum(list_transform(list_zip(qe, ce),
                x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS INT) AS ham
            FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham ASC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    // brute oracle: at a corpus-covering refine pool the float re-rank
    // orders every candidate — the Hamming stage only feeds it
    "q158_bin_refine_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    // brute oracle: the exhaustive dial's float refine ranks every
    // candidate — the sign codes only fed the pool
    "q160_knn_bin_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
            FROM n q JOIN n c ON q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    // the q-gram prefix filter has exact recall (Gravano/Ed-Join
    // bound), so the brute pairwise levenshtein IS the oracle — the
    // length band mirrors the |Δlen| <= d pruning identity
    "q161_edit_pairs" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 32) AS s
                 FROM documents WHERE doc_id < 2000)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
      FROM h a JOIN h b ON a.id < b.id
        AND abs(length(a.s) - length(b.s)) <= 4
      WHERE levenshtein(a.s, b.s) <= 4
      ORDER BY id_a, id_b""",
    // the asymmetric probe is exact-recall, so the oracle is the plain
    // cross levenshtein between the two slices
    "q169_fuzzy_store_pairs" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 32) AS s
                 FROM documents WHERE doc_id < 2000)
      SELECT a.id AS store_id, b.id AS batch_id,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
      FROM h a JOIN h b ON a.id < 250 AND b.id >= 250
        AND abs(length(a.s) - length(b.s)) <= 4
      WHERE levenshtein(a.s, b.s) <= 4
      ORDER BY store_id, batch_id""",
    // the gate's two drop rules are first-order (no closure): a batch
    // key survives iff no store key and no smaller-id batch key sits
    // within d — exactly two NOT EXISTS
    "q170_fuzzy_gate" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 24) AS s
                 FROM documents WHERE doc_id < 2000),
      st AS (SELECT * FROM h WHERE id < 250),
      b AS (SELECT * FROM h WHERE id >= 250)
      SELECT b.id AS doc_id, b.s AS key FROM b
      WHERE NOT EXISTS (SELECT 1 FROM st WHERE levenshtein(st.s, b.s) <= 3)
        AND NOT EXISTS (SELECT 1 FROM b b2
                        WHERE b2.id < b.id AND levenshtein(b2.s, b.s) <= 3)
      ORDER BY doc_id""",
    // md5 and the nibble arithmetic are engine-portable; DuckDB's
    // ROW_NUMBER and instr return BIGINT, so both cast down
    "q171_epoch_shuffle" -> """
      WITH s AS (SELECT doc_id,
                        md5('7:' || CAST(doc_id AS VARCHAR)) AS skey
                 FROM documents),
      h AS (SELECT doc_id, skey,
              CAST(((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 4096 +
                    (instr('0123456789abcdef', substr(skey, 2, 1)) - 1) * 256 +
                    (instr('0123456789abcdef', substr(skey, 3, 1)) - 1) * 16 +
                    (instr('0123456789abcdef', substr(skey, 4, 1)) - 1)) % 8 AS INT)
                AS shard
            FROM s)
      SELECT doc_id, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                  AS INT) AS pos
      FROM h ORDER BY shard, pos""",
    // blocked pairs are ≈ all non-matches, so per-field agreement ppm
    // over them IS the Fellegi-Sunter u estimate
    // CC over the thresholded match graph: reach = symmetric closure +
    // self loops, entity = min reachable id (the q72 recursive pattern)
    "q184_linkage_clusters" -> """
      WITH RECURSIVE d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      s AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST((CASE WHEN levenshtein(a.head, b.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN a.source = b.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM a JOIN b USING (block)),
      l AS (SELECT id_a, id_b FROM s WHERE score >= 680),
      v AS (SELECT id FROM a UNION SELECT id FROM b),
      e AS (SELECT id_a AS x, id_b AS y FROM l
            UNION SELECT id_b, id_a FROM l),
      reach(src, dst) AS (
        SELECT id, id FROM v
        UNION
        SELECT r.src, e.y FROM reach r JOIN e ON r.dst = e.x)
      SELECT src AS id, MIN(dst) AS entity
      FROM reach GROUP BY 1 ORDER BY id""",
    // greedy min-rank BPE apply replayed as a bounded recursion over
    // (sym)-delimited states: one step merges ALL occurrences of the
    // lowest-ranked pair present (plain replace — the self-contained
    // delimiters make it exactly the engine's left-to-right merge),
    // recursion stops when no pair matches, arg_max(it) is the final
    // state; per-TYPE encode × type count = per-occurrence counts
    "q189_bpe_apply" -> """
      WITH RECURSIVE w AS (
        SELECT word, COUNT(*) AS c FROM (
          SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
          FROM documents) t
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY 1),
      m(rank, l, r) AS (VALUES
        (0,'e','</w>'), (1,'t','h'), (2,'th','e</w>'), (3,'i','n'),
        (4,'a','n'), (5,'o','n'), (6,'r','e'), (7,'in','g'),
        (8,'ing','</w>'), (9,'s','</w>')),
      enc(word, state, it) AS (
        SELECT word, regexp_replace(word, '(.)', '(\1)', 'g') || '(</w>)', 0
        FROM w
        UNION ALL
        SELECT word,
               replace(state, '(' || l || ')(' || r || ')',
                       '(' || l || r || ')'),
               it + 1
        FROM (
          SELECT e.word, e.state, e.it, m.l, m.r,
                 ROW_NUMBER() OVER (PARTITION BY e.word ORDER BY m.rank) AS rn
          FROM enc e JOIN m
            ON contains(e.state, '(' || m.l || ')(' || m.r || ')')
        ) t WHERE rn = 1),
      final AS (SELECT word, arg_max(state, it) AS state FROM enc GROUP BY 1),
      toks AS (
        SELECT unnest(string_split(
                 substr(f.state, 2, length(f.state) - 2), ')(')) AS tok,
               w.c
        FROM final f JOIN w USING (word))
      SELECT tok, CAST(SUM(c) AS BIGINT) AS n
      FROM toks GROUP BY tok ORDER BY n DESC, tok LIMIT 100""",
    // the streaming gate's fold replayed as ONE global sequential pass:
    // best prior per record (score desc, id asc) is a window, the
    // parent forest resolves through a recursive chain to its root
    "q185_linkage_ingest" -> """
      WITH RECURSIVE d AS (SELECT * FROM documents WHERE doc_id < 1000),
      r AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d
            UNION ALL
            SELECT doc_id + 100000, lang, substr(text, 1, 23), source,
                   n_chars + 3 FROM d),
      p AS (SELECT x.id AS id_b, y.id AS id_a,
                   CAST((CASE WHEN levenshtein(y.head, x.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN y.source = x.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(y.n_chars - x.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM r x JOIN r y ON x.block = y.block AND y.id < x.id),
      par AS (SELECT id_b AS id, id_a AS parent FROM (
                SELECT id_a, id_b, ROW_NUMBER() OVER (PARTITION BY id_b
                  ORDER BY score DESC, id_a ASC) AS rn
                FROM p WHERE score >= 680) t WHERE rn = 1),
      chain(id, anc) AS (
        SELECT id, parent FROM par
        UNION ALL
        SELECT c.id, p2.parent FROM chain c JOIN par p2 ON c.anc = p2.id),
      roots AS (SELECT id, MIN(anc) AS root FROM chain GROUP BY 1)
      SELECT CAST(r.id AS BIGINT) AS doc_id,
             CAST(COALESCE(roots.root, r.id) AS BIGINT) AS entity
      FROM r LEFT JOIN roots ON r.id = roots.id
      ORDER BY doc_id""",
    // the golden store after the fold: per-entity one-pass merges —
    // Longest = max length tie earliest id, PreferA = founder's value,
    // Greatest = max, ver = newest merged id
    "q186_linkage_golden_inc" -> """
      WITH RECURSIVE d AS (SELECT * FROM documents WHERE doc_id < 1000),
      r AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d
            UNION ALL
            SELECT doc_id + 100000, lang, substr(text, 1, 23), source,
                   n_chars + 3 FROM d),
      p AS (SELECT x.id AS id_b, y.id AS id_a,
                   CAST((CASE WHEN levenshtein(y.head, x.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN y.source = x.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(y.n_chars - x.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM r x JOIN r y ON x.block = y.block AND y.id < x.id),
      par AS (SELECT id_b AS id, id_a AS parent FROM (
                SELECT id_a, id_b, ROW_NUMBER() OVER (PARTITION BY id_b
                  ORDER BY score DESC, id_a ASC) AS rn
                FROM p WHERE score >= 680) t WHERE rn = 1),
      chain(id, anc) AS (
        SELECT id, parent FROM par
        UNION ALL
        SELECT c.id, p2.parent FROM chain c JOIN par p2 ON c.anc = p2.id),
      roots AS (SELECT id, MIN(anc) AS root FROM chain GROUP BY 1),
      g AS (SELECT CAST(COALESCE(roots.root, r.id) AS BIGINT) AS entity,
                   r.id, r.head, r.source, r.n_chars
            FROM r LEFT JOIN roots ON r.id = roots.id)
      SELECT DISTINCT entity,
        CAST(MAX(id) OVER (PARTITION BY entity) AS BIGINT) AS ver,
        FIRST_VALUE(head) OVER (PARTITION BY entity
          ORDER BY length(head) DESC, id ASC) AS head,
        FIRST_VALUE(source) OVER (PARTITION BY entity
          ORDER BY id ASC) AS source,
        MAX(n_chars) OVER (PARTITION BY entity) AS n_chars
      FROM g ORDER BY entity""",
    // the salted plan must produce the UNSALTED answer — q172's oracle
    // verbatim is the point
    "q182_linkage_salted" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT lang AS block, substr(text, 1, 24) AS head, source, n_chars FROM d),
      b AS (SELECT lang AS block, substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      p AS (SELECT a.head AS ha, b.head AS hb, a.source AS sa, b.source AS sb,
                   a.n_chars AS na, b.n_chars AS nb
            FROM a JOIN b USING (block))
      SELECT COUNT(*) AS pairs,
             CAST(SUM(CASE WHEN levenshtein(ha, hb) <= 2 THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_head_ppm,
             CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_source_ppm,
             CAST(SUM(CASE WHEN abs(na - nb) <= 5 THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_n_chars_ppm
      FROM p""",
    "q172_linkage_u" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT lang AS block, substr(text, 1, 24) AS head, source, n_chars FROM d),
      b AS (SELECT lang AS block, substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      p AS (SELECT a.head AS ha, b.head AS hb, a.source AS sa, b.source AS sb,
                   a.n_chars AS na, b.n_chars AS nb
            FROM a JOIN b USING (block))
      SELECT COUNT(*) AS pairs,
             CAST(SUM(CASE WHEN levenshtein(ha, hb) <= 2 THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_head_ppm,
             CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_source_ppm,
             CAST(SUM(CASE WHEN abs(na - nb) <= 5 THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS u_n_chars_ppm
      FROM p""",
    "q173_linkage_match" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      s AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST((CASE WHEN levenshtein(a.head, b.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN a.source = b.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM a JOIN b USING (block))
      SELECT id_a, id_b, score FROM s WHERE score >= 800
      ORDER BY id_a, id_b""",
    "q174_linkage_best" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      s AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST((CASE WHEN levenshtein(a.head, b.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN a.source = b.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM a JOIN b USING (block)),
      l AS (SELECT id_a, id_b, score,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY score DESC, id_b ASC) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY id_b
                                      ORDER BY score DESC, id_a ASC) AS rb
            FROM s WHERE score >= 800)
      SELECT id_a, id_b, score FROM l WHERE ra = 1 AND rb = 1
      ORDER BY id_a, id_b""",
    // the sparse centroid model + argmax, all integer: per-class
    // L1-normalized ppm centroids, OOV terms exactly 0, zero-seen
    // fallback to the smallest class
    "q178_lang_classifier" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      lab AS (SELECT doc_id, lang AS cls FROM documents WHERE doc_id < 250),
      counts AS (SELECT t.w, l.cls, CAST(SUM(t.c) AS BIGINT) AS cwc
                 FROM tc t JOIN lab l USING (doc_id) GROUP BY 1, 2),
      clst AS (SELECT cls, CAST(SUM(cwc) AS BIGINT) AS n_c
               FROM counts GROUP BY 1),
      model AS (SELECT c.w, c.cls, (c.cwc * 1000000) // ct.n_c AS w_ppm
                FROM counts c JOIN clst ct USING (cls)),
      sc AS (SELECT t.doc_id, m.cls,
                    CAST(SUM(t.c) AS BIGINT) AS n_seen,
                    CAST(SUM(t.c * m.w_ppm) AS BIGINT) AS score
             FROM tc t JOIN model m ON m.w = t.w GROUP BY 1, 2),
      r AS (SELECT doc_id, cls, n_seen, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cls ASC) AS rn
            FROM sc),
      mc AS (SELECT MIN(cls) AS m FROM clst)
      SELECT d.doc_id,
             COALESCE(r.cls, mc.m) AS pred,
             CAST(COALESCE(r.n_seen, 0) AS BIGINT) AS n_seen,
             CAST(COALESCE(r.score, 0) AS BIGINT) AS score
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN mc
      LEFT JOIN r ON r.doc_id = d.doc_id AND r.rn = 1
      ORDER BY d.doc_id""",
    // q174's mutual-best matches + explicit-CASE survivorship merges
    "q177_linkage_golden" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars FROM d),
      s AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST((CASE WHEN levenshtein(a.head, b.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN a.source = b.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM a JOIN b USING (block)),
      l AS (SELECT id_a, id_b,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY score DESC, id_b ASC) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY id_b
                                      ORDER BY score DESC, id_a ASC) AS rb
            FROM s WHERE score >= 800),
      m AS (SELECT id_a, id_b FROM l WHERE ra = 1 AND rb = 1)
      SELECT m.id_a AS entity_id, m.id_a, m.id_b,
             CASE WHEN x.head IS NULL THEN y.head
                  WHEN length(y.head) > length(x.head)
                  THEN y.head ELSE x.head END AS head,
             x.source AS source,
             CASE WHEN x.n_chars IS NULL THEN y.n_chars
                  WHEN y.n_chars > x.n_chars
                  THEN y.n_chars ELSE x.n_chars END AS n_chars
      FROM m JOIN a x ON x.id = m.id_a JOIN b y ON y.id = m.id_b
      ORDER BY entity_id, id_b""",
    // the unrolled integer-EM fit (15 iterations of HUGEINT E/M steps
    // over the 8-row pattern histogram) — the oracle IS the algorithm
    "q180_linkage_em" -> (emOracleCtes(15, withFinal = false) + """
      SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM hist) AS pairs,
             CAST(p AS BIGINT) AS p_ppm,
             CAST(m0 AS BIGINT) AS m_head_ppm,
             CAST(u0 AS BIGINT) AS u_head_ppm,
             CAST(m1 AS BIGINT) AS m_source_ppm,
             CAST(u1 AS BIGINT) AS u_source_ppm,
             CAST(m2 AS BIGINT) AS m_n_chars_ppm,
             CAST(u2 AS BIGINT) AS u_n_chars_ppm
      FROM it15"""),
    // the fitted model scoring: pairs join their pattern's posterior
    // from the post-fit E-step, thresholded at the 0.5 Bayes point
    "q181_linkage_em_score" -> (emOracleCtes(15, withFinal = true) + """
      SELECT pr.id_a, pr.id_b, CAST(wf.w AS BIGINT) AS post_ppm
      FROM pr JOIN wf ON pr.g0 = wf.g0 AND pr.g1 = wf.g1 AND pr.g2 = wf.g2
      WHERE wf.w >= 500000
      ORDER BY id_a, id_b"""),
    // q177's pipeline with the Newest rule on head: the feed whose
    // derived ingest timestamp is later supplies the value
    "q179_linkage_newest" -> """
      WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
      a AS (SELECT doc_id AS id, lang AS block, substr(text, 1, 24) AS head,
                   source, n_chars,
                   TIMESTAMP '2024-01-01' + (doc_id % 5) * INTERVAL 1 DAY AS ts
            FROM d),
      b AS (SELECT doc_id + 100000 AS id, lang AS block,
                   substr(text, 1, 23) AS head, source,
                   n_chars + 3 AS n_chars,
                   TIMESTAMP '2024-01-01' + ((doc_id + 100000) % 7) * INTERVAL 1 DAY AS ts
            FROM d),
      s AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST((CASE WHEN levenshtein(a.head, b.head) <= 2
                              THEN 200 ELSE -300 END) +
                        (CASE WHEN a.source = b.source
                              THEN 430 ELSE -300 END) +
                        (CASE WHEN abs(a.n_chars - b.n_chars) <= 5
                              THEN 550 ELSE -400 END) AS INT) AS score
            FROM a JOIN b USING (block)),
      l AS (SELECT id_a, id_b,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY score DESC, id_b ASC) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY id_b
                                      ORDER BY score DESC, id_a ASC) AS rb
            FROM s WHERE score >= 800),
      m AS (SELECT id_a, id_b FROM l WHERE ra = 1 AND rb = 1)
      SELECT m.id_a AS entity_id, m.id_a, m.id_b,
             CASE WHEN x.head IS NULL THEN y.head
                  WHEN y.head IS NULL THEN x.head
                  WHEN y.ts > x.ts THEN y.head ELSE x.head END AS head,
             x.source AS source,
             CASE WHEN x.n_chars IS NULL THEN y.n_chars
                  WHEN y.n_chars > x.n_chars
                  THEN y.n_chars ELSE x.n_chars END AS n_chars
      FROM m JOIN a x ON x.id = m.id_a JOIN b y ON y.id = m.id_b
      ORDER BY entity_id, id_b""",
    // SNM is positional by definition: the oracle is the global rank +
    // a rank-band join + the same levenshtein threshold
    "q175_snm_pairs" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 32) AS s
                 FROM documents WHERE doc_id < 2000),
      r AS (SELECT id, s, ROW_NUMBER() OVER (ORDER BY s, id) AS rnk FROM h)
      SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
      FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 10
      WHERE levenshtein(a.s, b.s) <= 4
      ORDER BY id_a, id_b""",
    // union of the two orderings' rank bands, one verify on the
    // original key
    "q176_snm_multikey" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 32) AS s
                 FROM documents WHERE doc_id < 2000),
      r1 AS (SELECT id, s, ROW_NUMBER() OVER (ORDER BY s, id) AS rnk FROM h),
      r2 AS (SELECT id, s, ROW_NUMBER() OVER (ORDER BY reverse(s), id) AS rnk
             FROM h),
      c AS (SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
            FROM r1 a JOIN r1 b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 10
            UNION
            SELECT least(a.id, b.id), greatest(a.id, b.id)
            FROM r2 a JOIN r2 b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 10)
      SELECT c.id_a, c.id_b,
             CAST(levenshtein(x.s, y.s) AS INT) AS dist
      FROM c JOIN h x ON x.id = c.id_a JOIN h y ON y.id = c.id_b
      WHERE levenshtein(x.s, y.s) <= 4
      ORDER BY id_a, id_b""",
    // q88's rule labels train the q164 classifier; q127's kappa
    // arithmetic scores the agreement — one composed oracle
    "q168_classifier_kappa" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      gagg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      glab AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 30 AND 100000
                     AND sum_len / n_words BETWEEN 3.0 AND 10.0
                     AND (hash_chars + ell_chars // 3) / n_words <= 0.1
                     AND n_alpha / n_words >= 0.8
                     AND n_stop >= 2 THEN 1 ELSE 0 END AS ka
        FROM gagg),
      tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      counts AS (
        SELECT w,
               CAST(SUM(CASE WHEN g.ka = 1 THEN c ELSE 0 END) AS BIGINT) AS c_pos,
               CAST(SUM(CASE WHEN g.ka = 0 THEN c ELSE 0 END) AS BIGINT) AS c_neg
        FROM tc JOIN glab g USING (doc_id) WHERE doc_id < 250 GROUP BY 1),
      tot AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn, COUNT(*) AS v FROM counts),
      sc AS (
        SELECT t.doc_id,
               CAST(SUM(t.c * (((COALESCE(m.c_pos, 0) + 1) * 1000000) // (tot.np + tot.v)
                             - ((COALESCE(m.c_neg, 0) + 1) * 1000000) // (tot.nn + tot.v))) AS BIGINT) AS score
        FROM tc t LEFT JOIN counts m USING (w) CROSS JOIN tot
        GROUP BY t.doc_id),
      clab AS (SELECT doc_id, CASE WHEN score > 0 THEN 1 ELSE 0 END AS kb FROM sc),
      cells AS (
        SELECT CAST(SUM(ka * kb) AS BIGINT) AS n11,
               CAST(SUM(ka * (1 - kb)) AS BIGINT) AS n10,
               CAST(SUM((1 - ka) * kb) AS BIGINT) AS n01,
               CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT) AS n00
        FROM glab JOIN clab USING (doc_id))
      SELECT n11, n10, n01, n00,
             CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS agree_frac,
             CASE WHEN (n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                       - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) != 0
                  THEN CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                            - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) AS DOUBLE)
                       / ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                          - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
             END AS kappa
      FROM cells""",
    // fixed-point NB-surrogate weights: integer division of exact
    // longs, so the model reproduces bit-for-bit in any engine
    "q163_nb_model" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
                   FROM documents WHERE doc_id < 250),
      lab AS (SELECT doc_id, (lang = 'en') AS lab FROM documents WHERE doc_id < 250),
      counts AS (SELECT w,
          CAST(SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
          CAST(SUM(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
        FROM tok JOIN lab USING (doc_id) GROUP BY 1),
      tot AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn, COUNT(*) AS v FROM counts)
      SELECT w, c_pos, c_neg,
        CAST(((c_pos + 1) * 1000000) // (np + v)
             - ((c_neg + 1) * 1000000) // (nn + v) AS BIGINT) AS w_ppm
      FROM counts CROSS JOIN tot
      ORDER BY w""",
    // same weights applied corpus-wide; unseen tokens back off through
    // the smoothed formula (COALESCE 0) — all-integer scores
    "q164_nb_score" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
                   FROM documents),
      tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      lab AS (SELECT doc_id, (lang = 'en') AS lab FROM documents WHERE doc_id < 250),
      counts AS (SELECT w,
          CAST(SUM(CASE WHEN lab THEN c ELSE 0 END) AS BIGINT) AS c_pos,
          CAST(SUM(CASE WHEN NOT lab THEN c ELSE 0 END) AS BIGINT) AS c_neg
        FROM tc JOIN lab USING (doc_id) GROUP BY 1),
      tot AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn, COUNT(*) AS v FROM counts),
      sc AS (SELECT t.doc_id,
          CAST(SUM(t.c) AS BIGINT) AS n_tok,
          CAST(SUM(t.c * (((COALESCE(m.c_pos, 0) + 1) * 1000000) // (tot.np + tot.v)
                        - ((COALESCE(m.c_neg, 0) + 1) * 1000000) // (tot.nn + tot.v))) AS BIGINT) AS score
        FROM tc t LEFT JOIN counts m USING (w) CROSS JOIN tot
        GROUP BY t.doc_id)
      SELECT doc_id, n_tok, score, score > 0 AS pred FROM sc ORDER BY doc_id""",
    // q72's recursive-closure oracle over typo-distance edges
    "q162_fuzzy_key_dedup" -> """
      WITH RECURSIVE h AS (SELECT doc_id, substr(text, 1, 32) AS s
                           FROM documents WHERE doc_id < 2000),
      pairs AS (SELECT a.doc_id AS a, b.doc_id AS b FROM h a JOIN h b
                ON a.doc_id < b.doc_id
                AND abs(length(a.s) - length(b.s)) <= 4
                WHERE levenshtein(a.s, b.s) <= 4),
      e AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM h
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, MIN(dst) AS component
      FROM reach GROUP BY 1 ORDER BY doc_id""",
    // same brute oracle: the sample-fit coarse quantizer moves WHERE
    // vectors live, not what the exhaustive scan ranks
    "q156_knn_exhaustive_samplefit" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
            FROM n q JOIN n c ON q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    // same brute-force oracle as q138: at the exhaustive dial the PQ
    // path's float refine ranks every candidate, so the ADC stage
    // cannot change the result — only the plumbing differs
    "q153_knn_pq_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
            FROM n q JOIN n c ON q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    // brute oracle again: at the exhaustive dial the rotated-space
    // refine ranks every candidate by a rotation-invariant cosine
    "q155_knn_opq_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
            FROM n q JOIN n c ON q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "q139_vocab_exact" -> """
      WITH tok AS (
        SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents)
      SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
      FROM tok GROUP BY source ORDER BY source""",
    // Media decode oracles: the synthesized payloads have CLOSED-FORM
    // statistics, so DuckDB verifies the REAL decodes (ImageIO /
    // javax.sound / AVI demux) end-to-end without decoding a byte —
    // Spark decodes actual pixels/samples/frames; the oracle computes
    // the same sums from the generator formulas in pure SQL. Integer
    // division (//) mirrors the Scala generators exactly.
    // the dHash oracle: recompute the 72 sampled gray values per image
    // from the md5-nibble generator formula (sample coords x·4, y·4 at
    // 36×32), count disagreeing horizontal-difference signs per pair.
    // `bright` never appears: a uniform shift cancels in the
    // difference — the invariance the channel exists for
    "q187_image_dhash_pairs" -> """
      WITH imgs AS (
        SELECT i AS id, i AS seed FROM range(0, 40) t(i)
        UNION ALL
        SELECT i + 1000, i FROM range(0, 40) t(i) WHERE i % 4 = 0),
      cells AS (
        SELECT id, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM imgs, range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.y, c.x, CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n ON n.id = c.id AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2)
      SELECT CAST(ia AS BIGINT) AS a, CAST(ib AS BIGINT) AS b,
             CAST(hm AS INT) AS hamming
      FROM ham WHERE hm <= 2 ORDER BY a, b""",
    // q187's construction with a frame dimension: per-frame difference
    // signs from the md5-nibble closed form, clip pairs keep iff all
    // three frames sit within the radius
    "q192_video_dhash_pairs" -> """
      WITH vids AS (
        SELECT i AS id, i AS seed FROM range(0, 30) t(i)
        UNION ALL
        SELECT i + 1000, i FROM range(0, 30) t(i) WHERE i % 3 = 0),
      cells AS (
        SELECT id, f, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(f AS VARCHAR) || ':' || CAST(x*4 AS VARCHAR) || ':'
              || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(f AS VARCHAR) || ':' || CAST(x*4 AS VARCHAR) || ':'
              || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM vids, range(0, 3) tf(f), range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.f, c.y, c.x,
               CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n
          ON n.id = c.id AND n.f = c.f AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      fham AS (
        SELECT p.id AS ia, q.id AS ib, p.f,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q
          ON p.f = q.f AND p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2, 3),
      clip AS (SELECT ia, ib, COUNT(*) AS matched
               FROM fham WHERE hm <= 2 GROUP BY 1, 2)
      SELECT CAST(ia AS BIGINT) AS a, CAST(ib AS BIGINT) AS b,
             CAST(3 AS INT) AS n_frames
      FROM clip WHERE matched = 3 ORDER BY a, b""",
    // window energies from the triangle closed form (amplitude
    // dropped — it scales every energy uniformly and cancels in the
    // sign), 64 consecutive-window comparisons per clip, disagreement
    // counts per pair
    "q190_audio_ahash_pairs" -> """
      WITH auds AS (
        SELECT i AS id, i % 50 + 2 AS p FROM range(0, 40) t(i)
        UNION ALL
        SELECT i + 1000, i % 50 + 2 FROM range(0, 40) t(i) WHERE i % 4 = 0),
      e AS (
        SELECT id, (i // 24) AS w, SUM(abs((i % p) * 2 - p)) AS en
        FROM auds, range(0, 1560) t(i)
        GROUP BY 1, 2),
      bits AS (
        SELECT a.id, a.w, CASE WHEN a.en > b.en THEN 1 ELSE 0 END AS bit
        FROM e a JOIN e b ON b.id = a.id AND b.w = a.w + 1
        WHERE a.w < 64),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.w = q.w AND p.id < q.id
        GROUP BY 1, 2)
      SELECT CAST(ia AS BIGINT) AS a, CAST(ib AS BIGINT) AS b,
             CAST(hm AS INT) AS hamming
      FROM ham WHERE hm <= 2 ORDER BY a, b""",
    // the fingerprint gate's two drop rules are first-order: a batch
    // image survives iff no STORE image and no SMALLER-ID batch image
    // sits within hamming 2 of its closed-form dHash. Store ids (0..19)
    // are below every batch id, so one ia < ib hamming matrix serves
    // both EXISTS branches
    "q193_fp_gate_image" -> """
      WITH imgs AS (
        SELECT i AS id, i AS seed, 1 AS st FROM range(0, 20) t(i)
        UNION ALL
        SELECT 100 + i, CASE WHEN i % 3 = 0 THEN i // 3 ELSE 100 + i END, 0
        FROM range(0, 30) t(i)
        UNION ALL SELECT 200, 101, 0),
      cells AS (
        SELECT id, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM imgs, range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.y, c.x, CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n ON n.id = c.id AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2)
      SELECT CAST(b.id AS BIGINT) AS doc_id
      FROM imgs b WHERE b.st = 0
        AND NOT EXISTS (SELECT 1 FROM ham
                        WHERE ham.ib = b.id AND ham.hm <= 2)
      ORDER BY doc_id""",
    // the serving probe: (probe, store) pairs at closed-form dHash
    // hamming ≤ 2 — probe ids are all > store ids so ia/ib orient
    "q199_fp_point_probe" -> """
      WITH pr AS (SELECT * FROM (VALUES (100, 3), (101, 7), (102, 500),
                                        (103, 11), (104, 501)) v(id, seed)),
      imgs AS (
        SELECT i AS id, i AS seed FROM range(0, 20) t(i)
        UNION ALL SELECT id, seed FROM pr),
      cells AS (
        SELECT id, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM imgs, range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.y, c.x, CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n ON n.id = c.id AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2)
      SELECT CAST(ib AS BIGINT) AS id, CAST(ia AS BIGINT) AS oid
      FROM ham WHERE hm <= 2 AND ia < 20 AND ib >= 100
      ORDER BY id, oid""",
    // the multi-part rule: matched aligned frames must equal BOTH
    // clips' frame counts — the tampered clip (2 of 3) and the 2-frame
    // prefix (part-count mismatch) survive, full twins drop
    "q194_fp_gate_video" -> """
      WITH frames AS (
        SELECT i AS id, f, i AS seed, 3 AS nf
        FROM range(0, 10) t(i), range(0, 3) tf(f)
        UNION ALL SELECT 100, f, 0, 3 FROM range(0, 3) tf(f)
        UNION ALL SELECT 101, 0, 1, 3 UNION ALL SELECT 101, 1, 1, 3
        UNION ALL SELECT 101, 2, 99, 3
        UNION ALL SELECT 102, 0, 2, 2 UNION ALL SELECT 102, 1, 2, 2
        UNION ALL SELECT 103, f, 50, 3 FROM range(0, 3) tf(f)
        UNION ALL SELECT 104, f, 50, 3 FROM range(0, 3) tf(f)),
      cells AS (
        SELECT id, f, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(f AS VARCHAR) || ':' || CAST(x*4 AS VARCHAR) || ':'
              || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(f AS VARCHAR) || ':' || CAST(x*4 AS VARCHAR) || ':'
              || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM frames, range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.f, c.y, c.x,
               CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n
          ON n.id = c.id AND n.f = c.f AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      fham AS (
        SELECT p.id AS ia, q.id AS ib, p.f,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q
          ON p.f = q.f AND p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2, 3),
      meta AS (SELECT DISTINCT id, nf FROM frames),
      clipm AS (SELECT ia, ib, COUNT(*) AS matched
                FROM fham WHERE hm <= 2 GROUP BY 1, 2)
      SELECT CAST(b.id AS BIGINT) AS doc_id
      FROM meta b WHERE b.id >= 100
        AND NOT EXISTS (
          SELECT 1 FROM clipm m
          JOIN meta a ON a.id = m.ia
          WHERE m.ib = b.id AND m.matched = a.nf AND a.nf = b.nf)
      ORDER BY doc_id""",
    // the q193 NOT-EXISTS structure over the q190 closed-form window
    // energies: store ids (0..19) and smaller batch ids both sit below
    // b.id, so one triangular hamming matrix serves both drop rules;
    // amp never appears (volume cancels in the energy comparisons)
    "q196_fp_gate_audio" -> """
      WITH auds AS (
        SELECT i AS id, i % 50 + 2 AS p, 1 AS st FROM range(0, 20) t(i)
        UNION ALL
        SELECT 100 + i,
               CASE WHEN i % 3 = 0 THEN (i // 3) % 50 + 2
                    ELSE (20 + i) % 50 + 2 END, 0
        FROM range(0, 30) t(i)
        UNION ALL SELECT 200, 21 % 50 + 2, 0),
      e AS (
        SELECT id, (i // 24) AS w, SUM(abs((i % p) * 2 - p)) AS en
        FROM auds, range(0, 1560) t(i)
        GROUP BY 1, 2),
      bits AS (
        SELECT a.id, a.w, CASE WHEN a.en > b.en THEN 1 ELSE 0 END AS bit
        FROM e a JOIN e b ON b.id = a.id AND b.w = a.w + 1
        WHERE a.w < 64),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.w = q.w AND p.id < q.id
        GROUP BY 1, 2)
      SELECT CAST(b.id AS BIGINT) AS doc_id
      FROM auds b WHERE b.st = 0
        AND NOT EXISTS (SELECT 1 FROM ham
                        WHERE ham.ib = b.id AND ham.hm <= 2)
      ORDER BY doc_id""",
    // the rebalance is invisible by construction: the gated set equals
    // q170's pure NOT-EXISTS form over the same store/batch split
    "q195_fuzzy_rebalance" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 24) AS s
                 FROM documents WHERE doc_id < 2000),
      st AS (SELECT * FROM h WHERE id < 250),
      b AS (SELECT * FROM h WHERE id >= 250)
      SELECT b.id AS doc_id, b.s AS key FROM b
      WHERE NOT EXISTS (SELECT 1 FROM st WHERE levenshtein(st.s, b.s) <= 3)
        AND NOT EXISTS (SELECT 1 FROM b b2
                        WHERE b2.id < b.id AND levenshtein(b2.s, b.s) <= 3)
      ORDER BY doc_id""",
    // the point-probe shape: same NOT-EXISTS policy, 5-key batch —
    // what the pruned named-dir read must reproduce
    "q197_fuzzy_point_probe" -> """
      WITH h AS (SELECT doc_id AS id, substr(text, 1, 24) AS s
                 FROM documents WHERE doc_id < 255),
      st AS (SELECT * FROM h WHERE id < 250),
      b AS (SELECT * FROM h WHERE id >= 250)
      SELECT b.id AS doc_id, b.s AS key FROM b
      WHERE NOT EXISTS (SELECT 1 FROM st WHERE levenshtein(st.s, b.s) <= 3)
        AND NOT EXISTS (SELECT 1 FROM b b2
                        WHERE b2.id < b.id AND levenshtein(b2.s, b.s) <= 3)
      ORDER BY doc_id""",
    // single-term fixed-point BM25 — the one-bucket point search
    "q198_lex_point_search" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf0
        FROM tok GROUP BY 1),
      c AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0
        FROM tf),
      sel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM tf CROSS JOIN c)
      SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm
      FROM sel WHERE score_ppm > 0
      ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""",
    // q72's recursive reach over the q187 pair set: component = min
    // reachable id, isolated images stay their own component
    "q188_image_dedup" -> """
      WITH RECURSIVE imgs AS (
        SELECT i AS id, i AS seed FROM range(0, 40) t(i)
        UNION ALL
        SELECT i + 1000, i FROM range(0, 40) t(i) WHERE i % 4 = 0),
      cells AS (
        SELECT id, x, y,
          ((instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':'
              || CAST(x*4 AS VARCHAR) || ':' || CAST(y*4 AS VARCHAR)), 2, 1)) - 1)) % 200 AS v
        FROM imgs, range(0, 9) tx(x), range(0, 8) ty(y)),
      bits AS (
        SELECT c.id, c.y, c.x, CASE WHEN c.v > n.v THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN cells n ON n.id = c.id AND n.y = c.y AND n.x = c.x + 1
        WHERE c.x < 8),
      ham AS (
        SELECT p.id AS ia, q.id AS ib,
               SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hm
        FROM bits p JOIN bits q ON p.x = q.x AND p.y = q.y AND p.id < q.id
        GROUP BY 1, 2),
      l AS (SELECT ia, ib FROM ham WHERE hm <= 2),
      e AS (SELECT ia AS x, ib AS y FROM l UNION SELECT ib, ia FROM l),
      reach(src, dst) AS (
        SELECT id, id FROM imgs
        UNION
        SELECT r.src, e.y FROM reach r JOIN e ON r.dst = e.x)
      SELECT CAST(src AS BIGINT) AS media_id,
             CAST(MIN(dst) AS BIGINT) AS component
      FROM reach GROUP BY 1 ORDER BY media_id""",
    "q148_image_stats" -> """
      WITH sx AS (SELECT SUM(x*255 // 31) AS s FROM range(0,32) t(x)),
           sy AS (SELECT SUM(y*255 // 23) AS s FROM range(0,24) t(y)),
           ids AS (SELECT i AS media_id FROM range(0,500) t(i)
                   WHERE i < (SELECT LEAST(COUNT(*), 500) FROM documents))
      SELECT media_id,
             CAST(32 AS INT) AS width, CAST(24 AS INT) AS height,
             CAST(768 AS BIGINT) AS n_px,
             CAST(24 * sx.s AS BIGINT) AS sum_r,
             CAST(32 * sy.s AS BIGINT) AS sum_g,
             CAST(768 * (media_id % 256) AS BIGINT) AS sum_b
      FROM ids, sx, sy
      ORDER BY media_id""",
    "q149_audio_stats" -> """
      WITH ids AS (SELECT i AS media_id, i % 50 + 2 AS period
                   FROM range(0,500) t(i)
                   WHERE i < (SELECT LEAST(COUNT(*), 500) FROM documents))
      SELECT media_id,
             CAST(1600 AS BIGINT) AS n_frames,
             CAST(1 AS INT) AS channels,
             CAST(16000 AS INT) AS sample_rate,
             CAST(SUM(ABS((j % period) * 1000 - period * 500)) AS BIGINT) AS sum_abs
      FROM ids CROSS JOIN range(0,1600) u(j)
      GROUP BY media_id, period ORDER BY media_id""",
    "q150_video_stats" -> """
      WITH sx AS (SELECT SUM(x*255 // 15) AS s FROM range(0,16) t(x)),
           sy AS (SELECT SUM(y*255 // 11) AS s FROM range(0,12) t(y)),
           ids AS (SELECT i AS media_id FROM range(0,300) t(i)
                   WHERE i < (SELECT LEAST(COUNT(*), 300) FROM documents)),
           blue AS (SELECT media_id, SUM((media_id + j) % 256) AS sb
                    FROM ids CROSS JOIN range(0,8) u(j) GROUP BY media_id)
      SELECT b.media_id,
             CAST(8 AS INT) AS n_frames,
             CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
             CAST(96 * sx.s AS BIGINT) AS sum_r,
             CAST(128 * sy.s AS BIGINT) AS sum_g,
             CAST(192 * b.sb AS BIGINT) AS sum_b
      FROM blue b, sx, sy
      ORDER BY media_id""",
    "q141_ivf_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q142_sq8_refine_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q144_lsh_exhaustive" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk FROM s)
      SELECT qid, rnk, vid FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q108_rrf_fusion" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rnk FROM s),
      dpts AS (SELECT qid, vid, 1000000 // (60 + rnk) AS pts FROM r WHERE rnk <= 20),
      btok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents WHERE doc_id >= 5),
      btf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM btok GROUP BY 1),
      bc AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM btf),
      bsel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM btf CROSS JOIN bc),
      brank AS (
        SELECT doc_id AS vid,
               ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS lrnk
        FROM bsel WHERE score_ppm > 0
        ORDER BY score_ppm DESC, doc_id ASC LIMIT 20),
      lpts AS (
        SELECT qs.qid, b.vid, 1000000 // (60 + b.lrnk) AS pts
        FROM brank b CROSS JOIN (SELECT DISTINCT qid FROM dpts) qs),
      allp AS (SELECT qid, vid, pts FROM dpts
               UNION ALL SELECT qid, vid, pts FROM lpts),
      agg AS (SELECT qid, vid, CAST(SUM(pts) AS BIGINT) AS rrf_ppm
              FROM allp GROUP BY 1, 2),
      fr AS (SELECT qid, vid, rrf_ppm,
                    CAST(ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY rrf_ppm DESC, vid ASC) AS INT) AS rnk
             FROM agg)
      SELECT qid, rnk, vid, rrf_ppm FROM fr WHERE rnk <= 10
      ORDER BY qid, rnk""",
    // the stores must reproduce the in-memory fusion — q108's oracle
    "q167_hybrid_store" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      c AS (SELECT vec_id AS vid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
      s AS (SELECT qid, vid, list_dot_product(qe, ce) / (qn * cn) AS cos FROM c CROSS JOIN q),
      r AS (SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rnk FROM s),
      dpts AS (SELECT qid, vid, 1000000 // (60 + rnk) AS pts FROM r WHERE rnk <= 20),
      btok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents WHERE doc_id >= 5),
      btf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM btok GROUP BY 1),
      bc AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM btf),
      bsel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM btf CROSS JOIN bc),
      brank AS (
        SELECT doc_id AS vid,
               ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS lrnk
        FROM bsel WHERE score_ppm > 0
        ORDER BY score_ppm DESC, doc_id ASC LIMIT 20),
      lpts AS (
        SELECT qs.qid, b.vid, 1000000 // (60 + b.lrnk) AS pts
        FROM brank b CROSS JOIN (SELECT DISTINCT qid FROM dpts) qs),
      allp AS (SELECT qid, vid, pts FROM dpts
               UNION ALL SELECT qid, vid, pts FROM lpts),
      agg AS (SELECT qid, vid, CAST(SUM(pts) AS BIGINT) AS rrf_ppm
              FROM allp GROUP BY 1, 2),
      fr AS (SELECT qid, vid, rrf_ppm,
                    CAST(ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY rrf_ppm DESC, vid ASC) AS INT) AS rnk
             FROM agg)
      SELECT qid, rnk, vid, rrf_ppm FROM fr WHERE rnk <= 10
      ORDER BY qid, rnk""",
    "q41_profile_stats" -> """
      SELECT source, COUNT(*) AS cnt, COUNT(DISTINCT lang) AS n_langs,
             CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
             MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1 ORDER BY source""",
    "q42_zero_filled_days" -> """
      WITH domain AS (SELECT CAST(d AS DATE) AS day
                      FROM generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY) t(d)),
      c AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1)
      SELECT domain.day AS day, COALESCE(n, 0) AS cnt
      FROM domain LEFT JOIN c ON domain.day = c.day ORDER BY day""",
    "q43_ytd_membership" -> s"""
      SELECT COUNT(*) AS cnt, $DSUM_QTY AS sum_qty FROM lineitem
      WHERE strftime(l_shipdate, '%Y-%m') IN ('1998-01','1998-02','1998-03','1998-04','1998-05','1998-06')""",
    "q44_type_infer" -> """
      WITH s AS (
        SELECT 'doc_id' AS col_name,
               CAST(SUM(CASE WHEN regexp_matches(CAST(doc_id AS VARCHAR), '^[0-9]+$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS numeric_ratio,
               CAST(SUM(CASE WHEN try_strptime(CAST(doc_id AS VARCHAR), '%Y-%m-%d %H:%M:%S') IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dt_ratio,
               COUNT(DISTINCT CAST(doc_id AS VARCHAR)) AS n_distinct, COUNT(*) AS n FROM documents
        UNION ALL
        SELECT 'lang',
               CAST(SUM(CASE WHEN regexp_matches(CAST(lang AS VARCHAR), '^[0-9]+$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(SUM(CASE WHEN try_strptime(CAST(lang AS VARCHAR), '%Y-%m-%d %H:%M:%S') IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               COUNT(DISTINCT CAST(lang AS VARCHAR)), COUNT(*) FROM documents
        UNION ALL
        SELECT 'n_chars',
               CAST(SUM(CASE WHEN regexp_matches(CAST(n_chars AS VARCHAR), '^[0-9]+$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(SUM(CASE WHEN try_strptime(CAST(n_chars AS VARCHAR), '%Y-%m-%d %H:%M:%S') IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               COUNT(DISTINCT CAST(n_chars AS VARCHAR)), COUNT(*) FROM documents)
      SELECT col_name, numeric_ratio, dt_ratio, n_distinct,
             CASE WHEN numeric_ratio >= 0.95 THEN 'int'
                  WHEN dt_ratio >= 0.8 THEN 'datetime'
                  WHEN n_distinct <= 5 AND n >= 10 THEN 'categorical'
                  ELSE 'string' END AS inferred
      FROM s ORDER BY col_name""",
    "q45_topk_abs_pct" -> s"""
      WITH mm AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, $DSUM_TOT AS rev_dec
                  FROM orders GROUP BY 1),
      l AS (SELECT m, CAST(rev_dec AS DOUBLE) AS revenue,
              CAST(LAG(rev_dec, 1) OVER (ORDER BY m) AS DOUBLE) AS prev_m FROM mm),
      p AS (SELECT m, CASE WHEN prev_m IS NULL OR prev_m = 0 THEN NULL
                           ELSE (revenue - prev_m) / prev_m * 100 END AS mom_pct FROM l)
      SELECT m, COALESCE(mom_pct, 0) AS mom_pct FROM p
      ORDER BY abs(COALESCE(mom_pct, 0)) DESC, m ASC LIMIT 10""",
    "q54_bpe_tokens" -> """
      WITH t AS (SELECT source,
              CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INT) AS n_bpe
            FROM documents)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
             MIN(n_bpe) AS min_bpe, MAX(n_bpe) AS max_bpe
      FROM t GROUP BY 1 ORDER BY source""",
    "q47_topical_filter" -> """
      SELECT lang, COUNT(*) AS cnt FROM documents
      WHERE lower(text) LIKE '%spark%' OR lower(text) LIKE '%stream%'
         OR lower(text) LIKE '%window%'
      GROUP BY 1 ORDER BY lang""",
    "q48_distinct_preview" -> """
      SELECT lang AS value, MIN(doc_id) AS first_seen FROM documents
      GROUP BY 1 ORDER BY first_seen LIMIT 4""",
    "q49_validation_join" -> """
      WITH a AS (SELECT user_id, COUNT(*) AS cnt_a FROM events
                 WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
      b AS (SELECT user_id, COUNT(*) AS cnt_b FROM events
            WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1)
      SELECT a.user_id AS user_id, cnt_a, cnt_b,
             CASE WHEN cnt_b IS NULL THEN 'not_found'
                  WHEN cnt_a = cnt_b THEN 'ok' ELSE 'mismatch' END AS status
      FROM a LEFT JOIN b ON a.user_id = b.user_id ORDER BY user_id""",
    "q53_hist2d" -> """
      SELECT CAST(floor(value / 50.0) AS BIGINT) AS xb,
             CAST(floor(user_id / 100.0) AS BIGINT) AS yb, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2 ORDER BY xb, yb""",
    "q51_nested_explode" -> """
      SELECT event_type, COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM events GROUP BY 1 ORDER BY event_type""",
    "q64_nested_two_level" -> """
      SELECT event_type, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY event_type""",
    "q52_url_policy" -> """
      WITH listing AS (
        SELECT 'https://' ||
               (CASE WHEN doc_id % 3 = 0 THEN 'dados.gov.br'
                     WHEN doc_id % 3 = 1 THEN 'inpe.br'
                     ELSE 'evil.example.com' END) ||
               '/' || source || '/f' || doc_id ||
               (CASE WHEN doc_id % 2 = 0 THEN '.csv' ELSE '.zip' END) AS url,
               source
        FROM documents)
      SELECT source, COUNT(*) AS cnt FROM listing
      WHERE regexp_extract(url, '^https://([^/]+)/', 1) IN ('dados.gov.br', 'inpe.br')
        AND url LIKE '%.csv'
        AND NOT regexp_matches(url, '/f1[13579]')
      GROUP BY 1 ORDER BY source""",
    "q58_range_join" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
      errors AS (SELECT user_id, event_id, t FROM e WHERE event_type = 'error'),
      clicks AS (SELECT user_id, t AS ct FROM e WHERE event_type = 'click')
      SELECT er.user_id AS user_id, er.event_id AS event_id,
             COUNT(c.ct) AS n_in_window
      FROM errors er LEFT JOIN clicks c
        ON er.user_id = c.user_id AND c.ct >= er.t - 3600 AND c.ct < er.t
      GROUP BY 1, 2 ORDER BY event_id""",
    "q59_sessionize" -> """
      WITH t AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
      x AS (SELECT user_id, t,
              CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > 1800
                   THEN 1 ELSE 0 END AS brk
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      s AS (SELECT user_id, t,
              CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM x)
      SELECT user_id, MIN(t) AS s_start, MAX(t) AS s_end, COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",
    "q60_month_pivot" -> ("""
      SELECT CAST(year(o_orderdate) AS INT) AS yr, """ +
      (1 to 12).map(m => f"COUNT(*) FILTER (WHERE strftime(o_orderdate, '%%m') = '$m%02d') AS m$m%02d")
        .mkString(", ") + """
      FROM orders GROUP BY 1 ORDER BY yr"""),
    "q62_part_types" -> """
      SELECT p_brand, regexp_extract(p_type, '^(\w+)', 1) AS type_head,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             MIN(p_size) AS min_size, MAX(p_size) AS max_size
      FROM part GROUP BY 1, 2 ORDER BY p_brand, type_head""",
    "q63_supplier_balance" -> """
      SELECT n_name, COUNT(*) AS cnt,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1 ORDER BY n_name""",
    "q66_schema_audit" -> """
      WITH f AS (SELECT DISTINCT source, CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS sn
                 FROM documents),
      t AS (SELECT COUNT(*) AS files_total FROM f),
      e AS (
        SELECT source AS file, 'id' AS col_name FROM f
        UNION ALL SELECT source, 'name' FROM f
        UNION ALL SELECT source, 'value' FROM f
        UNION ALL SELECT source, 'extra_a' FROM f WHERE sn % 3 = 0
        UNION ALL SELECT source, 'extra_b' FROM f WHERE sn % 4 = 0)
      SELECT col_name, COUNT(DISTINCT file) AS files_present, files_total,
             COUNT(DISTINCT file) = files_total AS in_all
      FROM e CROSS JOIN t GROUP BY col_name, files_total ORDER BY col_name""",
    "q67_state_topn_window" -> """
      WITH st AS (SELECT strftime(o_orderdate, '%Y-%m') AS periodo, n_name AS uf,
                         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS valor
                  FROM orders JOIN customer ON o_custkey = c_custkey
                              JOIN nation ON c_nationkey = n_nationkey
                  GROUP BY 1, 2),
      top AS (SELECT uf FROM st WHERE periodo = '2001-06' AND valor > 0
              ORDER BY valor DESC, uf ASC LIMIT 8)
      SELECT periodo,
             CASE WHEN uf IN (SELECT uf FROM top) THEN uf ELSE 'OUTROS' END AS series,
             CAST(SUM(valor) AS DOUBLE) AS valor
      FROM st
      WHERE CAST(periodo || '-01' AS DATE) BETWEEN DATE '2001-01-01' AND DATE '2001-06-01'
      GROUP BY 1, 2 ORDER BY periodo, series""",
    "q68_latest_n" -> """
      WITH listing AS (
        SELECT 'https://x/f' || CAST(doc_id AS VARCHAR) AS url,
               'inf_' || CAST(doc_id % 6 + 2019 AS VARCHAR) || '_' ||
                 lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '.zip' AS filename,
               CAST(doc_id % 6 + 2019 AS VARCHAR) || '-' ||
                 lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS period
        FROM documents)
      SELECT url, filename, period FROM listing
      ORDER BY period DESC, url ASC LIMIT 10""",
    "q69_window_select" -> """
      WITH listing AS (
        SELECT DISTINCT
          'daily_' || strftime(DATE '2024-01-01' + CAST(doc_id % 60 AS INT), '%Y%m%d')
            || '.csv' AS filename,
          DATE '2024-01-01' + CAST(doc_id % 60 AS INT) AS day
        FROM documents)
      SELECT filename, day FROM listing WHERE day < DATE '2024-02-15'
      ORDER BY day DESC LIMIT 7""",
    "q70_catalog_join" -> """
      WITH cards AS (SELECT DISTINCT source AS id,
                            'manifests/' || source || '.json' AS manifest_path
                     FROM documents),
      m AS (SELECT 'manifests/' || source || '.json' AS manifest_path,
                   COUNT(*) AS item_count,
                   CASE WHEN MAX(n_chars) > 500 THEN 'complete' ELSE 'partial' END
                     AS generation_status
            FROM documents GROUP BY source
            HAVING CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 3 <> 0)
      SELECT id, cards.manifest_path AS manifest_path, generation_status, item_count
      FROM cards LEFT JOIN m ON cards.manifest_path = m.manifest_path
      ORDER BY id""",
    "q71_rowcol_counts" -> """
      SELECT source AS file, COUNT(*) AS n_rows,
             CAST(3 + CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 3 = 0
                           THEN 1 ELSE 0 END
                    + CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 4 = 0
                           THEN 1 ELSE 0 END AS INT) AS n_cols
      FROM documents GROUP BY source ORDER BY file""",
    "q74_url_key_merge" -> """
      WITH raw AS (
        SELECT 'https://News.Example.com/arts/a' || CAST(doc_id % 40 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '?utm=1' ELSE '' END) AS url,
               ['clima','agro','mercado','energia'][CAST(doc_id % 4 AS INT) + 1] AS slug,
               CAST(doc_id % 7 + 1 AS INT) AS rank,
               CASE WHEN doc_id % 10 = 0 THEN '' ELSE 'T' || CAST(doc_id AS VARCHAR) END AS title
        FROM documents),
      keyed AS (SELECT *,
          lower(coalesce(nullif(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''), 'https'))
            || '://' || lower(regexp_extract(url, '://([^/?#]*)', 1))
            || (CASE WHEN regexp_replace(regexp_extract(url, '://[^/?#]*([^?#]*)', 1), '/+$', '') = ''
                     THEN '/' ELSE regexp_replace(regexp_extract(url, '://[^/?#]*([^?#]*)', 1), '/+$', '') END)
            AS url_key,
          CASE slug WHEN 'mercado' THEN 0 WHEN 'clima' THEN 1 ELSE 2 END AS prio,
          printf('%05d|%05d|%s|%s|%s',
            CASE slug WHEN 'mercado' THEN 0 WHEN 'clima' THEN 1 ELSE 2 END,
            rank, slug, title, url) AS sk
        FROM raw),
      per_slug AS (SELECT DISTINCT url_key, prio, slug,
          upper(slug[1]) || slug[2:] AS label FROM keyed),
      agg AS (SELECT url_key,
          array_to_string(list(slug ORDER BY prio, slug), ',') AS slugs,
          array_to_string(list(label ORDER BY prio, slug), ',') AS labels
        FROM per_slug GROUP BY 1),
      base AS (SELECT url_key, arg_min(url, sk) AS url, MIN(rank) AS min_rank,
          arg_min(title, sk) FILTER (WHERE trim(title) <> '') AS title
        FROM keyed GROUP BY 1)
      SELECT b.url_key AS url_key, url, min_rank, slugs, labels, title,
             string_split(slugs, ',')[1] AS primary_slug,
             string_split(labels, ',')[1] AS primary_label
      FROM base b JOIN agg USING (url_key) ORDER BY url_key""",
    "q72_near_dup_components" -> """
      WITH RECURSIVE t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                 FROM documents WHERE doc_id < 500),
      s AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b,
              CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS inter,
              CAST(len(a.sh) AS INT) AS na, CAST(len(b.sh) AS INT) AS nb
            FROM s a JOIN s b ON a.doc_id < b.doc_id),
      pairs AS (SELECT a, b FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
      e AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM t
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, MIN(dst) AS component
      FROM reach GROUP BY 1 ORDER BY doc_id""",
    "q46_cosine_near_dup" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 300),
      n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
      p AS (SELECT a.vec_id AS a, b.vec_id AS b,
              list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.vec_id < b.vec_id)
      SELECT a, b FROM p WHERE cos >= 0.4 ORDER BY a, b""",
    "q75_coerce_datetime" -> """
      WITH raw AS (
        SELECT CASE CAST(doc_id % 6 AS INT)
            WHEN 0 THEN '2024-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' 10:30:00'
            WHEN 1 THEN lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     || '/' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0') || '/2024 08:45'
            WHEN 2 THEN 'not-a-date'
            WHEN 3 THEN ''
            WHEN 4 THEN '2024-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
            ELSE lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0') || '-2024 12:00:00'
          END AS x
        FROM documents),
      parsed AS (
        SELECT COALESCE(
          try_strptime(trim(x), '%Y-%m-%d %H:%M:%S'),
          try_strptime(trim(x), '%Y-%m-%dT%H:%M:%S'),
          try_strptime(trim(x), '%Y-%m-%d %H:%M'),
          try_strptime(trim(x), '%Y-%m-%d'),
          try_strptime(trim(x), '%Y/%m/%d %H:%M:%S'),
          try_strptime(trim(x), '%Y/%m/%d'),
          try_strptime(trim(x), '%d/%m/%Y %H:%M:%S'),
          try_strptime(trim(x), '%d/%m/%Y %H:%M'),
          try_strptime(trim(x), '%d/%m/%Y'),
          try_strptime(trim(x), '%d-%m-%Y %H:%M:%S'),
          try_strptime(trim(x), '%d-%m-%Y')) AS dt
        FROM raw)
      SELECT strftime(dt, '%Y-%m') AS period, COUNT(*) AS cnt
      FROM parsed WHERE dt IS NOT NULL
      GROUP BY 1 ORDER BY period""",
    "q76_satellite_filter" -> """
      WITH t AS (
        SELECT source, CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN 'AQUA_M-T' WHEN 1 THEN 'aqua m t'
            WHEN 2 THEN 'Aqua-M.T' WHEN 3 THEN 'TERRA'
            WHEN 4 THEN 'NOAA-20' WHEN 5 THEN NULL
            ELSE 'GOES-16' END AS sat
        FROM documents)
      SELECT source, COUNT(*) AS kept FROM t
      WHERE sat IS NULL OR regexp_replace(lower(sat), '[^a-z0-9]', '', 'g') = 'aquamt'
      GROUP BY 1 ORDER BY source""",
    "q77_yyyymm_listing" -> """
      WITH f AS (
        SELECT 'focos_mensal_' || CAST(doc_id % 6 + 2019 AS VARCHAR)
            || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '_br.csv' AS fname
        FROM documents),
      p AS (
        SELECT CASE WHEN regexp_extract(fname, '((?:19|20)\d{2})', 1) = '' THEN NULL
                    WHEN regexp_extract(fname, '((?:19|20)\d{2})[-_]?([01]\d)', 2) = ''
                      THEN regexp_extract(fname, '((?:19|20)\d{2})', 1)
                    ELSE regexp_extract(fname, '((?:19|20)\d{2})', 1) || '-'
                      || regexp_extract(fname, '((?:19|20)\d{2})[-_]?([01]\d)', 2)
               END AS period
        FROM f)
      SELECT period, COUNT(*) AS n_files FROM p
      WHERE substr(period, 1, 4) = '2023'
      GROUP BY 1 ORDER BY period""",
    "q78_sql_extensions" -> """
      SELECT vec_id,
             strip_accents('Amazônia São-' || CAST(label AS VARCHAR)) AS ascii_label,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS norm2
      FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""",
    "q79_hash_split" -> """
      SELECT doc_id,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""",
    "q80_quota_sample" -> """
      WITH t AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) ASC,
                          doc_id ASC) AS rn
        FROM documents)
      SELECT lang, doc_id FROM t WHERE rn <= 25 ORDER BY lang, doc_id""",
    "q81_repetition_filter" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      bi AS (
        SELECT doc_id,
               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        FROM tok),
      bc AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bi WHERE bg IS NOT NULL GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
        FROM bc GROUP BY 1)
      SELECT doc_id, n_bigrams,
             (n_bigrams - n_distinct) / n_bigrams AS dup_frac,
             top_count / n_bigrams AS top_frac,
             ((n_bigrams - n_distinct) / n_bigrams) < 0.2 AS keep
      FROM agg ORDER BY doc_id""",
    "q82_pii_redact" -> """
      WITH t AS (
        SELECT doc_id,
               substring(text, 1, 40) || ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                 || '@' || source || '.org or call +1-555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents)
      SELECT doc_id,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones
      FROM t ORDER BY doc_id""",
    "q83_token_pack" -> """
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM t)
      SELECT doc_id, n_tok, cb // 500 AS shard FROM c ORDER BY doc_id""",
    "q84_decontaminate" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      evalset AS (
        SELECT DISTINCT sh FROM sh WHERE doc_id < 20 AND sh IS NOT NULL),
      corp AS (
        SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id >= 20 AND sh IS NOT NULL)
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corp c JOIN evalset e USING (sh)
      GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY doc_id""",
    "q86_c4_clean" -> """
      WITH pages AS (
        SELECT doc_id,
               substring(text, 1, 50) || ' end of line one.' || chr(10)
               || substring(text, 51, 40)
               || CASE WHEN doc_id % 3 = 0 THEN ' tail line two!'
                       ELSE ' unterminated tail line' END || chr(10)
               || 'too short.' || chr(10)
               || CASE WHEN doc_id % 5 = 0
                       THEN 'please enable javascript in your browser to continue.'
                       ELSE 'a perfectly ordinary closing sentence here.' END || chr(10)
               || CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
                       ELSE 'final line with six words total.' END
               || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END AS page
        FROM documents),
      spine AS (
        SELECT doc_id,
               (contains(lower(page), 'lorem ipsum') OR contains(page, '{')) AS page_flagged
        FROM pages),
      lines AS (
        SELECT doc_id,
               generate_subscripts(string_split(page, chr(10)), 1) AS pos,
               trim(unnest(string_split(page, chr(10)))) AS l
        FROM pages),
      kept AS (
        SELECT doc_id, pos, l FROM lines
        WHERE regexp_matches(l, '[.!?"]$')
          AND len(string_split(l, ' ')) >= 5
          AND NOT contains(lower(l), 'javascript')),
      per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
               string_agg(l, chr(10) ORDER BY pos) AS ct
        FROM kept GROUP BY 1)
      SELECT s.doc_id,
             COALESCE(p.n_kept, 0) AS n_kept,
             COALESCE(p.ct, '') AS clean_text,
             (NOT s.page_flagged AND COALESCE(p.n_kept, 0) >= 3) AS keep
      FROM spine s LEFT JOIN per_doc p USING (doc_id)
      ORDER BY doc_id""",
    "q87_mixture_sample" -> """
      SELECT doc_id, source FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
            CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
                 THEN 'c0' ELSE '40' END
      ORDER BY doc_id""",
    "q88_gopher_quality" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1)
      SELECT doc_id, n_words,
             sum_len / n_words AS mean_word_len,
             (hash_chars + ell_chars // 3) / n_words AS symbol_ratio,
             n_alpha / n_words AS alpha_frac,
             n_stop,
             (n_words BETWEEN 30 AND 100000
              AND sum_len / n_words BETWEEN 3.0 AND 10.0
              AND (hash_chars + ell_chars // 3) / n_words <= 0.1
              AND n_alpha / n_words >= 0.8
              AND n_stop >= 2) AS keep
      FROM agg ORDER BY doc_id""",
    "q89_dup_ngrams" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g1 AS (
        SELECT doc_id, sh, COUNT(*) AS c FROM sh WHERE sh IS NOT NULL GROUP BY 1, 2),
      g2 AS (
        SELECT sh, COUNT(*) AS nd FROM g1 GROUP BY 1),
      per AS (
        SELECT g1.doc_id,
               CAST(SUM(g1.c) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN g2.nd >= 2 THEN g1.c ELSE 0 END) AS BIGINT) AS n_shared
        FROM g1 JOIN g2 USING (sh) GROUP BY 1)
      SELECT doc_id, n_shingles, n_shared,
             n_shared / n_shingles AS shared_frac,
             n_shared / n_shingles < 0.6 AS keep
      FROM per ORDER BY doc_id""",
    "q90_chunk_split" -> """
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               CAST(unnest(generate_series(0, (n_tok - 1) // 40)) AS INT) AS chunk_id
        FROM t)
      SELECT doc_id, chunk_id, n_tok,
             chunk_id * 40 AS tok_start,
             least(40, n_tok - chunk_id * 40) AS tok_len
      FROM c ORDER BY doc_id, chunk_id""",
    "q91_tfidf_topk" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id,
               COUNT(CASE WHEN w = 'join' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'hash' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'scan' THEN 1 END) AS tf2
        FROM tok GROUP BY 1),
      df AS (
        SELECT COUNT(*) AS n_docs,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM tf)
      SELECT doc_id,
             tf0 * (n_docs / greatest(df0, 1))
               + tf1 * (n_docs / greatest(df1, 1))
               + tf2 * (n_docs / greatest(df2, 1)) AS score
      FROM tf, df
      WHERE tf0 * (n_docs / greatest(df0, 1))
              + tf1 * (n_docs / greatest(df1, 1))
              + tf2 * (n_docs / greatest(df2, 1)) > 0
      ORDER BY score DESC, doc_id ASC LIMIT 20""",
    "q107_bm25_topk" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM tok GROUP BY 1),
      c AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM tf),
      sel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM tf CROSS JOIN c)
      SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm
      FROM sel WHERE score_ppm > 0
      ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""",
    // the store-backed searches must reproduce the same ranking —
    // q107's oracle verbatim
    "q165_bm25_store" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM tok GROUP BY 1),
      c AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM tf),
      sel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM tf CROSS JOIN c)
      SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm
      FROM sel WHERE score_ppm > 0
      ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""",
    // a rebalance must not move a single bit of the ranking — q107's
    // oracle verbatim again
    "q183_lex_rebalance" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM tok GROUP BY 1),
      c AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM tf),
      sel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM tf CROSS JOIN c)
      SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm
      FROM sel WHERE score_ppm > 0
      ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""",
    "q166_lex_incremental" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, COUNT(*) AS dl,
               COUNT(CASE WHEN w = 'spark' THEN 1 END) AS tf0,
               COUNT(CASE WHEN w = 'merge' THEN 1 END) AS tf1,
               COUNT(CASE WHEN w = 'dup' THEN 1 END) AS tf2
        FROM tok GROUP BY 1),
      c AS (
        SELECT COUNT(*) AS nd, SUM(dl) AS ta,
               COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
               COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
               COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        FROM tf),
      sel AS (
        SELECT doc_id,
               ((CAST((2*nd - 2*df0 + 1) * 22 * tf0 * ta AS HUGEINT) * 1000000)
                  // ((2*df0 + 1) * (10*ta*tf0 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df1 + 1) * 22 * tf1 * ta AS HUGEINT) * 1000000)
                  // ((2*df1 + 1) * (10*ta*tf1 + 3*ta + 9*dl*nd)))
             + ((CAST((2*nd - 2*df2 + 1) * 22 * tf2 * ta AS HUGEINT) * 1000000)
                  // ((2*df2 + 1) * (10*ta*tf2 + 3*ta + 9*dl*nd)))
               AS score_ppm
        FROM tf CROSS JOIN c)
      SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm
      FROM sel WHERE score_ppm > 0
      ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""",
    "q92_sliding_chunks" -> """
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               CAST(unnest(generate_series(0,
                 (greatest(0, n_tok - 40) + 29) // 30)) AS INT) AS chunk_id
        FROM t)
      SELECT doc_id, chunk_id, n_tok,
             chunk_id * 30 AS tok_start,
             least(40, n_tok - chunk_id * 30) AS tok_len
      FROM c ORDER BY doc_id, chunk_id""",
    "q93_dedup_keep_best" -> """
      WITH RECURSIVE t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                 FROM documents WHERE doc_id < 500),
      s AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b,
              CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS inter,
              CAST(len(a.sh) AS INT) AS na, CAST(len(b.sh) AS INT) AS nb
            FROM s a JOIN s b ON a.doc_id < b.doc_id),
      pairs AS (SELECT a, b FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
      e AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM t
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY 1),
      q AS (SELECT doc_id, CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tok
            FROM documents WHERE doc_id < 500),
      j AS (SELECT c.doc_id, c.component, q.n_tok FROM comp c JOIN q USING (doc_id))
      SELECT doc_id, component, n_tok,
             FIRST_VALUE(doc_id) OVER (PARTITION BY component
               ORDER BY n_tok DESC, doc_id ASC) AS canonical,
             doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY component
               ORDER BY n_tok DESC, doc_id ASC) AS keep
      FROM j ORDER BY doc_id""",
    "q94_curate_stream" -> """
      WITH t AS (
        SELECT doc_id, source,
               substring(text, 1, 40) || ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                 || '@' || source || '.org or call +1-555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS k
        FROM documents),
      f AS (
        SELECT * FROM t
        WHERE k < CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
                       THEN 'c0' ELSE '40' END)
      SELECT doc_id, source,
             CASE WHEN k < 'cd' THEN 'train'
                  WHEN k < 'e6' THEN 'val' ELSE 'test' END AS split,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones
      FROM f ORDER BY doc_id""",
    "q98_decontaminate_bloom" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      sh AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      evalset AS (
        SELECT DISTINCT sh FROM sh WHERE doc_id < 40 AND sh IS NOT NULL),
      corp AS (
        SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id >= 40 AND sh IS NOT NULL)
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corp c JOIN evalset e USING (sh)
      GROUP BY 1 HAVING COUNT(*) >= 1 ORDER BY doc_id""",
    "q99_exact_substr" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) - 1 AS pos
        FROM documents),
      grams AS (
        SELECT doc_id, pos,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g AS (SELECT doc_id, pos, sh FROM grams WHERE sh IS NOT NULL),
      dup AS (
        SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        WHERE df >= 2),
      hits AS (SELECT doc_id, pos FROM g JOIN dup USING (sh)),
      opens AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(MAX(pos + 4) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
               THEN 1 ELSE 0 END AS o
        FROM hits),
      isl AS (
        SELECT doc_id, pos, SUM(o) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM opens)
      SELECT doc_id,
             CAST(MIN(pos) AS INT) AS span_start,
             CAST(MAX(pos) + 5 - MIN(pos) AS INT) AS span_len,
             CAST(COUNT(*) AS INT) AS n_grams
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",
    "q102_exact_substr_cut" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) - 1 AS pos
        FROM documents),
      grams AS (
        SELECT doc_id, pos,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g AS (SELECT doc_id, pos, sh FROM grams WHERE sh IS NOT NULL),
      dup AS (
        SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        WHERE df >= 2),
      hits AS (SELECT doc_id, pos FROM g JOIN dup USING (sh)),
      cov AS (
        SELECT DISTINCT doc_id, pos FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos FROM hits)),
      sel AS (
        SELECT t.doc_id, t.pos, t.w, c.pos IS NOT NULL AS cv
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos)
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_tok,
             CAST(SUM(CASE WHEN cv THEN 1 ELSE 0 END) AS INT) AS n_cut,
             COALESCE(string_agg(CASE WHEN NOT cv THEN w END, ' ' ORDER BY pos), '')
               AS cut_text
      FROM sel GROUP BY doc_id ORDER BY doc_id""",
    "q103_dsir_select" -> """
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      bg AS (
        SELECT doc_id, lang, w AS w1,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok),
      rawf AS (
        SELECT doc_id, w1 || ' ' || w2 AS f, COUNT(*) AS c
        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2),
      tgtm AS (
        SELECT w1 || ' ' || w2 AS f, COUNT(*) AS ct
        FROM bg WHERE w2 IS NOT NULL AND lang = 'en' GROUP BY 1),
      rawm AS (SELECT f, SUM(c) AS cr FROM rawf GROUP BY 1),
      consts AS (
        SELECT (SELECT SUM(cr) FROM rawm) AS tot_r,
               (SELECT COUNT(*) FROM rawm) AS v,
               (SELECT COALESCE(SUM(ct), 0) FROM tgtm) AS tot_t)
      SELECT r.doc_id,
             CAST(SUM(r.c) AS BIGINT) AS n_feats,
             CAST(SUM(r.c * ((((COALESCE(t.ct, 0) + 1) * 1000000) // (tot_t + v))
                           - (((m.cr + 1) * 1000000) // (tot_r + v)))) AS BIGINT)
               AS weight
      FROM rawf r
      LEFT JOIN tgtm t USING (f)
      JOIN rawm m USING (f)
      CROSS JOIN consts
      GROUP BY r.doc_id
      ORDER BY weight DESC, doc_id
      LIMIT 100""",
    "q115_curate_corpus" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      keepq AS (
        SELECT doc_id FROM agg
        WHERE n_words BETWEEN 30 AND 100000
          AND sum_len / n_words BETWEEN 3.0 AND 10.0
          AND (hash_chars + ell_chars // 3) / n_words <= 0.1
          AND n_alpha / n_words >= 0.8
          AND n_stop >= 2),
      canon AS (
        SELECT MIN(d.doc_id) AS doc_id
        FROM documents d JOIN keepq USING (doc_id)
        GROUP BY md5(d.text)),
      base AS (
        SELECT d.doc_id,
               CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(string_split(lower(trim(d.text)), ' ')) AS INT) AS n_tok
        FROM documents d JOIN canon USING (doc_id)),
      tr AS (
        SELECT doc_id,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM base WHERE split = 'train')
      SELECT b.doc_id, b.split, b.n_tok, tr.cb // 500 AS shard
      FROM base b LEFT JOIN tr ON b.doc_id = tr.doc_id
      ORDER BY b.doc_id""",
    "q113_corpus_diff" -> """
      WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      n AS (SELECT doc_id,
                   CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id >= 10)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.text IS NULL THEN 'added'
                  WHEN n.text IS NULL THEN 'removed'
                  WHEN o.text <> n.text THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id""",
    "q114_eval_leak_report" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      g AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      cs AS (SELECT DISTINCT doc_id, sh FROM g WHERE sh IS NOT NULL AND doc_id >= 20),
      es AS (SELECT DISTINCT doc_id AS eval_id, sh FROM g WHERE sh IS NOT NULL AND doc_id < 20),
      p AS (SELECT eval_id, cs.doc_id, COUNT(*) AS shared
            FROM cs JOIN es USING (sh) GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      r AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_leaky_docs,
                   CAST(MAX(shared) AS BIGINT) AS max_shared
            FROM p GROUP BY 1)
      SELECT e.doc_id AS eval_id,
             COALESCE(r.n_leaky_docs, 0) AS n_leaky_docs,
             COALESCE(r.max_shared, 0) AS max_shared
      FROM (SELECT doc_id FROM documents WHERE doc_id < 20) e
      LEFT JOIN r ON r.eval_id = e.doc_id
      ORDER BY eval_id""",
    "q111_source_overlap" -> """
      WITH tok AS (
        SELECT doc_id, source,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      grams AS (
        SELECT doc_id, source,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      sg AS (SELECT DISTINCT source, sh FROM grams WHERE sh IS NOT NULL),
      tot AS (SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY 1),
      sh2 AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        FROM sg a JOIN sg b USING (sh)
        WHERE a.source <> b.source GROUP BY 1, 2)
      SELECT src_a, src_b, CAST(t.n_grams AS BIGINT) AS grams_a,
             CAST(shared AS BIGINT) AS shared,
             CAST((shared * 1000000) // t.n_grams AS BIGINT) AS containment_ppm
      FROM sh2 JOIN tot t ON t.source = src_a
      ORDER BY src_a, src_b""",
    "q112_token_zipf" -> """
      WITH tok AS (
        SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents),
      c AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
      t AS (SELECT SUM(c) AS total FROM c),
      top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 100),
      r AS (SELECT w, c,
                   CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS INT) AS rank,
                   SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
            FROM top)
      SELECT rank, w, CAST(c AS BIGINT) AS c,
             CAST((c * 1000000) // total AS BIGINT) AS share_ppm,
             CAST((cum * 1000000) // total AS BIGINT) AS cum_ppm
      FROM r CROSS JOIN t ORDER BY rank""",
    "q123_token_drift" -> """
      WITH a AS (
        SELECT t.w, COUNT(*) AS cnt_old
        FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
        WHERE doc_id % 2 = 0 AND t.w <> '' GROUP BY 1),
      b AS (
        SELECT t.w, COUNT(*) AS cnt_new
        FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
        WHERE doc_id % 2 = 1 AND t.w <> '' GROUP BY 1),
      ta AS (SELECT SUM(cnt_old) AS total_old FROM a),
      tb AS (SELECT SUM(cnt_new) AS total_new FROM b),
      j AS (
        SELECT COALESCE(a.w, b.w) AS w,
               COALESCE(cnt_old, 0) AS cnt_old,
               COALESCE(cnt_new, 0) AS cnt_new
        FROM a FULL OUTER JOIN b ON a.w = b.w)
      SELECT w, CAST(cnt_old AS BIGINT) AS cnt_old,
             CAST(cnt_new AS BIGINT) AS cnt_new,
             CAST((cnt_old * 1000000) // total_old AS BIGINT) AS ppm_old,
             CAST((cnt_new * 1000000) // total_new AS BIGINT) AS ppm_new,
             CAST((cnt_new * 1000000) // total_new
                  - (cnt_old * 1000000) // total_old AS BIGINT) AS ppm_delta
      FROM j CROSS JOIN ta CROSS JOIN tb
      ORDER BY abs(ppm_delta) DESC, w LIMIT 50""",
    "q104_heavy_hitters" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      grams AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g AS (SELECT doc_id, sh FROM grams WHERE sh IS NOT NULL)
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY 1 ORDER BY n_occ DESC, sh LIMIT 25""",
    "q105_boilerplate_cut" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) - 1 AS pos
        FROM documents),
      grams AS (
        SELECT doc_id, pos,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g AS (SELECT doc_id, pos, sh FROM grams WHERE sh IS NOT NULL),
      hh AS (SELECT sh FROM (
        SELECT sh, COUNT(*) AS n_occ FROM g GROUP BY 1
        ORDER BY n_occ DESC, sh LIMIT 25)),
      hits AS (SELECT doc_id, pos FROM g JOIN hh USING (sh)),
      cov AS (
        SELECT DISTINCT doc_id, pos FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos FROM hits)),
      sel AS (
        SELECT t.doc_id, t.pos, t.w, c.pos IS NOT NULL AS cv
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos)
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_tok,
             CAST(SUM(CASE WHEN cv THEN 1 ELSE 0 END) AS INT) AS n_cut,
             COALESCE(string_agg(CASE WHEN NOT cv THEN w END, ' ' ORDER BY pos), '')
               AS cut_text
      FROM sel GROUP BY doc_id ORDER BY doc_id""",
    "q117_memorization_risk" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      grams AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM tok),
      g AS (SELECT doc_id, sh FROM grams WHERE sh IS NOT NULL),
      freq AS (SELECT sh, COUNT(*) AS n_occ FROM g GROUP BY 1),
      perdoc AS (
        SELECT doc_id, COUNT(*) AS n_grams, MAX(n_occ) AS max_freq,
               SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_risky
        FROM g JOIN freq USING (sh) GROUP BY 1)
      SELECT d.doc_id,
             CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(COALESCE(p.max_freq, 0) AS BIGINT) AS max_freq,
             CAST(COALESCE(p.n_risky, 0) AS BIGINT) AS n_risky,
             CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
                  ELSE CAST(p.n_risky AS DOUBLE) / p.n_grams END AS risk_frac
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN perdoc p USING (doc_id)
      ORDER BY doc_id""",
    "q100_lm_quality" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      bg AS (
        SELECT doc_id, w AS w1,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok),
      db AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c
        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
      trainb AS (
        SELECT w1, w2, SUM(c) AS c12 FROM db WHERE doc_id < 250 GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(c12) AS c1 FROM trainb GROUP BY 1),
      voc AS (SELECT COUNT(DISTINCT w2) AS v FROM trainb)
      SELECT d.doc_id,
             CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(d.c * (((COALESCE(t.c12, 0) + 1) * 1000000)
                             // (COALESCE(x.c1, 0) + voc.v))) AS BIGINT)
               / (CAST(SUM(d.c) AS BIGINT) * 1000000) AS score
      FROM db d
      LEFT JOIN trainb t USING (w1, w2)
      LEFT JOIN ctx x USING (w1)
      CROSS JOIN voc
      GROUP BY d.doc_id, voc.v
      ORDER BY doc_id""",
    "q124_score_auc" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      lagg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      lab AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 30 AND 100000
                     AND sum_len / n_words BETWEEN 3.0 AND 10.0
                     AND (hash_chars + ell_chars // 3) / n_words <= 0.1
                     AND n_alpha / n_words >= 0.8
                     AND n_stop >= 2 THEN 1 ELSE 0 END AS label
        FROM lagg),
      bg AS (
        SELECT doc_id, w AS w1,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok),
      db AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c
        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
      trainb AS (
        SELECT w1, w2, SUM(c) AS c12 FROM db WHERE doc_id < 250 GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(c12) AS c1 FROM trainb GROUP BY 1),
      voc AS (SELECT COUNT(DISTINCT w2) AS v FROM trainb),
      score AS (
        SELECT d.doc_id,
               CAST(SUM(d.c * (((COALESCE(t.c12, 0) + 1) * 1000000)
                               // (COALESCE(x.c1, 0) + voc.v))) AS BIGINT)
                 / (CAST(SUM(d.c) AS BIGINT) * 1000000) AS score
        FROM db d
        LEFT JOIN trainb t USING (w1, w2)
        LEFT JOIN ctx x USING (w1)
        CROSS JOIN voc
        GROUP BY d.doc_id, voc.v),
      j AS (SELECT s.doc_id, s.score, l.label FROM score s JOIN lab l USING (doc_id)),
      bys AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS nn
        FROM j GROUP BY 1),
      cum AS (
        SELECT score, np, nn,
               COALESCE(CAST(SUM(nn) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
        FROM bys),
      tot AS (
        SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
               CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) AS s2
        FROM cum),
      ranked AS (
        SELECT doc_id, label,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM j)
      SELECT t.n_pos, t.n_neg,
             CAST(t.s2 AS DOUBLE) / (2.0 * t.n_pos * t.n_neg) AS auc,
             CAST(SUM(r.label) AS DOUBLE) / t.n_pos AS prec_at_pos
      FROM ranked r CROSS JOIN tot t
      WHERE r.rn <= t.n_pos
      GROUP BY t.n_pos, t.n_neg, t.s2""",
    "q126_score_calibration" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      lagg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      lab AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 30 AND 100000
                     AND sum_len / n_words BETWEEN 3.0 AND 10.0
                     AND (hash_chars + ell_chars // 3) / n_words <= 0.1
                     AND n_alpha / n_words >= 0.8
                     AND n_stop >= 2 THEN 1 ELSE 0 END AS label
        FROM lagg),
      bg AS (
        SELECT doc_id, w AS w1,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok),
      db AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c
        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
      trainb AS (
        SELECT w1, w2, SUM(c) AS c12 FROM db WHERE doc_id < 250 GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(c12) AS c1 FROM trainb GROUP BY 1),
      voc AS (SELECT COUNT(DISTINCT w2) AS v FROM trainb),
      score AS (
        SELECT d.doc_id,
               CAST(SUM(d.c * (((COALESCE(t.c12, 0) + 1) * 1000000)
                               // (COALESCE(x.c1, 0) + voc.v))) AS BIGINT)
                 / (CAST(SUM(d.c) AS BIGINT) * 1000000) AS score
        FROM db d
        LEFT JOIN trainb t USING (w1, w2)
        LEFT JOIN ctx x USING (w1)
        CROSS JOIN voc
        GROUP BY d.doc_id, voc.v),
      j AS (SELECT s.doc_id, s.score, l.label FROM score s JOIN lab l USING (doc_id)),
      binned AS (
        SELECT score, label,
               CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS INT) AS bin
        FROM j)
      SELECT bin, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pos,
             CAST(SUM(label) AS DOUBLE) / COUNT(*) AS pos_rate,
             MIN(score) AS score_lo, MAX(score) AS score_hi
      FROM binned GROUP BY 1 ORDER BY bin""",
    "q127_filter_kappa" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        FROM documents),
      gagg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      glab AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 30 AND 100000
                     AND sum_len / n_words BETWEEN 3.0 AND 10.0
                     AND (hash_chars + ell_chars // 3) / n_words <= 0.1
                     AND n_alpha / n_words >= 0.8
                     AND n_stop >= 2 THEN 1 ELSE 0 END AS ka
        FROM gagg),
      bi AS (
        SELECT doc_id,
               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        FROM tok),
      bc AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bi WHERE bg IS NOT NULL GROUP BY 1, 2),
      ragg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               COUNT(*) AS n_distinct
        FROM bc GROUP BY 1),
      rlab AS (
        SELECT doc_id,
               CASE WHEN (n_bigrams - n_distinct) / n_bigrams < 0.2
                    THEN 1 ELSE 0 END AS kb
        FROM ragg),
      cells AS (
        SELECT CAST(SUM(ka * kb) AS BIGINT) AS n11,
               CAST(SUM(ka * (1 - kb)) AS BIGINT) AS n10,
               CAST(SUM((1 - ka) * kb) AS BIGINT) AS n01,
               CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT) AS n00
        FROM glab JOIN rlab USING (doc_id))
      SELECT n11, n10, n01, n00,
             CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS agree_frac,
             CASE WHEN (n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                       - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) != 0
                  THEN CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                            - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) AS DOUBLE)
                       / ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                          - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
             END AS kappa
      FROM cells""",
    "q128_mixture_plan" -> """
      WITH t AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      w AS (
        SELECT source,
               CAST((CAST(substring(source, 4) AS INT) % 4 + 1) * 20000 AS BIGINT) AS w_ppm
        FROM (SELECT DISTINCT source FROM documents))
      SELECT t.source, n_docs, n_tokens, w_ppm,
             (50000 * w_ppm) // 1000000 AS required_tokens,
             CAST((50000 * w_ppm) // 1000000 AS DOUBLE) / n_tokens AS epochs,
             (50000 * w_ppm) // 1000000 > n_tokens AS oversubscribed
      FROM t JOIN w USING (source) ORDER BY source""",
    "q131_length_profile" -> """
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
        FROM documents),
      r AS (
        SELECT source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM t)
      SELECT source, COUNT(*) AS n,
             MAX(CASE WHEN rn = CEIL(0.25 * cnt) THEN n_tok END) AS p25,
             MAX(CASE WHEN rn = CEIL(0.5 * cnt) THEN n_tok END) AS p50,
             MAX(CASE WHEN rn = CEIL(0.75 * cnt) THEN n_tok END) AS p75,
             MAX(CASE WHEN rn = CEIL(0.9 * cnt) THEN n_tok END) AS p90,
             MAX(n_tok) AS max_tok
      FROM r GROUP BY source ORDER BY source""",
    "q132_disjoint_split" -> """
      SELECT doc_id, source,
             CASE WHEN substring(md5(source), 1, 2) < 'cd' THEN 'train'
                  WHEN substring(md5(source), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""",
    "q137_length_outliers" -> """
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
        FROM documents),
      r AS (
        SELECT source, n_tok, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM t),
      med AS (SELECT source, n_tok AS med FROM r WHERE rn = CEIL(0.5 * cnt)),
      d AS (
        SELECT t.doc_id, t.source, t.n_tok, med,
               ABS(t.n_tok - med) AS dev
        FROM t JOIN med USING (source)),
      r2 AS (
        SELECT source, dev, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM d),
      mad AS (SELECT source, dev AS mad FROM r2 WHERE rn = CEIL(0.5 * cnt))
      SELECT d.doc_id, d.source, d.n_tok, d.med, m.mad,
             d.dev > 3 * m.mad AS is_outlier
      FROM d JOIN mad m USING (source) ORDER BY doc_id""",
    "q136_corpus_health" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents),
      gagg AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(w)) AS BIGINT) AS sum_len,
               COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END) AS n_alpha,
               COUNT(CASE WHEN w IN ('the','a','and','of','to','in','is','that','with','for')
                          THEN 1 END) AS n_stop,
               CAST(SUM(len(w) - len(replace(w, '#', ''))) AS BIGINT) AS hash_chars,
               CAST(SUM(len(w) - len(replace(w, '...', ''))) AS BIGINT) AS ell_chars
        FROM tok GROUP BY 1),
      lab AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 30 AND 100000
                     AND sum_len / n_words BETWEEN 3.0 AND 10.0
                     AND (hash_chars + ell_chars // 3) / n_words <= 0.1
                     AND n_alpha / n_words >= 0.8
                     AND n_stop >= 2 THEN 1 ELSE 0 END AS keep
        FROM gagg),
      t AS (
        SELECT doc_id, source,
               CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok,
               md5(text) AS h
        FROM documents),
      base AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
               MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
        FROM t),
      k AS (SELECT CAST(SUM(keep) AS BIGINT) AS n_keep FROM lab),
      s AS (SELECT CAST(MAX(c) AS BIGINT) AS top_source_docs
            FROM (SELECT source, COUNT(*) AS c FROM t GROUP BY 1))
      SELECT n_docs, n_tokens, n_sources, n_distinct,
             ((n_docs - n_distinct) * 1000000) // n_docs AS dup_ppm,
             n_keep, (n_keep * 1000000) // n_docs AS keep_ppm,
             top_source_docs,
             (top_source_docs * 1000000) // n_docs AS top_source_ppm,
             min_tok, max_tok
      FROM base CROSS JOIN k CROSS JOIN s""",
    "q133_mixture_materialize" -> """
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
        FROM documents),
      tot AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST((CAST(substring(source, 4) AS INT) % 4 + 1) * 20000 AS BIGINT) AS w_ppm
        FROM t GROUP BY source),
      plan AS (
        SELECT source,
               ((50000 * w_ppm) // 1000000) // n_tokens AS base,
               ((50000 * w_ppm) // 1000000) % n_tokens AS rem
        FROM tot),
      c AS (
        SELECT t.doc_id, t.source,
               p.base + CASE WHEN SUM(t.n_tok) OVER (PARTITION BY t.source
                   ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id) - t.n_tok < p.rem
                 THEN 1 ELSE 0 END AS copies
        FROM t JOIN plan p USING (source))
      SELECT doc_id, source,
             CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy
      FROM c WHERE copies >= 1
      ORDER BY doc_id, copy""",
    "q96_resolve_columns" -> """
      WITH f AS (SELECT DISTINCT source AS file,
                        CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS sn
                 FROM documents),
      h AS (
        SELECT file, 0 AS pos, 'Satelite' AS hdr FROM f
        UNION ALL SELECT file, 1, CASE sn % 4 WHEN 0 THEN 'DataHoraGMT'
          WHEN 1 THEN 'data_hora' WHEN 2 THEN 'DATAHORA'
          ELSE 'Data Hora GMT' END FROM f
        UNION ALL SELECT file, 2, CASE sn % 3 WHEN 0 THEN 'Estado'
          WHEN 1 THEN 'UF' ELSE 'ESTADO' END FROM f
        UNION ALL SELECT file, 3, CASE sn % 5 WHEN 0 THEN 'FRP'
          WHEN 1 THEN 'frp_mw' WHEN 2 THEN 'Valor' WHEN 3 THEN 'FRP'
          ELSE 'potencia' END FROM f
        UNION ALL SELECT file, 4, 'municipio' FROM f),
      c(role, cand_rank, key) AS (VALUES
        ('datetime', 0, 'datahoragmt'), ('datetime', 1, 'datahora'),
        ('datetime', 2, 'data'),
        ('state', 0, 'estado'), ('state', 1, 'uf'),
        ('value', 0, 'frp'), ('value', 1, 'frpmw'), ('value', 2, 'valor')),
      k AS (SELECT file, pos, hdr,
              regexp_replace(lower(hdr), '[^a-z0-9]', '', 'g') AS key FROM h),
      j AS (SELECT k.file, c.role, k.pos, k.hdr,
              ROW_NUMBER() OVER (PARTITION BY k.file, c.role
                ORDER BY c.cand_rank ASC, k.pos DESC) AS rn
            FROM k JOIN c USING (key))
      SELECT file, role, CAST(pos AS INT) AS col_idx, hdr AS matched
      FROM j WHERE rn = 1 ORDER BY file, role""",
  )
}
