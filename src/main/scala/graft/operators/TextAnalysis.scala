package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Cols._
import graft.core.Scoped

/** Text-analysis operators for the training-data pipeline plus the
  * reference's scalar-function surface (SURVEY.md §2.8): normalization,
  * regex/JSON extraction, hashing, token statistics, quality scoring,
  * language ID, fingerprinting. All pure `functions._` expressions —
  * whole-stage-codegen friendly, no UDFs.
  */
object TextAnalysis {

  /** String normalize + NA-ify then count (P3,
    * bdqueimadas_incremental.py:734-748). */
  def stringNormalize(docs: DataFrame): DataFrame =
    docs
      .groupBy(normStr(col("lang")).as("norm_lang"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("norm_lang")

  /** Regex extraction of a numeric key + bucketing (§2.8 regex family,
    * e.g. year `(\d{4})` at bdqueimadas_incremental.py:1044-1048). */
  def regexExtractBuckets(docs: DataFrame): DataFrame =
    docs
      .select(regexp_extract(col("source"), "src(\\d+)", 1).cast("int").as("src_num"))
      .groupBy((col("src_num") % 4).as("bucket"))
      .agg(count(lit(1)).as("cnt"), min("src_num").as("min_src"), max("src_num").as("max_src"))
      .orderBy("bucket")

  /** JSON field extraction + aggregation (§2.8 JSON family,
    * bdqueimadas_incremental.py:1067-1081 parse-or-null). */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Content hashing: sha256 + md5 (§2.8 hash family, profiling.py:235-244
    * via `sha2`). */
  def contentHashes(docs: DataFrame, maxId: Long): DataFrame =
    docs.where(col("doc_id") < maxId)
      .select(col("doc_id"), sha2(col("text"), 256).as("sha256"), md5(col("text")).as("md5"))
      .orderBy("doc_id")

  private def toks(c: Column): Column = split(lower(trim(c)), " ")

  /** Token counting per source (whitespace tokenizer; integer-exact). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), size(toks(col("text"))).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"),
           min("n_tok").as("min_tokens"), max("n_tok").as("max_tokens"))
      .orderBy("source")

  private val StopWords = Seq("the", "a", "of", "and", "to", "in")

  /** Count of whitespace tokens of `c` that equal one of `ws` — as a
    * single codegen'd regexp_count over the lowered text instead of a
    * `filter` array HOF (HOFs are CodegenFallback — interpreted; the
    * repo perf rule bans them from hot paths). Tokens are space-
    * delimited, so space-or-edge lookarounds reproduce exact token
    * equality. */
  private def wordHits(c: Column, ws: Seq[String]): Column =
    regexp_count(lower(trim(c)),
      lit("(?<=^| )(" + ws.mkString("|") + ")(?= |$)")).cast("int")

  /** Quality scoring: token count, stopword ratio, length → label ladder
    * (training-data quality gate; ratio is int/int → one double division). */
  def qualityScore(docs: DataFrame, maxId: Long): DataFrame = {
    val tk = toks(col("text"))
    val hits = wordHits(col("text"), StopWords)
    val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
    docs.where(col("doc_id") < maxId)
      .select(
        col("doc_id"),
        size(tk).as("n_tok"),
        hits.as("stop_hits"),
        (hits.cast("double") / size(tk)).as("stop_ratio"),
        (punct.cast("double") / length(col("text"))).as("punct_ratio"),
        length(col("text")).as("n_chars_obs"))
      .withColumn("quality",
        when(col("n_tok") < 20, "short")
          .when(col("stop_ratio") > 0.5, "low")
          .when(col("stop_ratio") > 0.25, "medium")
          .otherwise("high"))
      .orderBy("doc_id")
  }

  /** BPE-ish regex tokenization (GPT-2-style pretokenizer simplified to
    * an RE2-compatible subset: letter runs, digit runs, punctuation runs,
    * each with optional leading space). Counting-only — the engine's
    * token-budget statistics layer. */
  def bpeTokenStats(docs: DataFrame): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0))
    docs
      .select(col("source"), size(toks).as("n_bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("sum_bpe"),
           min("n_bpe").as("min_bpe"), max("n_bpe").as("max_bpe"))
      .orderBy("source")
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting):
    * hash every k-char gram, then keep the minimum hash of each sliding
    * window of `w` grams — the standard winnowing selection. Output is
    * the distinct fingerprint set per doc; docs sharing fingerprints are
    * near-dup candidates. Implemented as flat rows (explode positions →
    * codegen'd substr+xxhash64 → forward-frame window min) — array
    * higher-order functions are interpreted and ~20× slower here. Hash
    * values are engine-specific — rows-only checked. */
  /** Distinct winnowing fingerprints as rows (doc_id, fp) — the shared
    * core of the stats view and the candidate-pair join. */
  def winnowFingerprintRows(docs: DataFrame, maxId: Long, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = lower(col("text"))
    val grams = docs.where(col("doc_id") < maxId && length(t) >= k + w)
      .select(col("doc_id"), t.as("txt"))
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("txt")) - lit(k - 1))).as("pos"),
        col("txt"))
      .select(col("doc_id"), col("pos"),
        xxhash64(substr(col("txt"), col("pos"), lit(k))).as("g"))
    val wnd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("in_frame", count(lit(1)).over(wnd))
      .withColumn("fp", min("g").over(wnd))
      .where(col("in_frame") === w)
      .select(col("doc_id"), col("fp")).distinct()
  }

  def winnowFingerprints(docs: DataFrame, maxId: Long, k: Int, w: Int): DataFrame =
    winnowFingerprintRows(docs, maxId, k, w)
      .groupBy("doc_id").agg(countDistinct(col("fp")).as("n_fp"), min("fp").as("min_fp"))
      .orderBy("doc_id")

  /** Winnowing candidate pairs (the MOSS-style plagiarism/near-dup
    * detector): docs whose shared selected fingerprints cover ≥
    * `minFrac` of the smaller doc's fingerprint set — the containment
    * form, robust to length mismatch (an absolute shared count floods
    * on corpora with common phrasing). Same bucketed shape as the LSH
    * families: fingerprints as rows, one equi-join on the fingerprint
    * value, count per pair; no cross join. Fingerprints are
    * engine-specific hashes → rows-only checked.
    *
    * `maxDocFreq` is MOSS's common-fingerprint drop (Schleimer et al.,
    * SIGMOD 2003 — MOSS ignores matches "in too many documents"): a
    * fingerprint held by c docs pairs them all — c² join rows of zero
    * signal when the fingerprint is corpus boilerplate. Measured in the
    * act at 50 k same-vocab docs: the uncapped join ran 555 s; capping
    * document frequency cut it to seconds. Sizes count the CAPPED
    * index, so containment stays a fraction of the comparable
    * fingerprints.
    *
    * `minIndexSize` guards the capped index's other failure mode: a doc
    * whose fingerprints were ALL common retains a near-empty index, and
    * a 2-element index sharing 2 rare grams by chance scores
    * containment 1.0 — on a low-diversity corpus that floods noise
    * pairs (374 k at 50 k synthetic docs, measured). Docs with fewer
    * than `minIndexSize` surviving fingerprints are not comparable and
    * drop out (MOSS likewise requires an absolute match floor). The
    * scope releases the persisted fingerprint rows. */
  def winnowPairs(docs: DataFrame, maxId: Long, k: Int, w: Int,
                  minFrac: Double, maxDocFreq: Int = Int.MaxValue,
                  minIndexSize: Int = 1): Scoped[DataFrame] = {
    val all = winnowFingerprintRows(docs, maxId, k, w)
      // consumed by the doc-frequency pass + two join sides + sizes —
      // persist so the window pipeline runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fps =
      if (maxDocFreq == Int.MaxValue) all
      else all.join(
        all.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq).select("fp"),
        Seq("fp"), "left_anti")
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .where(col("n") >= minIndexSize)
    Scoped(fps.select(col("doc_id").as("a"), col("fp"))
      .join(fps.select(col("doc_id").as("b"), col("fp")), Seq("fp"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared_fp"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("containment",
        col("shared_fp").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= minFrac)
      .select("a", "b", "shared_fp", "containment")
      .orderBy("a", "b"))(all.unpersist(blocking = false))
  }

  private val EnWords = Seq("the", "of", "and")
  private val PtWords = Seq("de", "que", "para")
  private val EsWords = Seq("el", "la", "los")

  /** Language-ID heuristic: disjoint stopword-list hit counts → argmax with
    * deterministic tie → "unk". (n-gram-heuristic family.) */
  def langId(docs: DataFrame, maxId: Long): DataFrame = {
    def hits(ws: Seq[String]) = wordHits(col("text"), ws)
    docs.where(col("doc_id") < maxId)
      .select(col("doc_id"), col("lang").as("labeled"),
        hits(EnWords).as("en_hits"), hits(PtWords).as("pt_hits"), hits(EsWords).as("es_hits"))
      .withColumn("guess",
        when(col("en_hits") > col("pt_hits") && col("en_hits") > col("es_hits"), "en")
          .when(col("pt_hits") > col("en_hits") && col("pt_hits") > col("es_hits"), "pt")
          .when(col("es_hits") > col("en_hits") && col("es_hits") > col("pt_hits"), "es")
          .otherwise("unk"))
      .orderBy("doc_id")
  }

  /** Topical any-of substring filter (P11,
    * social/research_trends/pipeline.py:192-220): keep docs whose text
    * contains ≥1 required term (case-insensitive), count per lang. */
  def topicalFilter(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val lowered = lower(col("text"))
    val pred = terms.map(t => lowered.contains(t)).reduce(_ || _)
    docs.where(pred).groupBy("lang").agg(count(lit(1)).as("cnt")).orderBy("lang")
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text
    * (rolling-hash-fingerprint family; deterministic across engines). */
  def fingerprint(docs: DataFrame, maxId: Long): DataFrame =
    docs.where(col("doc_id") < maxId)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .orderBy("doc_id")

  /** TF-IDF relevance scoring for a small literal term set, top-k docs —
    * the classic IR ranking primitive (the linear-idf form: weight =
    * N/df, no log, so the score is a FIXED-ORDER sum of exact-operand
    * divisions and stays oracle-deterministic; libm `ln` differs across
    * engines in the last ulp).
    *
    * Shape for scale: term frequencies pivot into one column PER TERM
    * during a single hash aggregation (terms are a handful of literals,
    * not data — no (doc,term) tall frame, no second shuffle), document
    * frequencies reduce to ONE row that broadcast-joins back, and the
    * score is a projection. Top-k via global sort of the scored frame;
    * rows with score 0 are dropped before the sort so at corpus scale
    * only matching docs move. */
  def tfidfTopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "terms must be a small literal set")
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
    // consumed twice (df reduction + the scored projection): persist and
    // materialize so the explode/agg pipeline runs once (minhash pattern)
    val tf = tok.groupBy("doc_id")
      .agg(count(when(col("w") === terms.head, true)).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          count(when(col("w") === t, true)).as(s"tf${i + 1}")
        }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scoped(tf)(tf.unpersist(blocking = false)).map { tf =>
      tf.count()
      val dfRow = tf.agg(
        count(lit(1)).as("n_docs"),
        terms.indices.map(i => count(when(col(s"tf$i") > 0, true)).as(s"df$i")): _*)
      val score = terms.indices.map(i =>
        col(s"tf$i") * (col("n_docs") / greatest(col(s"df$i"), lit(1L))))
        .reduce(_ + _)
      tf.crossJoin(broadcast(dfRow))
        .withColumn("score", score)
        .where(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
        .select(col("doc_id"), col("score"))
      // the result is bounded at k rows by construction — localize it so
      // the per-call persist is released deterministically instead of
      // leaking until the caller clears the cache
    }.localize
  }

  /** BM25 lexical retrieval (Robertson–Spärck Jones, k1 = 1.2,
    * b = 0.75) — the keyword half of hybrid retrieval next to the
    * embedding ANN family. Scores are EXACT integers: with
    * avgdl = A/N (A total tokens, N docs), the per-term score
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * clears to the integer ratio
    *   (2N − 2df + 1) · 22·tf·A   over   (2df + 1) · (10·A·tf + 3·A + 9·dl·N)
    * using the linear Robertson idf (N − df + ½)/(df + ½) — the q91
    * discipline: no logarithm, so no cross-engine libm ulp drift — and
    * lands as fixed-point ppm via a DECIMAL(38,0)-widened integer
    * division (the q100/q103 discipline). The doc score is a BIGINT
    * sum of per-term ppm parts: bit-exact against the oracle.
    *
    * Shape for scale: same as `tfidfTopK` — per-term tf pivots inside
    * ONE hash aggregation (terms are literals, not data), constants
    * reduce to one broadcast row, scoring is a projection, TakeOrdered
    * bounds the result at k. Zero-score docs drop before the sort. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "terms must be a small literal set")
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val tf = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          count(when(col("w") === t, true)).as(s"tf$i")
        }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scoped(tf)(tf.unpersist(blocking = false)).map { tf =>
      tf.count()
      val constCols = Seq(count(lit(1)).as("nd"), sum(col("dl")).as("ta")) ++
        terms.indices.map(i => count(when(col(s"tf$i") > 0, true)).as(s"df$i"))
      val consts = tf.agg(constCols.head, constCols.tail: _*)
      val scorePpm = terms.indices.map { i =>
        expr(s"CAST((CAST((2L*nd - 2L*df$i + 1L) * 22L * tf$i * ta AS DECIMAL(38,0))" +
          s" * 1000000) div ((2L*df$i + 1L) * (10L*ta*tf$i + 3L*ta + 9L*dl*nd))" +
          " AS BIGINT)")
      }.reduce(_ + _)
      tf.crossJoin(broadcast(consts))
        .withColumn("score_ppm", scorePpm)
        .where(col("score_ppm") > 0)
        .orderBy(col("score_ppm").desc, col("doc_id").asc)
        .limit(k)
        .select(col("doc_id"), col("score_ppm"))
      // bounded at k rows: localize, then release the persist
    }.localize
  }

  /** Zipf rank–frequency profile — the corpus-health report a curation
    * run eyeballs before and after cleaning: the top-`topN` tokens by
    * count with rank, corpus share, and cumulative share (fixed-point
    * ppm — exact). A healthy natural corpus tracks rank·freq ≈ const;
    * a boilerplate-polluted one shows a flattened head, and the
    * cumulative column says how much of the corpus the top-N covers.
    * One hash agg + TakeOrdered; the cumulative window runs over the
    * bounded topN rows only. */
  def tokenZipf(docs: DataFrame, topN: Int = 100): DataFrame = {
    val counts = docs.select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scoped(counts)(counts.unpersist(blocking = false)).map { counts =>
      counts.count()
      val total = counts.agg(sum(col("c")).as("total"))
      val top = counts.orderBy(col("c").desc, col("w")).limit(topN)
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("w"))))
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("c").desc, col("w"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("rank").cast("int").as("rank"), col("w"), col("c"),
          expr("(c * 1000000L) div total").as("share_ppm"),
          expr("(cum * 1000000L) div total").as("cum_ppm"))
        .orderBy("rank")
      // bounded at topN rows: localize, release the persist
    }.localize
  }

  /** Token-distribution drift between two corpus snapshots — the
    * distribution-shift monitor a recurring crawl runs beside the
    * doc-level `TrainingData.corpusDiff`: for every token, its ppm
    * share in each snapshot and the signed ppm delta, ranked by
    * absolute drift. All integer fixed-point (`q112`'s `div`
    * convention), so the oracle compares bit-for-bit; the per-token
    * |ppm_new − ppm_old| also makes the total-variation distance
    * readable as `sum(abs_delta)/2e6` without a float anywhere.
    *
    * 100 TB shape: two map-side-combined token aggs, one shuffle join
    * on the token key, totals broadcast as 1-row frames, and a
    * TakeOrdered top-N — no window over the full vocabulary, no
    * driver-side token table. */
  def tokenDrift(old: DataFrame, nu: DataFrame, topN: Int = 50): DataFrame = {
    def cnts(df: DataFrame, as: String) =
      df.select(explode(toks(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as(as))
    val a = cnts(old, "cnt_old")
    val b = cnts(nu, "cnt_new")
    val ta = a.agg(sum(col("cnt_old")).as("total_old"))
    val tb = b.agg(sum(col("cnt_new")).as("total_new"))
    a.join(b, Seq("w"), "full_outer")
      .na.fill(0L, Seq("cnt_old", "cnt_new"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("w"), col("cnt_old"), col("cnt_new"),
        expr("(cnt_old * 1000000L) div total_old").as("ppm_old"),
        expr("(cnt_new * 1000000L) div total_new").as("ppm_new"))
      .withColumn("ppm_delta", col("ppm_new") - col("ppm_old"))
      .orderBy(abs(col("ppm_delta")).desc, col("w"))
      .limit(topN)
  }

  /** BPE merge-table induction (Sennrich et al. 2016) — tokenizer
    * training as a pipeline stage: learn the first `nMerges` byte-pair
    * merges from corpus word-type frequencies. The DISTRIBUTED stage is
    * the corpus-wide type count (one hash agg over every token of a
    * 100 TB corpus — the part that scales with data); the merge loop
    * then runs over the TYPE table, which is vocabulary-bounded
    * (`maxVocabTypes` caps it explicitly — the ivfTopK bounded-collect
    * contract: the type table is the MODEL, not the data; HF/
    * sentencepiece train the same loop single-node from exactly this
    * aggregate). Ties break (count desc, then lexical pair), so the
    * merge table is deterministic. Output one row per learned merge:
    * (rank, left, right, merged, pair_count). */
  def bpeMerges(docs: DataFrame, nMerges: Int,
                maxVocabTypes: Int = 1000000): DataFrame = {
    val types = docs.select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxVocabTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Vector[String], Long)] =
      types.map { case (w, c) => (w.map(_.toString).toVector :+ "</w>", c) }
    val merges = Vector.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), cnt) =
          pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, l + r, cnt))
        words = words.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        rank += 1
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank")
  }

  /** Apply a learned merge table to a corpus: (doc_id, tokens) where
    * tokens are the subword sequence under the frozen vocabulary —
    * `bpeMerges`' consumer half (Sennrich 2016 apply_bpe: greedy
    * minimum-rank merging per word). The merge frame collects to the
    * driver (it is the MODEL — vocabulary-bounded by construction)
    * and rides the native `functions.BpeEncode` expression; the only
    * distributed work is one projection pass over the corpus. */
  def bpeApply(docs: DataFrame, mergesDf: DataFrame): DataFrame = {
    val merges = mergesDf.select("rank", "left", "right")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    docs.select(col("doc_id"),
      graft.functions.Bpe.encode(col("text"), merges).as("tokens"))
  }

  /** One-call induce-then-encode corpus audit (q120): train `nMerges`
    * BPE merges on the corpus itself, re-encode the corpus under them,
    * and emit the top-`topN` subword counts — the vocabulary a
    * tokenizer trained on this corpus would actually spend its budget
    * on. Deterministic (count desc, token lexical). */
  def bpeEncodeCounts(docs: DataFrame, nMerges: Int, topN: Int): DataFrame =
    bpeApply(docs, bpeMerges(docs, nMerges))
      .select(explode(col("tokens")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(topN)

  /** Per-source document-length profile: discrete quantiles (the value
    * at rank ⌈p·n⌉ — percentile_disc semantics, so every output is an
    * actual corpus length and an exact long, no interpolated doubles)
    * of the token count, per source. The report that sizes chunking
    * (`chunkSplit` maxLen), packing budgets (`tokenPack`), and Gopher
    * word bounds against the corpus as it actually is. One keyed
    * window (rank within source) + one agg; the per-source sort is the
    * cost and it parallelizes across sources — at 100 TB with few
    * giant sources, switch to `approx_percentile` (the same trade as
    * q129's HLL column, with rank error εn instead of a full sort). */
  def lengthProfile(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(toks(col("text"))).cast("long").as("n_tok"))
    val r = t.withColumn("rn",
        row_number().over(Window.partitionBy("source")
          .orderBy(col("n_tok"), col("doc_id"))).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
    def q(p: Double, name: String) =
      max(when(col("rn") === ceil(lit(p) * col("cnt")), col("n_tok"))).as(name)
    r.groupBy("source")
      .agg(count(lit(1)).as("n"), q(0.25, "p25"), q(0.5, "p50"),
        q(0.75, "p75"), q(0.9, "p90"), max(col("n_tok")).as("max_tok"))
      .orderBy("source")
  }

  /** Per-source robust length-outlier filter: flag documents whose
    * token count deviates from their SOURCE's median by more than
    * `k` × MAD (median absolute deviation) — the filter that catches
    * truncated or concatenated crawl artifacts, robust where a
    * mean/stddev rule is dragged by the outliers it's hunting, and
    * per-source because length norms differ by domain. Median and MAD
    * are the discrete rank-⌈n/2⌉ values (`lengthProfile`'s technique),
    * so every output is an exact long and the verdict hash-checks.
    * Two keyed windows + two broadcast-sized joins back; everything
    * parallelizes across sources. A source with MAD 0 (absolutely
    * uniform lengths) flags ANY deviating doc — deterministic, and
    * the honest reading of "this source has exactly one length". */
  def lengthOutliers(docs: DataFrame, k: Long = 3L): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(toks(col("text"))).cast("long").as("n_tok"))
    val cw = Window.partitionBy("source")
    val r = t.withColumn("rn", row_number().over(
        cw.orderBy(col("n_tok"), col("doc_id"))).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
    val med = r.where(col("rn") === ceil(lit(0.5) * col("cnt")))
      .select(col("source"), col("n_tok").as("med"))
    val d = t.join(med, Seq("source"))
      .withColumn("dev", abs(col("n_tok") - col("med")))
    val r2 = d.withColumn("rn", row_number().over(
        cw.orderBy(col("dev"), col("doc_id"))).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
    val mad = r2.where(col("rn") === ceil(lit(0.5) * col("cnt")))
      .select(col("source"), col("dev").as("mad"))
    d.join(mad, Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("med"),
        col("mad"), (col("dev") > lit(k) * col("mad")).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** Per-source vocabulary cardinality audit: exact distinct token
    * count vs the HyperLogLog++ estimate (`approx_count_distinct`,
    * relative sd `rsd`) and their relative error. At 100 TB the exact
    * count is the problem — COUNT(DISTINCT) shuffles every distinct
    * (source, token) pair, TBs of exchange for a cardinality nobody
    * needs exactly — while the HLL sketch is a fixed ~1.5 KB of state
    * per group merged map-side, so one row per source crosses the
    * wire. This audit is the small-SF validation run that licenses
    * dropping the exact column at scale: it pins the sketch's error
    * against truth on data shaped like the corpus. Deterministic
    * (HLL++ is hash-based, no RNG) and rows-only — DuckDB's
    * approx_distinct is a different HLL implementation, so the
    * estimates differ by design; `TextAnalysisSpec` pins the error
    * bound and re-run determinism instead. */
  /** Per-source token-length quantiles via the MERGEABLE Greenwald-
    * Khanna sketch (`percentile_approx`) — the quantile face of the
    * exact↔sketch split (q139 exact distinct ↔ q143 HLL; q131 exact
    * value-at-rank ↔ this): at 100 TB the exact form sorts every
    * source's lengths, the sketch keeps O(accuracy·log n) tuples
    * merged map-side, one row per source out. Values are actual data
    * points (GK returns set members), with the rank guarantee
    * |true_rank(est) − ⌈p·n⌉| ≤ n/accuracy — pinned by
    * `TextAnalysisSpec` against the exact sorted lists. Rows-only:
    * the sketch is engine-specific by design. */
  def lengthProfileSketch(docs: DataFrame, accuracy: Int = 1000): DataFrame =
    docs.select(col("source"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_tok"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)),
          lit(accuracy)).as("qs"))
      .select(col("source"), col("n_docs"),
        col("qs").getItem(0).as("p25_est"), col("qs").getItem(1).as("p50_est"),
        col("qs").getItem(2).as("p75_est"), col("qs").getItem(3).as("p95_est"))
      .orderBy("source")

  /** Exact per-source vocabulary size — the oracle-checkable half of
    * `cardinalityAudit`, split out so the exact COUNT(DISTINCT) column
    * hash-checks against DuckDB while the HLL estimate (a different
    * sketch implementation per engine, by design) stays in the
    * rows-only audit. At 100 TB this is the expensive form the audit
    * licenses retiring: every distinct (source, token) pair shuffles. */
  def vocabCardinality(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(toks(col("text"))).as("w"))
      .groupBy("source")
      .agg(countDistinct(col("w")).as("n_exact"))
      .orderBy("source")

  def cardinalityAudit(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs.select(col("source"), explode(toks(col("text"))).as("w"))
      .groupBy("source")
      .agg(countDistinct(col("w")).as("n_exact"),
        approx_count_distinct(col("w"), rsd).as("n_hll"))
      .select(col("source"), col("n_exact"), col("n_hll"),
        (abs(col("n_hll") - col("n_exact")).cast("double") / col("n_exact"))
          .as("rel_err"))
      .orderBy("source")

  /** Feature-hashed text embeddings (Weinberger et al. 2009 — the
    * signed hashing trick): token t adds sign(xxhash64(t, 1)) to
    * component xxhash64(t) mod dim, so every document becomes a
    * `dim`-wide float vector with NO vocabulary, no model, and no
    * driver state — the in-engine text→vector bridge that lets the
    * whole ANN/SemDeDup/kNN tier run end-to-end on raw documents.
    * Vectors are raw signed counts, deliberately unnormalized: every
    * consumer (`Similarity.cosineTopK`, `semDedup`, `knnJoin`, the IVF
    * family) divides by the norms it computes itself, so normalizing
    * here would be a wasted pass (and the ±1 sums are exact in double,
    * making the output order-independent bit-for-bit).
    *
    * Shape for scale: one explode + ONE pivot aggregation over the
    * KNOWN 0..dim-1 domain (no domain-discovery job, map-side partial
    * aggregation, everything codegen'd builtins — no HOF, no UDF); the
    * single shuffle is keyed by doc_id. Token-less documents drop out
    * (an all-zero vector has no cosine anyway) — count inputs
    * separately if coverage accounting is needed. */
  def hashEmbed(docs: DataFrame, dim: Int = 64): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        pmod(xxhash64(col("w")), lit(dim)).cast("int").as("idx"),
        when(pmod(xxhash64(col("w"), lit(1)), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("s"))
    tok.groupBy("doc_id")
      .pivot("idx", (0 until dim).map(Integer.valueOf))
      .agg(sum(col("s")))
      .select(col("doc_id").as("vec_id"),
        array((0 until dim).map(i =>
          coalesce(col(s"`$i`"), lit(0.0)).cast("float")): _*).as("embedding"))
  }
}
