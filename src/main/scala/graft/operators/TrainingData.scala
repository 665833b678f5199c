package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Training-data curation operators — the corpus-preparation layer a
  * large-scale LLM data pipeline runs after ingestion/dedup: dataset
  * splits, stratified downsampling, repetition-based quality filtering
  * (Gopher-style), PII redaction, token-budget sharding, and eval-set
  * decontamination. All are deterministic (hash-keyed, no RNG) so runs
  * are reproducible and oracle-checkable, and every plan is a
  * shuffle-minimal shape that survives a 100 TB corpus:
  *
  *  - splits/redaction are pure projections (zero shuffles);
  *  - sampling/repetition are single hash-aggregation chains with
  *    map-side partial aggregation;
  *  - token packing is the classic two-level prefix sum (per-bucket
  *    windows in parallel + one tiny window over bucket totals) instead
  *    of a single-partition global window;
  *  - decontamination broadcast-semi-joins the tiny eval shingle set
  *    BEFORE any shuffle, so only matching rows ever move.
  *
  * Tokenization matches `TextAnalysis.tokenStats` (q31): split on a
  * single space after lower+trim — one convention across the text
  * family so metrics compose.
  */
object TrainingData {

  private def toks(c: Column): Column = split(lower(trim(c)), " ")

  /** Hex-uniform per-doc key: first 2 hex chars of md5 of the id — 256
    * equal-probability buckets, portable across engines (md5 is the
    * same everywhere; no engine-specific hash). */
  private def hashKey(id: Column): Column =
    substring(md5(id.cast("string")), 1, 2)

  /** Deterministic train/val/test split (~80/10/10) by content-free id
    * hash. A pure projection: no shuffle, no RNG state, stable under
    * re-runs and appends — the property a training pipeline needs so a
    * document never migrates between splits when the corpus grows.
    * Thresholds are hex-string compares over the 256-bucket key:
    * 'cd' = 205/256 ≈ 80.1%, 'e6' = 230/256 ≈ 89.8%. */
  def hashSplit(docs: DataFrame): DataFrame = {
    val k = hashKey(col("doc_id"))
    docs.select(col("doc_id"),
        when(k < "cd", "train").when(k < "e6", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic seeded corpus shuffle — the epoch-ordering step a
    * training dataloader needs: a reproducible pseudorandom permutation
    * of the corpus, materialized as (shard, pos) coordinates so N
    * readers each stream one shard in pos order and the concatenation
    * is the shuffled epoch. A different `seed` (conventionally the
    * epoch number) yields an unrelated permutation; the same seed
    * replays bit-identically on any cluster size — no RNG state, no
    * sampleBy, just md5 over (seed, doc_id).
    *
    * Shapes for scale: shard assignment is a PURE PROJECTION (16 bits
    * of the key mod nShards — slight bias when nShards ∤ 65536, ≤ 1
    * part in 65536/nShards, irrelevant for load balance); the only
    * shuffle is the per-shard rank window, partitioned BY SHARD so it
    * parallelizes nShards wide and never sees the corpus in one task.
    * The write face is `repartition(shard).partitionBy(shard)` (the
    * round-8 one-file-per-key rule). The plan is an EPOCH SNAPSHOT:
    * append a doc and later positions shift — rerun per epoch, which
    * is the point (fresh permutation each epoch anyway).
    *
    * Everything is engine-portable (md5 + hex-nibble arithmetic +
    * keyed ROW_NUMBER), so the DuckDB oracle reproduces it bit-for-bit
    * (q171). Output: (doc_id, shard, pos), deterministic order. */
  def epochShuffle(docs: DataFrame, nShards: Int, seed: Long): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val skey = md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
    def nib(i: Int): Column =
      expr(s"instr('0123456789abcdef', substring(skey, $i, 1)) - 1")
    docs.select(col("doc_id"), skey.as("skey"))
      .withColumn("shard",
        pmod(nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4), lit(nShards))
          .cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** One-row corpus health dashboard — the summary a pipeline prints
    * before anything else runs: corpus size (docs/tokens/sources),
    * exact-duplicate mass (md5 content hashes, the q35 convention),
    * Gopher keep rate, source concentration (largest source's share),
    * and the token-length envelope. Every rate is an exact ppm integer
    * division, so the row hash-checks; three independent single-agg
    * passes (base stats, keep count, source mode) cross-joined — each
    * map-side-combined, nothing corpus-sized moves. */
  def corpusHealth(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(toks(col("text"))).cast("long").as("n_tok"),
      md5(col("text")).as("h"))
    val base = t.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("h")).as("n_distinct"),
      min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
    val keep = gopherQuality(docs, minWords = 30)
      .agg(sum(col("keep").cast("long")).as("n_keep"))
    val topSrc = t.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top_source_docs"))
    // ANSI mode: guard the ppm divisions so an empty corpus yields a
    // degenerate (null-rate) row instead of ArithmeticException — the
    // same n > 0 stance as MonitorQuality.processBatch
    def ppm(e: Column): Column = when(col("n_docs") > 0, e)
    base.crossJoin(keep).crossJoin(topSrc)
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        col("n_distinct"),
        ppm(expr("((n_docs - n_distinct) * 1000000) div n_docs")).as("dup_ppm"),
        col("n_keep"),
        ppm(expr("(n_keep * 1000000) div n_docs")).as("keep_ppm"),
        col("top_source_docs"),
        ppm(expr("(top_source_docs * 1000000) div n_docs")).as("top_source_ppm"),
        col("min_tok"), col("max_tok"))
  }

  /** Domain-disjoint split: every document from a source lands in the
    * SAME split, so near-duplicates that cluster within a domain (the
    * common case — boilerplate, templated pages, mirrored articles)
    * can never straddle the train/eval boundary. This is the leakage
    * mode a doc-level hash split permits even after dedup, and the
    * reason eval benchmarks hold out whole domains. Same properties
    * as `hashSplit` (pure projection, no RNG, stable under appends);
    * the unit of assignment is the `by`-column hash, so split sizes
    * track the source-size distribution rather than landing exactly
    * 80/10/10 — the price of the disjointness guarantee. */
  def disjointSplit(docs: DataFrame, by: String = "source"): DataFrame = {
    val k = hashKey(col(by))
    docs.select(col("doc_id"), col(by),
        when(k < "cd", "train").when(k < "e6", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Materialize a token-budget mixture (the consumer of
    * `mixturePlan`): emit each document `copies` times so every source
    * supplies ~its target share of the budget — whole epochs as
    * integer repeats (`required div n_tokens`), the fractional epoch
    * as ONE extra copy of a deterministic hash-ordered prefix of the
    * source's docs (first docs whose cumulative token count hasn't
    * reached the remainder). All integer arithmetic; achieved tokens
    * overshoot the target by less than one document's length. Output
    * (doc_id, source, copy 1..c) — the repeated corpus a packing/
    * shuffling stage consumes. Shapes: one token agg + broadcast
    * plan join + one keyed window (hash-ordered prefix sum per
    * source) + a sequence explode; rows out = materialized corpus
    * size, nothing corpus-sized collects. */
  def mixtureMaterialize(docs: DataFrame, weightsPpm: Map[String, Long],
                         budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weightsPpm.toSeq.sortBy(_._1).toDF("source", "w_ppm")
    val t = docs.select(col("doc_id"), col("source"),
      size(toks(col("text"))).cast("long").as("n_tok"))
    val totals = t.groupBy("source").agg(sum(col("n_tok")).as("n_tokens"))
      .join(broadcast(w), Seq("source"))
      .withColumn("required", expr(s"($budget * w_ppm) div 1000000"))
      .select(col("source"), expr("required div n_tokens").as("base"),
        expr("required % n_tokens").as("rem"))
    val wSrc = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    t.withColumn("cum", sum(col("n_tok")).over(wSrc))
      .join(broadcast(totals), Seq("source"))
      .withColumn("copies",
        col("base") + when(col("cum") - col("n_tok") < col("rem"), 1L)
          .otherwise(0L))
      .where(col("copies") >= 1L)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** Deterministic stratified downsampling: keep at most `n` docs per
    * stratum (`by` column), chosen by hash order — a reproducible
    * "reservoir" that needs no RNG and picks the same docs on every
    * run. One shuffle (window on the stratum key). At 100 TB the row
    * numbering stays safe: rows within a stratum spread across tasks
    * only at the window stage, and quota strata are by construction
    * the GROUP side (languages, sources — thousands, not billions);
    * a pathologically hot stratum can pre-filter on a hash-threshold
    * estimate before the window, which this operator's hash ordering
    * makes consistent. */
  def quotaSample(docs: DataFrame, by: String, n: Int): DataFrame = {
    val w = Window.partitionBy(by)
      .orderBy(hashKey(col("doc_id")).asc, col("doc_id").asc)
    docs.select(col(by), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= n)
      .select(by, "doc_id")
      .orderBy(col(by), col("doc_id"))
  }

  /** Gopher-style repetition metrics per document (Rae et al. 2021,
    * "Scaling Language Models" §A1.1: fraction of duplicated n-grams /
    * fraction taken by the most frequent n-gram). Bigrams as FLAT ROWS
    * (posexplode + lead — the text family's codegen-friendly shape; no
    * interpreted array HOFs), then one two-level hash aggregation:
    * (doc, bigram) counts with map-side combine, then per-doc totals.
    * `dup_frac` = fraction of bigram occurrences beyond their first;
    * `top_frac` = share of the single most repeated bigram; `keep` is
    * the filter verdict at the given threshold. */
  def repetitionFilter(docs: DataFrame, dupThreshold: Double): DataFrame = {
    // doc_id exchange taken on the RAW docs (fewer bytes than token
    // rows) at pinned width; the lead-window reuses it — see docBigrams
    val tok = graft.core.Layout.pinWidth(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val bi = tok
      .withColumn("w2", lead(col("w"), 1).over(wDoc))
      .where(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2")).as("bg"))
    bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"),
        col("n_bigrams"),
        ((col("n_bigrams") - col("n_distinct")) / col("n_bigrams")).as("dup_frac"),
        (col("top_count") / col("n_bigrams")).as("top_frac"))
      .withColumn("keep", col("dup_frac") < dupThreshold)
      .orderBy("doc_id")
  }

  /** PII redaction: replace email addresses and phone numbers with
    * placeholder tags and count what was removed. A pure projection —
    * regexp_replace/regexp_extract_all are codegen'd builtins, zero
    * shuffles, linear over the corpus. The regexes stay within the
    * POSIX-class subset both Java and RE2 dialects share. `text` is
    * expected to already carry the contact strings (the driver query
    * synthesizes them deterministically from testdata). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"),
        // group 0 = whole match: the patterns deliberately carry no
        // capture groups (Spark's 2-arg form defaults to group 1 and
        // rejects group-free patterns under ANSI)
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).as("n_emails"),
        // phones are counted on the POST-email-redaction string (the
        // same intermediate the replace chain sees), so n_phones always
        // equals the number of <PHONE> tags emitted — counting on the
        // raw text would also count a phone-shaped substring absorbed
        // into an email match, which leaves no tag
        size(regexp_extract_all(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          lit(PhoneRe), lit(0))).as("n_phones"))
      .orderBy("doc_id")

  /** Token-budget sharding: assign docs (in stable doc_id order) to
    * consecutive training shards of ~`budget` tokens — the sequence-
    * packing precursor. The global running sum is computed as a
    * TWO-LEVEL prefix sum so no stage ever sees the corpus in one
    * partition: (1) per-bucket cumulative windows run in parallel
    * (bucket = doc_id range, preserving global order); (2) ONE
    * unpartitioned window runs over the tiny bucket-totals frame
    * (corpus/bucketRows rows — e.g. 10⁹ docs / 2¹⁶ ≈ 15 k rows); (3)
    * offsets broadcast-join back. The repo's unpartitioned-window rule
    * (aggregates only) holds: step 2's frame IS an aggregate. */
  def tokenPack(docs: DataFrame, budget: Long, bucketRows: Long = 1 << 16): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(toks(col("text"))).as("n_tok"),
      expr(s"doc_id div ${bucketRows}L").as("bucket"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = base.withColumn("cum_in", sum(col("n_tok")).over(wIn))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bucket").agg(sum(col("n_tok")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select("bucket", "off")
    intra.join(broadcast(offsets), Seq("bucket"))
      // `div` (exact long division) rather than floor(a/b): the running
      // sum exceeds 2^53 tokens on a 100 TB corpus, where the double
      // round-trip would misplace shard boundaries
      .select(col("doc_id"), col("n_tok"),
        expr(s"(off + cum_in - n_tok) div ${budget}L").as("shard"))
      .orderBy("doc_id")
  }

  /** C4-style page cleaning (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning" §2.2): line-level rules — keep only lines
    * that end in terminal punctuation, have at least `minWords` words,
    * and don't mention javascript — plus page-level rules — drop pages
    * containing "lorem ipsum" or a curly brace, or with fewer than
    * `minLines` surviving lines.
    *
    * Shape for scale: lines become FLAT ROWS (posexplode — the text
    * family's codegen-friendly form), the line rules are pushed-down
    * predicates on those rows (dropped lines never reach the shuffle),
    * and the cleaned page is reassembled with one ordered per-doc
    * window + group-by. Every rule is a codegen'd builtin (rlike /
    * contains / size-split); page-level flags ride along from the
    * pre-explode projection so no second scan of `documents` is needed.
    * Docs whose every line is dropped still emit a row (left join back
    * to the doc spine) with an empty `clean_text` — the caller sees
    * every input doc exactly once with its `keep` verdict. */
  def c4Clean(docs: DataFrame, textCol: String = "page",
              minWords: Int = 5, minLines: Int = 3): DataFrame = {
    val spine = docs.select(col("doc_id"),
      (lower(col(textCol)).contains("lorem ipsum") ||
        col(textCol).contains("{")).as("page_flagged"))
    val lines = docs
      .select(col("doc_id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), trim(col("line")).as("l"))
    val kept = lines.where(
      col("l").rlike("[.!?\"]$") &&
        size(split(col("l"), " ")) >= minWords &&
        !lower(col("l")).contains("javascript"))
    // ordered reassembly: the window's frame spans the whole doc, so
    // every row carries the full kept-line list in pos order; the
    // group-by then reduces to one row per doc (max = the shared value)
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perDoc = kept
      .withColumn("ct", array_join(collect_list(col("l")).over(w), "\n"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("ct")).as("ct"))
    spine.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("ct"), lit("")).as("clean_text"),
        (!col("page_flagged") && coalesce(col("n_kept"), lit(0)) >= minLines).as("keep"))
      .orderBy("doc_id")
  }

  /** Deterministic source-mixture resampling: downsample each source
    * (domain) to a target retention `weight` in [0,1] — the mixture-
    * reweighting step a pretraining pipeline runs to hit target domain
    * proportions. Selection is the same content-free 256-bucket md5
    * key as `hashSplit`, so it's reproducible, append-stable, and
    * composes with the split (a doc's split never depends on whether
    * its source was downweighted). A pure projection — zero shuffles;
    * the weight table compiles into the plan as a CASE chain (sources
    * are a handful of literals, not data). Weight ≥ 1.0 keeps all. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .where(hashKey(col("doc_id")) < mixtureCut(weights, defaultWeight))
      .orderBy("doc_id")

  /** The per-source retention threshold as a CASE chain over literal
    * thresholds (the weight table is a handful of sources, not data). */
  private def mixtureCut(weights: Map[String, Double], defaultWeight: Double): Column = {
    // 'zz' sorts above every lowercase-hex key — the keep-all sentinel
    def thr(w: Double): String =
      if (w >= 1.0) "zz" // sorts above all hex — keep-all
      // cap at 255: a 256 ("100") would string-compare BELOW "ff"
      else f"${math.min(255L, math.max(0L, math.round(w * 256))).toInt}%02x"
    weights.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultWeight))) {
      case (acc, (src, w)) => when(col("source") === src, lit(thr(w))).otherwise(acc)
    }
  }

  /** Streaming-safe curation pass: split assignment, source-mixture
    * retention, and PII redaction composed into ONE stateless
    * projection — no sort, no aggregation, no state store — so the
    * same call works identically under `readStream` for an ingestion
    * path that curates documents as they arrive
    * (`StreamingCurationSpec` pins batch/stream row-level parity).
    * The content-free md5 keys keep every decision reproducible: a
    * document admitted by the stream is the document the batch
    * backfill admits. */
  def curateStream(docs: DataFrame, weights: Map[String, Double] = Map.empty,
                   defaultWeight: Double = 1.0): DataFrame = {
    val k = hashKey(col("doc_id"))
    docs
      .where(k < mixtureCut(weights, defaultWeight))
      .select(col("doc_id"), col("source"),
        when(k < "cd", "train").when(k < "e6", "val").otherwise("test").as("split"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        // post-email-redaction string, matching piiRedact: counts always
        // equal the <PHONE> tags present in `redacted`
        size(regexp_extract_all(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          lit(PhoneRe), lit(0))).as("n_phones"))
  }

  /** Word `n`-gram shingles as flat rows (doc_id, sh) — the text
    * family's codegen-friendly shape (posexplode + lead windows, no
    * interpreted array HOFs). Shared by the decontamination and
    * inter-document duplication operators so their shingle convention
    * (lower+trim, single-space tokens) stays identical. */
  private def shingleRows(df: DataFrame, n: Int): DataFrame = {
    val tok = df.select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = (1 until n).foldLeft(tok) { (d, i) =>
      d.withColumn(s"w$i", lead(col("w"), i).over(w))
    }
    withNext.where(col(s"w${n - 1}").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", (col("w") +: (1 until n).map(i => col(s"w$i"))): _*).as("sh"))
  }

  /** Eval-set decontamination: flag corpus documents sharing word
    * `n`-gram shingles with a (small) eval/benchmark set — the overlap
    * check every training pipeline runs before a model sees the data
    * (Brown et al. 2020 §C use 13-gram overlap; testdata docs are
    * short, so the driver query uses 3-grams). Shape for scale: the
    * eval side is distinct-shingled and BROADCAST; corpus shingle rows
    * are semi-joined against it BEFORE any shuffle, so the only
    * shuffled rows are actual hits (tiny); one final per-doc
    * count-distinct. Emits (doc_id, n_overlap) for docs with at least
    * `minOverlap` shared shingles. */
  def decontaminate(corpus: DataFrame, eval: DataFrame,
                    n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val evalSet = shingleRows(eval, n).select("sh").distinct()
    shingleRows(corpus, n)
      .join(broadcast(evalSet), Seq("sh")) // semi shape: count-distinct below dedups
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
      .orderBy("doc_id")
  }

  /** `decontaminate` for eval/benchmark sets too large to broadcast
    * exactly — the Bloom-filter regime. Spark's own runtime-filter
    * machinery (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * the Catalyst pair behind `spark.sql.optimizer.runtime.bloomFilter`)
    * is lifted to the operator level: the eval shingle set folds into a
    * fixed-size bit sketch on the executors (one tiny binary row back
    * to the driver), the corpus side drops non-members with a codegen'd
    * `might_contain` BEFORE any shuffle, and only bloom survivors
    * (true hits + an `fpp` fraction of false positives) reach the
    * exact equi-join that confirms membership.
    *
    * Output is therefore EXACTLY `decontaminate`'s — false positives
    * cost work, never correctness — while the broadcast ceiling
    * disappears: the sketch is ≤ 8 MiB (the expression's numBits cap)
    * no matter how many shingles the eval set holds, and the confirm
    * join shuffles only bloom survivors against the eval shingles.
    * Both sides hash with the same `xxhash64(sh)` the builtin emits, so
    * build and probe agree by construction. The scope releases the
    * persisted eval shingle frame (read by the sketch build and the
    * lazy confirm join). */
  def decontaminateBloom(corpus: DataFrame, eval: DataFrame,
                         n: Int = 3, minOverlap: Int = 1,
                         fpp: Double = 0.01): Scoped[DataFrame] = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val evalSh = shingleRows(eval, n).select("sh").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nItems = math.max(evalSh.count(), 1L)
    // optimal bits −n·ln(p)/ln²2, clamped to the expression's 2²⁶ cap
    val numBits = math.min(
      math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong,
      67108864L)
    val bf = evalSh.select(asCol(new BloomFilterAggregate(
        asExpr(xxhash64(col("sh"))), Literal(nItems), Literal(numBits))
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = asCol(new BloomFilterMightContain(
      Literal(bf, BinaryType), asExpr(xxhash64(col("sh")))))
    val res = shingleRows(corpus, n)
      .where(mightContain)
      .join(evalSh, Seq("sh")) // exact confirm; count-distinct dedups
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
      .orderBy("doc_id")
    Scoped(res)(evalSh.unpersist(blocking = false))
  }

  /** Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    * Models" §A1.1): per-document word-level metrics and the composite
    * keep verdict — word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#` and `...`), fraction of words with an
    * alphabetic character, and a minimum stop-word count.
    *
    * Shape for scale: ONE token explode feeding ONE hash aggregation
    * with map-side partial combine (the repetitionFilter shape minus
    * the window — no ordering is needed, so tokens go straight from
    * the explode into the aggregate). Every metric is a codegen'd
    * builtin over the token rows; ratios are single double divisions
    * of exact long operands (oracle-stable). Thresholds are Gopher's
    * published values by default; testdata docs are short word soup,
    * so driver queries lower `minWords`. */
  def gopherQuality(docs: DataFrame,
                    minWords: Long = 50, maxWords: Long = 100000,
                    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
                    minStopWords: Long = 2): DataFrame = {
    val stats = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("sum_len"),
        count(when(col("w").rlike("[a-z]"), true)).as("n_alpha"),
        count(when(col("w").isInCollection(GopherStop), true)).as("n_stop"),
        // '#' chars and non-overlapping '...' runs, counted by length
        // delta under replace — both engines share these semantics
        sum(hashChars(col("w"))).as("hash_chars"),
        sum(ellChars(col("w"))).as("ell_chars"))
    gopherVerdict(stats, 1, minWords, maxWords, minMeanLen,
      maxMeanLen, maxSymbolRatio, minAlphaFrac, minStopWords)
      .orderBy("doc_id")
  }

  /** `gopherQuality`'s columns for each ROW of `docs`, from the row's
    * own token array with higher-order functions: no explode, no
    * shuffle. `carry` columns lead the output. Equal to the grouped
    * form for a frame whose doc_ids are unique; a null-text row gets
    * null metrics and a null verdict (the grouped form has no row for
    * it). */
  private[graft] def gopherRows(docs: DataFrame, carry: Seq[Column],
                                minWords: Long = 50, maxWords: Long = 100000,
                                minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                                maxSymbolRatio: Double = 0.1,
                                minAlphaFrac: Double = 0.8,
                                minStopWords: Long = 2): DataFrame = {
    val w = toks(col("text"))
    def n(a: Column) = when(a.isNotNull, size(a).cast("long"))
    def total(f: Column => Column) = aggregate(w, lit(0L), (acc, x) => acc + f(x))
    val stats = docs.select(carry ++ Seq(
      n(w).as("n_words"),
      total(length).as("sum_len"),
      n(filter(w, _.rlike("[a-z]"))).as("n_alpha"),
      n(filter(w, _.isInCollection(GopherStop))).as("n_stop"),
      total(hashChars).as("hash_chars"),
      total(ellChars).as("ell_chars")): _*)
    gopherVerdict(stats, carry.length, minWords,
      maxWords, minMeanLen, maxMeanLen, maxSymbolRatio, minAlphaFrac, minStopWords)
  }

  private val GopherStop =
    Seq("the", "a", "and", "of", "to", "in", "is", "that", "with", "for")
  private def hashChars(w: Column): Column = length(w) - length(translate(w, "#", ""))
  private def ellChars(w: Column): Column =
    length(w) - length(regexp_replace(w, "\\.\\.\\.", ""))

  // per-doc word counts (n_words, sum_len, n_alpha, n_stop, hash_chars,
  // ell_chars; exact longs) after `nCarry` leading columns → those
  // columns, the ratio columns and the keep verdict
  private def gopherVerdict(stats: DataFrame, nCarry: Int,
                            minWords: Long, maxWords: Long,
                            minMeanLen: Double, maxMeanLen: Double,
                            maxSymbolRatio: Double, minAlphaFrac: Double,
                            minStopWords: Long): DataFrame =
    stats.select(stats.columns.take(nCarry).map(col).toIndexedSeq ++ Seq(col("n_words"),
        (col("sum_len") / col("n_words")).as("mean_word_len"),
        ((col("hash_chars") + expr("ell_chars div 3")) / col("n_words")).as("symbol_ratio"),
        (col("n_alpha") / col("n_words")).as("alpha_frac"),
        col("n_stop")): _*)
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop") >= minStopWords)

  /** Context-window chunking: split each document into `maxLen`-token
    * windows every `stride` tokens — the step between token-budget
    * sharding (`tokenPack`) and actual sequence assembly. With
    * `stride = maxLen` (default) the windows tile the document
    * (pretraining chunks); with `stride < maxLen` they overlap
    * (RAG-style passage extraction, where boundary-straddling content
    * must appear whole in some window). A pure projection + one
    * `sequence` explode (rows out = windows in the corpus, no shuffle
    * except the deterministic output sort): each row carries its
    * 0-based index, token offset, and length, so a downstream
    * tokenizer slices text without re-counting. Integer-only
    * arithmetic (`div`, not floor-of-double): window counts stay
    * exact past 2^53 corpus tokens. Windows = 1 + ⌈max(0, n − maxLen)
    * / stride⌉, so every doc emits at least one row and the last
    * window always reaches the document's end. */
  def chunkSplit(docs: DataFrame, maxLen: Int, stride: Int = 0): DataFrame = {
    val st = if (stride <= 0) maxLen else stride
    require(st <= maxLen, "stride beyond maxLen would skip tokens")
    docs.select(col("doc_id"), size(toks(col("text"))).as("n_tok"))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          expr(s"(greatest(0, n_tok - $maxLen) + $st - 1) div $st").cast("int"))))
      .select(col("doc_id"), col("chunk_id"), col("n_tok"),
        (col("chunk_id") * st).as("tok_start"),
        least(lit(maxLen), col("n_tok") - col("chunk_id") * st).as("tok_len"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Inter-document duplicated `n`-gram fraction (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the corpus-level companion to `repetitionFilter`'s intra-doc
    * metrics): for each document, the fraction of its shingle
    * OCCURRENCES whose shingle also appears in at least one other
    * document. High fractions mark boilerplate/templated docs that
    * near-dup pair joins miss (the duplication is many-way diffuse,
    * not pairwise).
    *
    * Shape for scale: flat shingle rows → (doc, shingle) counts with
    * map-side combine → shingle document-frequency over that already-
    * reduced frame (never the raw occurrence rows) → join back on the
    * shingle key → per-doc totals. All four stages are hash
    * aggregations/joins on bounded-width rows; nothing materializes
    * per-doc arrays. The doc-frequency frame is corpus-vocabulary
    * sized; at 100 TB both sides of the shingle join shuffle on the
    * same key, so AQE plans a co-partitioned sort-merge with no
    * replication.
    *
    * The scope releases the persisted (doc, shingle)-count frame. The
    * result frame is corpus-sized, so it can't be driver-localized the
    * way `tfidfTopK`'s bounded top-k can; the frame stays CORRECT after
    * release (the plan re-derives the shingle counts; only the cache
    * entry is dropped). The join-back shape (doc-frequency agg +
    * equi-join, not a count window over `sh`) is deliberate: a boilerplate shingle present in
    * most docs would put the whole corpus in one window partition,
    * while the join form pre-reduces with map-side combine and lets
    * AQE split the skewed probe side. */
  def dupNgramFraction(docs: DataFrame, n: Int = 3,
                       threshold: Double = 0.6): Scoped[DataFrame] = {
    // consumed twice (doc-frequency agg + the join-back): persist and
    // materialize so the shingle explode/window pipeline runs ONCE —
    // Spark re-executes shared subplans otherwise (the minhash
    // signatures pattern; Verify/Bench release between queries)
    val perDocSh = shingleRows(docs, n)
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    perDocSh.count()
    // one row per (doc, shingle) upstream, so doc frequency = count(*)
    val docFreq = perDocSh.groupBy("sh").agg(count(lit(1)).as("nd"))
    val res = perDocSh.join(docFreq, Seq("sh"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_shingles"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") / col("n_shingles")).as("shared_frac"))
      .withColumn("keep", col("shared_frac") < threshold)
      .orderBy("doc_id")
    Scoped(res)(perDocSh.unpersist(blocking = false))
  }

  /** N-gram language-model quality scoring (Wenzek et al. 2020, CCNet
    * §4.3 — the perplexity filter every web-scale pipeline runs, here
    * with the LM trained by the engine itself instead of a shipped
    * KenLM binary): fit a Laplace-smoothed bigram model on `train`,
    * score each `docs` row by its mean bigram probability, the
    * monotone perplexity proxy (higher = more train-like; CCNet
    * buckets head/middle/tail on exactly this ordering).
    *
    * Floating-point log-likelihoods would break the oracle hash (libm
    * `ln` differs across engines in the last ulp), so probabilities
    * are FIXED-POINT: each conditional is materialized as
    * ppm = ((c12 + 1) · 10⁶) div (c1 + V) — integer division of exact
    * longs, identical in any engine — and a document's score is ONE
    * double division of exact operands, Σppm / (n_bigrams · 10⁶).
    * Unseen bigrams back off through the same formula (c12 = 0, and
    * c1 = 0 when the context word itself is novel), so held-out text
    * scores without special cases.
    *
    * Shape for scale: both sides reduce to per-(doc,)bigram COUNT
    * frames before any join (map-side combine); the model join is
    * co-partitioned on the bigram key; V and the unigram context
    * counts ride along as one broadcast row + a model-sized frame.
    * Scoring the training corpus itself re-derives the doc-bigram
    * frame once per side; the training side is persisted (the shared
    * subplan of model, contexts and vocab) and the scope releases it. */
  def lmQualityScore(docs: DataFrame, train: DataFrame): Scoped[DataFrame] = {
    def docBigrams(df: DataFrame): DataFrame = {
      // the lead-window needs a doc_id exchange anyway — take it on the
      // RAW docs (fewer bytes than the exploded token rows, §2.3
      // project-early) at pinned width, so tokenization runs post-
      // shuffle at full parallelism instead of fused into the scan's
      // split count, and the window reuses the one exchange
      val tok = graft.core.Layout.pinWidth(
          df.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
      tok.withColumn("w2",
          lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
        .where(col("w2").isNotNull)
        .groupBy(col("doc_id"), col("w").as("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
    }
    val trainB = docBigrams(train)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainB.count()
    val model = trainB.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))
    val contexts = model.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = model.agg(countDistinct(col("w2")).as("v"))
    val res = docBigrams(docs)
      .join(model, Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("c"),
        expr("((coalesce(c12, 0L) + 1L) * 1000000L) div (coalesce(c1, 0L) + v)")
          .as("ppm"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_ppm") / (col("n_bigrams") * lit(1000000L))).as("score"))
      .orderBy("doc_id")
    Scoped(res)(trainB.unpersist(blocking = false))
  }

  /** One-call end-to-end curation — the curation counterpart of
    * `Dedup.dedupCorpus` (q95): raw docs → Gopher quality gate → exact
    * dedup (keep min doc_id per content hash) → optional MinHash
    * NEAR-dup dedup → deterministic train/val/test split → token
    * packing of the train split. The output IS the training manifest:
    * one row per surviving doc with its split, token count, and
    * (train only) shard id.
    *
    * Every stage is an already-green operator (q88/q35/[q95]/q79/q83),
    * so the exact-only pipeline hash-checks against the composition of
    * their oracles; with `nearDup = true` the q95 stage (LSH bands →
    * Jaccard verify → connected components → keep-min) runs between
    * exact dedup and the split — the order real pipelines use: the
    * cheap hash agg halves the corpus before signatures are computed.
    * `TrainingDataSpec` pins the nearDup keep-set against composing
    * `Dedup.dedupCorpus` by hand. The exact-only path persists nothing;
    * with `nearDup` the scope releases every persist of the near-dup
    * stage. */
  def curateCorpus(docs: DataFrame, budget: Long,
                   minWords: Long = 30, nearDup: Boolean = false,
                   nearDupThreshold: Double = 0.5): Scoped[DataFrame] = {
    val kept = gopherQuality(docs, minWords = minWords)
      .where(col("keep")).select("doc_id")
    val survivors = docs.join(kept, Seq("doc_id"))
    val canonical = survivors
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exactCanon0 = docs.join(canonical, Seq("doc_id"))
    // dedupCorpus consumes its input 4× (signatures, candidate
    // re-shingle, component id-filter, final join-back) and Spark never
    // reuses the subplan across those branches — unpersisted, the
    // gopher gate + md5 agg pipeline ran 4× (round-14 job profile on
    // q118). Persist the exact-dedup corpus while the near-dup stage
    // reads it; the exact-only path stays unpersisted (one cheap
    // consumer chain).
    def persisted(df: DataFrame): Scoped[DataFrame] = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Scoped(p)(p.unpersist(blocking = false))
    }
    // `canon` has two consumers (the split-key projection and the
    // join-back) and `withSplit` two more (pack + final manifest): an
    // unpersisted near-dup stage would re-run the whole LSH→verify→CC
    // pipeline up to 4×. Persist the deduped corpus when that stage is
    // on — real pipelines materialize the post-dedup corpus anyway;
    // the exact-only path's canon is one cheap hash agg, not worth a
    // cache write. The returned scope releases the deduped corpus, the
    // near-dup stage's own persists, then the exact-dedup corpus.
    val canon =
      if (!nearDup) Scoped.pure(exactCanon0)
      else persisted(exactCanon0).flatMap(exactCanon =>
        graft.operators.Dedup.dedupCorpus(exactCanon, nearDupThreshold).flatMap(persisted))
    canon.map { canon =>
      val withSplit = canon.join(hashSplit(canon.select("doc_id", "text")),
        Seq("doc_id"))
      val packed = tokenPack(withSplit.where(col("split") === "train"), budget)
        .select(col("doc_id"), col("shard"))
      withSplit
        .select(col("doc_id"), col("split"), size(toks(col("text"))).as("n_tok"))
        .join(packed, Seq("doc_id"), "left")
        .select("doc_id", "split", "n_tok", "shard")
        .orderBy("doc_id")
    }
  }

  /** Snapshot diff between two corpus versions by content hash — the
    * dataset-versioning audit (the reference's incremental-merge/
    * conditional-fetch reuse ladder, lifted to whole corpora): every
    * doc_id in either snapshot gets a status — `added` (new only),
    * `removed` (old only), `changed` (both, hash differs), `unchanged`.
    * md5 content hashes (not xxhash) so the verdict is engine-portable;
    * one full outer join on the id, no text ever compared byte-wise
    * twice. */
  def corpusDiff(old: DataFrame, nu: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), md5(col("text").cast("binary")).as("h_old"))
    val n = nu.select(col("doc_id"), md5(col("text").cast("binary")).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy("doc_id")
  }

  /** Per-eval-item contamination report — the AUDIT face of
    * `decontaminate`: instead of dropping leaky corpus docs, report for
    * every eval doc how widely it leaked (how many corpus docs share at
    * least `minShared` distinct k-shingles, and the largest single-doc
    * overlap). Eval sets are small → the shingle join broadcasts the
    * eval side; corpus shingles stream past it, one agg each side. */
  def evalLeakReport(corpus: DataFrame, eval: DataFrame, k: Int,
                     minShared: Long): DataFrame = {
    val cs = shingleRows(corpus, k).select(col("doc_id"), col("sh")).distinct()
    val es = shingleRows(eval, k)
      .select(col("doc_id").as("eval_id"), col("sh")).distinct()
    val pairs = cs.join(broadcast(es), Seq("sh"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_leaky_docs"), max(col("shared")).as("max_shared"))
    eval.select(col("doc_id").as("eval_id"))
      .join(pairs, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy("eval_id")
  }

  /** Cross-source k-gram containment matrix — the dataset-mixing audit
    * run before combining corpora: for every ordered source pair
    * (a, b), how much of a's distinct k-gram set also appears in b
    * (`containment_ppm = |A∩B| / |A|`, fixed-point ppm). High
    * containment flags sources that duplicate each other (mirrors,
    * scrapes of the same site) BEFORE near-dup dedup pays to find the
    * pairs doc by doc; the same statistic at corpus granularity is the
    * Lee et al. cross-split contamination check.
    *
    * Shape for scale: distinct (source, gram) rows (one agg), totals
    * (one agg), and an equi-join on the gram key — shuffle-partitioned
    * on `sh`, so universal boilerplate grams are the skew keys and AQE
    * splits them; nothing is ever pairwise in docs. */
  def sourceOverlap(docs: DataFrame, k: Int = 5): DataFrame = {
    // raw-docs doc_id exchange at pinned width (see docBigrams)
    val tok = graft.core.Layout.pinWidth(
        docs.select(col("doc_id"), col("source"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(toks(col("text"))).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = (1 until k).foldLeft(tok) { (d, i) =>
      d.withColumn(s"w$i", lead(col("w"), i).over(wDoc))
    }
    val sg = withNext.where(col(s"w${k - 1}").isNotNull)
      .select(col("source"),
        concat_ws(" ", (col("w") +: (1 until k).map(i => col(s"w$i"))): _*).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sg.count()
    val totals = sg.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val shared = sg.select(col("source").as("src_a"), col("sh"))
      .join(sg.select(col("source").as("src_b"), col("sh")), Seq("sh"))
      .where(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    val res = shared
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n_grams").as("grams_a"))), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("grams_a"), col("shared"),
        expr("(shared * 1000000L) div grams_a").as("containment_ppm"))
      .orderBy("src_a", "src_b")
    // bounded at |sources|² rows: localize and release
    Scoped(res)(sg.unpersist(blocking = false)).localize
  }

  /** Sketch twin of `sourceOverlap` (q111 ↔ q146, completing the
    * exact↔sketch ladders: distinct q139↔q143, quantiles q131↔q145,
    * set OVERLAP here): cross-source k-gram containment estimated
    * with DataSketches THETA set algebra — |A ∩ B| from per-source
    * sketches, never joining gram sets at all. One tokenize pass →
    * one sketch row per source (bounded KBs) → an S×S broadcast cross
    * of the sketch frame. At 100 TB the exact form's gram equi-join
    * shuffles every shared gram; this moves S sketches. Theta is
    * EXACT below its nominal capacity (4096 retained hashes), so
    * `TrainingDataSpec` pins equality with the exact q111 matrix on
    * the driver corpus, plus determinism. */
  def sourceOverlapSketch(docs: DataFrame, k: Int = 5): DataFrame = {
    // raw-docs doc_id exchange at pinned width (see docBigrams)
    val tok = graft.core.Layout.pinWidth(
        docs.select(col("doc_id"), col("source"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(toks(col("text"))).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = (1 until k).foldLeft(tok) { (d, i) =>
      d.withColumn(s"w$i", lead(col("w"), i).over(wDoc))
    }
    val sk = withNext.where(col(s"w${k - 1}").isNotNull)
      .select(col("source"),
        concat_ws(" ", (col("w") +: (1 until k).map(i => col(s"w$i"))): _*).as("sh"))
      .groupBy("source")
      .agg(expr("theta_sketch_agg(sh)").as("sk"))
    val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"))
    a.crossJoin(broadcast(b))
      .where(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("theta_sketch_estimate(sk_a)").as("grams_a_est"),
        expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
          .as("shared_est"))
      .withColumn("containment_est_ppm",
        expr("(shared_est * 1000000L) div greatest(grams_a_est, 1L)"))
      .orderBy("src_a", "src_b")
  }

  /** Model-based quality filtering — the GPT-3/LLaMA "quality
    * classifier" stage (Brown et al. 2020, App. A): train a logistic
    * regression on WEAK LABELS (a rule verdict or a reference-corpus
    * membership bit on a labeled slice — here typically
    * `gopherQuality`'s keep column), then score EVERY doc with a soft
    * quality probability. This distills hard threshold rules into a
    * calibrated ranker: borderline docs get ordered, not guillotined,
    * and the cut point becomes a corpus-level budget decision.
    *
    * Features are the interpretable per-doc statistics the rule family
    * already uses — token count, mean word length, stopword fraction,
    * distinct-token ratio, max-token-frequency fraction — computed in
    * a two-level hash agg (per-(doc,token) counts first, the q81
    * shape). Training is MLlib L-BFGS logistic regression: per
    * iteration one treeAggregate over the labeled slice; the model is
    * a coefficient vector that broadcasts into a single scoring
    * projection. Rows-only at the driver gate (iteratively-fitted
    * float probabilities have no DuckDB analog); `TrainingDataSpec`
    * pins held-out rule agreement and determinism. */
  def qualityClassifier(docs: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val f = qcFeatures(docs).withColumn("features", array_to_vector(col("f")))
    val train = f.join(labels, Seq("doc_id")).select(col("features"), col("label"))
    val model = new LogisticRegression()
      .setMaxIter(100).setRegParam(0.01).setStandardization(true)
      .fit(train)
    model.transform(f)
      .select(col("doc_id"),
        vector_to_array(col("probability")).getItem(1).as("p_good"))
      .orderBy("doc_id")
  }

  /** Bag-of-tokens LINEAR classifier weights in fixed point — the
    * oracle-exact counterpart of `qualityClassifier` (which is MLlib
    * logistic regression, rows-only by nature) and the engine's
    * fastText-shaped stage (Joulin et al. 2017: linear text
    * classifiers match deep ones on corpus-curation-scale tasks;
    * CCNet/GPT-3 route quality and language filtering through exactly
    * this kind of model). Each token's weight is the DIFFERENCE of its
    * Laplace-smoothed class conditionals, materialized fixed-point:
    * w = (c_pos+1)·10⁶ div (N_pos+V) − (c_neg+1)·10⁶ div (N_neg+V) —
    * integer division of exact longs (the q100 `lmQualityScore`
    * discipline: libm `ln` differs across engines in the last ulp, so
    * the NB log-odds is replaced by the probability difference, a
    * log-free linear surrogate that ranks identically when classes
    * separate on vocabulary). Output: one row per training token,
    * (w, c_pos, c_neg, w_ppm), deterministic order.
    *
    * Shape for scale: one explode → one hash agg per (token) with
    * map-side combine; totals ride a broadcast 1-row frame. The model
    * is vocabulary-sized — the broadcastable side of every consumer. */
  def nbTokenWeights(docs: DataFrame, labels: DataFrame): DataFrame = {
    val counts = docs.join(labels, Seq("doc_id"))
      .select(col("label"), explode(toks(col("text"))).as("w"))
      .groupBy("w")
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("c_neg"))
    val tot = counts.agg(sum(col("c_pos")).as("np"),
      sum(col("c_neg")).as("nn"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("w"), col("c_pos"), col("c_neg"),
        expr("((c_pos + 1L) * 1000000L) div (np + v) - ((c_neg + 1L) * 1000000L) div (nn + v)")
          .as("w_ppm"))
      .orderBy("w")
  }

  /** Train-and-score face of `nbTokenWeights`: fit the fixed-point
    * token weights on the LABELED slice, score EVERY document as
    * score = Σ c_t · w_ppm(t) (a long — no floating point anywhere),
    * predict positive when score > 0 (the prior-free threshold).
    * Unseen tokens back off through the same smoothed formula
    * (c_pos = c_neg = 0), so held-out text scores without special
    * cases — the `lmQualityScore` unseen-bigram pattern.
    *
    * Shape for scale: per-(doc, token) counts reduce BEFORE the model
    * join (map-side combine); the model is vocabulary-sized and
    * BROADCAST; one final per-doc hash agg. The scored corpus is never
    * shuffled on anything but doc_id. */
  def tokenClassifier(docs: DataFrame, labels: DataFrame): Scoped[DataFrame] = {
    val tc = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tc.count()
    val counts = tc.join(labels, Seq("doc_id"))
      .groupBy("w")
      .agg(sum(when(col("label"), col("c")).otherwise(0L)).as("c_pos"),
        sum(when(!col("label"), col("c")).otherwise(0L)).as("c_neg"))
    val tot = counts.agg(sum(col("c_pos")).as("np"),
      sum(col("c_neg")).as("nn"), count(lit(1)).as("v"))
    val weights = counts.select(col("w"), col("c_pos"), col("c_neg"))
    val res = tc
      .join(broadcast(weights), Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("c"),
        expr("""((coalesce(c_pos, 0L) + 1L) * 1000000L) div (np + v)
                - ((coalesce(c_neg, 0L) + 1L) * 1000000L) div (nn + v)""")
          .as("w_ppm"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * col("w_ppm")).as("score"))
      .select(col("doc_id"), col("n_tok"), col("score"),
        (col("score") > 0L).as("pred"))
      .orderBy("doc_id")
    Scoped(res)(tc.unpersist(blocking = false))
  }

  /** MULTICLASS token classifier — the CENTROID (Rocchio) form: one
    * L1-normalized unigram centroid per class in exact ppm ints,
    * every doc argmax-scored against all classes with pure integer
    * arithmetic, deterministic ties (lexicographically smallest
    * class) — so the whole train-and-predict loop hash-checks (q178).
    * The learned sibling of the heuristic lang-ID (q33).
    *
    * Why centroid, not multiclass NB: proper NB needs Σ c_t·log p̂ —
    * floats whose libm differs across engines — and the linear-ppm
    * surrogate that works for the BINARY classifier (q163/q164 scores
    * a DIFFERENCE, where the smoothing floors cancel) is biased
    * multiclass: the add-one floor 1/(n_c + v) is larger for smaller
    * classes, so every token pushes toward the rarest label (measured
    * on the corpus: accuracy 0.34 vs the 0.39 majority baseline).
    * The centroid form has no floor — w_ppm(t, c) = (count(t, c)·10⁶)
    * div n_c, Σ_t w_ppm(t, c) ≈ 10⁶ for every class — and is the
    * standard integer-safe multiclass scorer.
    *
    * Score_c(d) = Σ_t c_t·w_ppm(t, c) over tokens the class saw in
    * training (absent (t, c) terms are exactly 0, so the model stays
    * SPARSE and the join is an inner join); `n_seen` reports the
    * winning class's covered-token count; a doc sharing no token with
    * any centroid falls back to the smallest class at score 0.
    * Prediction quality tracks class SEPARATION in token space — the
    * spec pins perfect held-out prediction on vocabulary-tilted
    * classes; the driver corpus's shared 31-word vocabulary is nearly
    * signal-free for lang-ID, so q178 pins the exact loop, not
    * accuracy.
    *
    * Shapes for scale: per-(doc, token) counts reduce BEFORE the model
    * join (map-side combine); the sparse centroid table rides a
    * broadcast (vocabulary-bounded — cap like `bpeMerges` if labels
    * are web-scale); the argmax window is keyed by doc_id,
    * corpus-parallel. `labels`: (doc_id, cls: string). Output:
    * (doc_id, pred, n_seen, score), deterministic order. */
  def multiClassifier(docs: DataFrame, labels: DataFrame): Scoped[DataFrame] = {
    val tc = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tc.count()
    val counts = tc.join(labels, Seq("doc_id"))
      .groupBy("w", "cls").agg(sum(col("c")).as("cwc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clsTot = counts.groupBy("cls").agg(sum(col("cwc")).as("n_c"))
    // Validate BEFORE the happy path continues — but the two frames
    // above are already persisted, so a throw here must release them
    // or the dead cache entries swap into other suites' plan audits
    // (the round-6 CacheManager hazard).
    val minCls =
      try {
        val minClsRow = clsTot.agg(min(col("cls"))).head()
        require(!minClsRow.isNullAt(0),
          "labels is empty or shares no doc_id with docs — every prediction " +
            "would be null; fix the label join instead")
        minClsRow.getString(0)
      } catch {
        case e: Throwable =>
          tc.unpersist(blocking = false)
          counts.unpersist(blocking = false)
          throw e
      }
    val model = counts.join(broadcast(clsTot), Seq("cls"))
      .select(col("w"), col("cls"),
        expr("(cwc * 1000000L) div n_c").as("w_ppm"))
    val scores = tc.join(broadcast(model), Seq("w"))
      .groupBy("doc_id", "cls")
      .agg(sum(col("c")).as("n_seen"),
        sum(col("c") * col("w_ppm")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cls").asc)))
      .where(col("rn") === 1)
    val res = docs.select(col("doc_id")).distinct()
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cls"), lit(minCls)).as("pred"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        coalesce(col("score"), lit(0L)).as("score"))
      .orderBy("doc_id")
    // the result is materialized here, so the scope owns only it
    Scoped(res) {
      tc.unpersist(blocking = false)
      counts.unpersist(blocking = false)
    }.materialize
  }

  /** Per-doc quality features for `qualityClassifier`: two-level agg
    * (token counts per doc first) so max-token frequency needs no
    * window; emits (doc_id, f: array<double>). */
  private def qcFeatures(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "that", "with", "for")
    docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n"),
        sum(col("c") * length(col("w"))).as("sl"),
        sum(when(col("w").isInCollection(stop), col("c")).otherwise(0L)).as("ns"),
        count(lit(1)).as("nd"),
        max(col("c")).as("maxc"))
      .select(col("doc_id"), array(
        col("n").cast("double"),
        (col("sl") / col("n")).cast("double"),
        (col("ns") / col("n")).cast("double"),
        (col("nd") / col("n")).cast("double"),
        (col("maxc") / col("n")).cast("double")).as("f"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): fit bag-of-bigram
    * models on a TARGET slice and on the RAW corpus, weight every raw
    * doc by how much more target-like than raw-like its features are,
    * keep the top `n`. The reference's curation layer has no analog —
    * this is the pipeline op a pretraining-data team runs to upsample
    * domain-matched text.
    *
    * The paper hashes features into 10⁴ buckets and ranks docs by the
    * log-likelihood ratio Σ c_f·log(p_f/q_f); this form keeps exactness
    * for the oracle gate with two substitutions, both documented:
    * the bigram string itself is the feature (`hashBuckets > 0`
    * switches to the paper's hashed space — xxhash64 mod B, the 100 TB
    * memory shape, spec-pinned against the exact form), and the
    * log-ratio is replaced by its fixed-point probability-difference
    * surrogate Σ c_f·(ppm_p − ppm_q) (Laplace-smoothed probabilities in
    * integer ppm, the `lmQualityScore` discipline) so weights are
    * BIGINT-exact. Both smoothings share the raw vocabulary size V, so
    * p and q live on the same scale.
    *
    * Shape for scale: two bag-of-feature aggs (map-side combined), one
    * join of doc features to the two models on the feature key, one
    * per-doc agg, TakeOrdered for the top-n. The model frames are
    * vocabulary-sized (tiny next to the corpus) — broadcast candidates
    * at real scale; nothing materializes per-doc vectors. */
  def dsirSelect(docs: DataFrame, target: DataFrame, n: Int,
                 hashBuckets: Int = 0): Scoped[DataFrame] = {
    def feats(df: DataFrame): DataFrame = {
      // raw-docs doc_id exchange at pinned width (see docBigrams)
      val tok = graft.core.Layout.pinWidth(
          df.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          posexplode(toks(col("text"))).as(Seq("pos", "w")))
      tok.withColumn("w2",
          lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
        .where(col("w2").isNotNull)
        .select(col("doc_id"),
          (if (hashBuckets > 0)
             pmod(xxhash64(concat_ws(" ", col("w"), col("w2"))),
               lit(hashBuckets.toLong)).cast("string")
           else concat_ws(" ", col("w"), col("w2"))).as("f"))
        .groupBy("doc_id", "f")
        .agg(count(lit(1)).as("c"))
    }
    val rawF = feats(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rawF.count()
    val rawModel = rawF.groupBy("f").agg(sum(col("c")).as("cr"))
    val tgtModel = feats(target).groupBy("f").agg(sum(col("c")).as("ct"))
    // single-row constants: raw total + vocab, target total
    val consts = rawModel.agg(sum(col("cr")).as("tot_r"), count(lit(1)).as("v"))
      .crossJoin(tgtModel.agg(coalesce(sum(col("ct")), lit(0L)).as("tot_t")))
    // broadcast the MODEL side explicitly: statically the persisted
    // per-doc feature frame can look smaller than the unsized aggs and
    // get picked as build side (the round-3 explode-broadcast trap) —
    // but models are vocabulary-sized, and hashed mode bounds them at
    // `hashBuckets` rows by design
    val res = rawF
      .join(broadcast(tgtModel), Seq("f"), "left")
      .join(broadcast(rawModel), Seq("f"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("c"),
        expr("((coalesce(ct, 0L) + 1L) * 1000000L) div (tot_t + v)").as("pt"),
        expr("((cr + 1L) * 1000000L) div (tot_r + v)").as("pr"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * (col("pt") - col("pr"))).as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(n)
    Scoped(res)(rawF.unpersist(blocking = false))
  }

  /** Threshold-free evaluation of a per-document quality score against
    * binary keep labels: ROC-AUC via the exact Mann–Whitney rank-sum
    * (ties at average rank) plus R-precision (label fraction of the
    * top-P scored docs, P = positive count). The metric a curation
    * pipeline reports when it swaps scorers (LM perplexity vs Gopher
    * rules vs a trained classifier) — one number, no threshold sweep.
    *
    * Exactness: AUC = Σ_g np_g·(2·neg_below_g + nn_g) / (2·P·N) over
    * DISTINCT-score groups g in ascending score order — every operand
    * is an exact long count, so the result is one double division of
    * exact operands (the oracle rule). No per-pair join: grouping by
    * score first is MLlib BinaryClassificationMetrics' shape, and the
    * cumulative window runs over the distinct-score frame, not the
    * corpus. R-precision is computed the same way: whole score groups
    * above the top-P cutoff contribute their positive counts from the
    * distinct-score frame, and only the ONE group straddling the
    * cutoff is resolved per-row — with a window PARTITIONED by score,
    * so no corpus-sized single-partition sort exists anywhere in the
    * plan (pinned by `PlanAuditSpec`: every empty-partition window
    * here is over the aggregated score frame, never over doc rows).
    *
    * `scored`: (doc_id, score); `labels`: (doc_id, label ∈ {0,1}).
    * Output: one row (n_pos, n_neg, auc, prec_at_pos). */
  def scoreAuc(scored: DataFrame, labels: DataFrame): Scoped[DataFrame] = {
    val j = scored.select(col("doc_id"), col("score"))
      .join(labels.select(col("doc_id"),
        col("label").cast("long").as("label")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    j.count()
    // distinct-score cumulative frame: positives/negatives per score
    // group, negatives strictly below (asc), rows strictly above
    // (desc). Both windows run over the aggregated frame — group
    // count, not corpus count — and feed AUC and R-precision alike.
    val wLess = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wMore = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = j.groupBy("score")
      .agg(sum(col("label")).as("np"),
        (count(lit(1)) - sum(col("label"))).as("nn"))
      .withColumn("neg_below", coalesce(sum(col("nn")).over(wLess), lit(0L)))
      .withColumn("above",
        coalesce(sum(col("np") + col("nn")).over(wMore), lit(0L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cum.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
      sum(col("np") * (lit(2L) * col("neg_below") + col("nn"))).as("s2"))
    // R-precision hits = positives of score groups wholly inside the
    // top-P prefix + labels of the first (n_pos − above) doc_id-ordered
    // rows of the single straddling group (resolved with a window
    // PARTITIONED by that score — never a global per-row sort)
    val full = cum.crossJoin(broadcast(tot))
      .where(col("above") + col("np") + col("nn") <= col("n_pos"))
      .select(col("n_pos"), col("n_neg"), col("s2"), col("np").as("h"))
    val bnd = cum.crossJoin(broadcast(tot))
      .where(col("above") < col("n_pos") &&
        col("above") + col("np") + col("nn") > col("n_pos"))
      .select(col("score"), (col("n_pos") - col("above")).as("take"),
        col("n_pos"), col("n_neg"), col("s2"))
    val bhits = j.join(broadcast(bnd), Seq("score"))
      .withColumn("rw", row_number().over(
        Window.partitionBy("score").orderBy("doc_id")).cast("long"))
      .where(col("rw") <= col("take"))
      .select(col("n_pos"), col("n_neg"), col("s2"), col("label").as("h"))
    val res = full.unionByName(bhits)
      .groupBy(col("n_pos"), col("n_neg"), col("s2"))
      .agg(sum(col("h")).as("hits"))
      .select(col("n_pos"), col("n_neg"),
        (col("s2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"),
        (col("hits").cast("double") / col("n_pos")).as("prec_at_pos"))
    Scoped(res) { cum.unpersist(blocking = false); j.unpersist(blocking = false) }
  }

  /** Calibration companion to `scoreAuc`: bucket the scored corpus
    * into `bins` equal-count quantile bins (ntile over (score,
    * doc_id) — deterministic under ties) and report each bin's size,
    * positive count, positive rate, and score range. A monotone
    * pos_rate ladder means the score ranks quality even where its
    * absolute values are uncalibrated — the check run before using a
    * score as a sampling weight (soft dedup / DSIR style) rather than
    * a threshold. All counts are exact longs; pos_rate is one double
    * division; the bin edges are min/max of carried doubles (no
    * averaging, so the row hash-checks exactly).
    *
    * Bin assignment is EXACTLY ntile(bins) over (score, doc_id) — but
    * computed without a global per-row sort: the global rank is
    * (rows in strictly-lower score groups, a cumulative window over
    * the DISTINCT-score frame) + (row_number PARTITIONED by score,
    * doc_id-ordered), and ntile's quota arithmetic (first n%bins
    * buckets take n/bins+1 rows) is a closed-form integer expression
    * of that rank. Same result bit-for-bit, no single-partition
    * corpus sort (pinned by `PlanAuditSpec` alongside `scoreAuc`). */
  def scoreCalibration(scored: DataFrame, labels: DataFrame,
                       bins: Int = 10): Scoped[DataFrame] = {
    val j = scored.select(col("doc_id"), col("score"))
      .join(labels.select(col("doc_id"),
        col("label").cast("long").as("label")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    j.count()
    val wBelow = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = j.groupBy("score").agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum(col("cnt")).over(wBelow), lit(0L)))
      .select("score", "below")
    val tot = j.agg(count(lit(1)).as("n_rows"))
    val res = j.join(off, Seq("score"))
      .crossJoin(broadcast(tot))
      .withColumn("rw", row_number().over(
        Window.partitionBy("score").orderBy("doc_id")).cast("long"))
      .withColumn("i", col("below") + col("rw"))
      // ntile quota: qq = n div bins rows per bucket, first rr = n %
      // bins buckets take one extra (greatest(qq, 1) guards the
      // unevaluated branch when n < bins, where every rank is its own
      // bin via the first branch)
      .withColumn("qq", expr(s"n_rows div ${bins}L"))
      .withColumn("rr", expr(s"n_rows % ${bins}L"))
      .withColumn("bin",
        when(col("i") <= col("rr") * (col("qq") + lit(1L)),
          expr("(i - 1) div (qq + 1)") + lit(1L))
        .otherwise(col("rr") +
          expr("(i - rr * (qq + 1) - 1) div greatest(qq, 1L)") + lit(1L))
        .cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"),
        min(col("score")).as("score_lo"), max(col("score")).as("score_hi"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"),
        col("score_lo"), col("score_hi"))
      .orderBy("bin")
    Scoped(res)(j.unpersist(blocking = false))
  }

  /** Cohen's kappa agreement between two binary keep/drop filters —
    * the report a pipeline reads before swapping one quality gate for
    * another (rule-based vs model-based): raw agreement overstates
    * consensus when both filters keep almost everything, kappa
    * subtracts the chance-agreement floor. One equi-join on doc_id +
    * one 4-cell contingency agg (map-side combined, single row out);
    * kappa = (N·(n11+n00) − pe) / (N² − pe) with
    * pe = r1·c1 + r0·c0 — every operand an exact long, one double
    * division (null when the marginals are degenerate, N² = pe).
    * Inputs: (doc_id, keep) frames, e.g. `gopherQuality` vs
    * `repetitionFilter`. */
  def filterKappa(a: DataFrame, b: DataFrame): DataFrame = {
    val j = a.select(col("doc_id"), col("keep").cast("long").as("ka"))
      .join(b.select(col("doc_id"), col("keep").cast("long").as("kb")),
        Seq("doc_id"))
    val cells = j.agg(
      sum(col("ka") * col("kb")).as("n11"),
      sum(col("ka") * (lit(1L) - col("kb"))).as("n10"),
      sum((lit(1L) - col("ka")) * col("kb")).as("n01"),
      sum((lit(1L) - col("ka")) * (lit(1L) - col("kb"))).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val pe = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n00") + col("n01")) * (col("n00") + col("n10"))
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      ((col("n11") + col("n00")).cast("double") / n).as("agree_frac"),
      when(n * n - pe =!= 0L,
        (n * (col("n11") + col("n00")) - pe).cast("double") / (n * n - pe))
        .as("kappa"))
  }

  /** Token-budget mixture planner: given per-source target weights (in
    * ppm, exact integers) and a total token budget, report what each
    * source must supply and how many epochs (repeats) of its available
    * tokens that implies — the DoReMi/LLaMA-style mixture feasibility
    * check run before launching a training job. One token-count agg
    * per source + a broadcast join against the (tiny) weight table;
    * required tokens use integer `div` so the plan stays exact past
    * 2^53 corpus tokens; epochs is the single double division.
    * `oversubscribed` flags sources whose requirement exceeds supply
    * (repeating data — the signal to re-weight or ingest more). */
  def mixturePlan(docs: DataFrame, weightsPpm: Map[String, Long],
                  budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weightsPpm.toSeq.sortBy(_._1).toDF("source", "w_ppm")
    docs.select(col("source"), size(toks(col("text"))).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .join(broadcast(w), Seq("source"))
      .withColumn("required_tokens",
        expr(s"($budget * w_ppm) div 1000000"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_ppm"),
        col("required_tokens"),
        (col("required_tokens").cast("double") / col("n_tokens")).as("epochs"),
        (col("required_tokens") > col("n_tokens")).as("oversubscribed"))
      .orderBy("source")
  }
}
