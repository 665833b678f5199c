package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Persisted inverted index — the LEXICAL serving store, completing
  * the store family next to the vector side (`ivfSave`/`pqSave`/...):
  * BM25 retrieval over a parquet postings layout that supports
  * save / load / O(batch) append / streaming ingest / offline
  * compaction, with searches that read only the queried terms'
  * partitions instead of re-scanning the corpus (what `bm25TopK`
  * does per call).
  *
  * Layout at `path/`:
  *   - `postings/` — (w, doc_id, tf), partitioned by
  *     `bucket = pmod(xxhash64(w), nBuckets)`: a query for a handful
  *     of terms prunes to a handful of bucket partitions, and all
  *     postings of one term live in one bucket, so per-term document
  *     frequencies computed from the pruned read are EXACT.
  *   - `docstats/` — (doc_id, dl): per-document token length, joined
  *     only against the candidate slice at query time.
  *   - `stats/` — (batch_id, n_docs, sum_dl): one row per ingested
  *     batch; corpus constants N and avgdl aggregate this
  *     generations-sized frame, never the corpus. Keyed by batch_id so
  *     an at-least-once replay dedupes EXACTLY (the CMS-store
  *     discipline) — searches on an uncompacted store stay bit-equal.
  *   - `meta/` — (n_buckets): the BOOTSTRAP partitioning geometry.
  *     The authoritative bucket count rides INSIDE postings/
  *     (`_GEOMETRY`, stamped by save/rebalance — atomic with the data
  *     by the swap rename); probes and appends resolve marker-first
  *     and fall back to meta only for a store with no marker yet.
  *
  * Scoring is `bm25TopK`'s fixed-point integer BM25 (k1 = 1.2,
  * b = 0.75, linear Robertson idf, DECIMAL(38,0)-widened ppm
  * division) computed from the postings form — the q107 oracle
  * hash-matches a store-backed search end-to-end, including across
  * incremental appends (q166).
  *
  * Shape for scale: save/append shuffle once on the bucket column
  * (one file per touched bucket — the round-8 sliver-file rule);
  * search reads |terms| buckets, dedupes the slice (at-least-once
  * tolerance: (w, doc_id) replays collapse before df counting), joins
  * dl for candidates only, and TakeOrdereds at k. Nothing ever scans
  * text at query time.
  *
  * Reference analog: the reference's closest shape is the topical
  * substring scan at social/research_trends/pipeline.py:192-220
  * (P11/q47 — a full-text contains filter per query); this is the
  * indexed form of that access pattern. */
object Lexical {

  private def toks(c: org.apache.spark.sql.Column) = split(lower(trim(c)), " ")

  private def hadoopExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  private def bucketCol(nBuckets: Int) =
    pmod(xxhash64(col("w")), lit(nBuckets)).cast("int")

  /** Postings + docstats + one stats row for a batch of documents. */
  private def derive(docs: DataFrame, nBuckets: Int, batchId: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val postings = tok.groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketCol(nBuckets))
    val docstats = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = docstats.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(lit(batchId).as("batch_id"), col("n_docs"), col("sum_dl"))
    (postings, docstats, stats)
  }

  /** Build and persist the index for `docs` (one "batch 0"). */
  def lexSave(spark: SparkSession, docs: DataFrame, path: String,
              nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val (postings, docstats, stats) = derive(docs, nBuckets, 0L)
    postings
      // one file per bucket, not per task (pinned width — see writeLayout)
      .transform(graft.core.Stores.writeLayout(_, col("bucket")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    graft.core.Stores.stampGeometry(spark, s"$path/postings", nBuckets)
    docstats.write.mode("overwrite").parquet(s"$path/docstats")
    stats.write.mode("overwrite").parquet(s"$path/stats")
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  // the geometry in force for postings/ (`Stores.geometry`), meta's
  // n_buckets as the bootstrap
  private def postGeom(spark: SparkSession, path: String): Int = {
    require(hadoopExists(spark, s"$path/meta"),
      s"$path is not a lexSave store (missing meta/)")
    graft.core.Stores.geometry(spark, s"$path/postings",
      graft.core.Stores.memoRows(spark, s"$path/meta")._2.head.getInt(0))
  }

  /** Append a batch of NEW documents — O(batch), independent of the
    * store size (the `Similarity.appendSave` contract for text). `batchId`
    * keys the stats row so an at-least-once replay of the same batch
    * collapses exactly; streaming passes the micro-batch id. */
  def lexAppendSave(spark: SparkSession, path: String, batch: DataFrame,
                    batchId: Long): Unit = {
    val nBuckets = postGeom(spark, path)
    val (postings, docstats, stats) = derive(batch, nBuckets, batchId)
    postings
      // append path: partition count capped by the known geometry
      .transform(graft.core.Stores.writeLayout(_, nBuckets, col("bucket")))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    graft.core.Stores.stampIfAbsent(spark, s"$path/postings", nBuckets)
    docstats.write.mode("append").parquet(s"$path/docstats")
    stats.write.mode("append").parquet(s"$path/stats")
  }

  /** BM25 top-k over the saved store: reads ONLY the query terms'
    * bucket partitions (+ the tiny stats frame + the candidates' dl
    * rows). Same fixed-point score as `TextAnalysis.bm25TopK` — the
    * q107 oracle reproduces it bit-for-bit. Tolerates an uncompacted
    * at-least-once store: posting/docstat replays dedupe on read,
    * stats rows dedupe on batch_id. */
  /** The bucket-pruned postings read behind `lexSearch` — exposed
    * within the package so PlanAuditSpec can pin that the term
    * buckets reach the scan as PARTITION filters (the store exists so
    * a search never lists, let alone reads, the other buckets). */
  private[graft] def lexSlice(spark: SparkSession, path: String,
                              terms: Seq[String]): DataFrame = {
    val buckets = lexBuckets(spark, path, terms)
    lexBucketRead(spark, path, buckets)
      .where(col("bucket").isin(buckets: _*) && col("w").isin(terms: _*))
  }

  // Read ONLY the named bucket partition dirs — a full postings/ read
  // lists all nBuckets dirs before pruning, which dominated the probe
  // at corpus-scaled geometry (measured 3× the whole search at 7,500
  // buckets, SCALE.md round 12). Shared discipline: Stores.bucketRead.
  private def lexBucketRead(spark: SparkSession, path: String,
                            buckets: Seq[Int]): DataFrame = {
    val nBuckets = postGeom(spark, path)
    graft.core.Stores.bucketRead(
      spark, s"$path/postings", "bucket", buckets, nBuckets)
  }

  private def lexBuckets(spark: SparkSession, path: String,
                         terms: Seq[String]): Seq[Int] = {
    val nBuckets = postGeom(spark, path)
    terms.map(t =>
      java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), nBuckets.toLong).toInt)
      .distinct
  }

  /** Rows living in the bucket partitions a probe for `terms` must
    * read (BEFORE the term filter) — the per-probe IO volume the
    * geometry dial controls; SCALE.md "Round 10: postings geometry
    * follows the corpus" records it around a rebalance. */
  private[graft] def lexProbeRows(spark: SparkSession, path: String,
                                  terms: Seq[String]): Long = {
    val buckets = lexBuckets(spark, path, terms)
    lexBucketRead(spark, path, buckets)
      .where(col("bucket").isin(buckets: _*)).count()
  }

  def lexSearch(spark: SparkSession, path: String, terms: Seq[String],
                k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "terms must be a small literal set")
    val slice = lexSlice(spark, path, terms)
      .dropDuplicates("w", "doc_id") // at-least-once replays collapse
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scoped(slice)(slice.unpersist(blocking = false)).map { slice =>
      // no eager count: the df subquery populates the cache and the
      // candidate agg reads it — one fewer job on the serving path
      val corpus = spark.read.parquet(s"$path/stats")
        .dropDuplicates("batch_id")
        .agg(sum(col("n_docs")).as("nd"), sum(col("sum_dl")).as("ta"))
      val dfs = slice.groupBy().agg(
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("w") === t, 1L).otherwise(0L)).as(s"df$i")
        }.head,
        terms.zipWithIndex.drop(1).map { case (t, i) =>
          sum(when(col("w") === t, 1L).otherwise(0L)).as(s"df$i")
        }: _*)
      val cand = slice.groupBy("doc_id")
        .agg(terms.zipWithIndex.map { case (t, i) =>
            sum(when(col("w") === t, col("tf")).otherwise(0L)).as(s"tf$i")
          }.head,
          terms.zipWithIndex.drop(1).map { case (t, i) =>
            sum(when(col("w") === t, col("tf")).otherwise(0L)).as(s"tf$i")
          }: _*)
      val dl = spark.read.parquet(s"$path/docstats")
        .join(cand.select("doc_id"), Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id")
      val scorePpm = terms.indices.map { i =>
        expr(s"CAST((CAST((2L*nd - 2L*df$i + 1L) * 22L * tf$i * ta AS DECIMAL(38,0))" +
          s" * 1000000) div ((2L*df$i + 1L) * (10L*ta*tf$i + 3L*ta + 9L*dl*nd))" +
          " AS BIGINT)")
      }.reduce(_ + _)
      cand.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(corpus))
        .crossJoin(broadcast(dfs))
        .withColumn("score_ppm", scorePpm)
        .where(col("score_ppm") > 0)
        .orderBy(col("score_ppm").desc, col("doc_id").asc)
        .limit(k)
        .select(col("doc_id"), col("score_ppm"))
      // bounded at k: localize, then release (the bm25TopK pattern)
    }.localize
  }

  /** Re-bucket the postings to `nBuckets` — the corpus-scaled geometry
    * dial, the round-8 vector-store rule (corpus-proportional
    * partitioning, growth-gated) applied to the postings store. A
    * frozen geometry makes every term's probe read corpus/nBuckets
    * rows — even a rare term pays for its bucket's co-hashed common
    * terms once the store has grown past the save-time sizing; bucket
    * row volume tracks corpus/nBuckets, so scaling nBuckets with the
    * corpus holds the per-probe read flat.
    *
    * Searches are GEOMETRY-INDEPENDENT by construction — the probe
    * recomputes bucket = pmod(xxhash64(w), n_buckets) from the
    * geometry in force on every call and the score never sees the
    * bucket column — so results are bit-equal across a rebalance
    * (LexicalSpec pin; q165/q166 semantics unchanged), and appends
    * after it cut to the new geometry via the same lookup.
    *
    * Staged, count-verified and crash-safe: `Stores.rebucket` (its
    * scaladoc walks the crash windows); the trailing meta write only
    * refreshes the bootstrap copy. Run offline, never concurrently with
    * ingest. Returns the postings row count (0 for a store with no
    * postings). */
  def lexRebalance(spark: SparkSession, path: String, nBuckets: Int): Long = {
    require(hadoopExists(spark, s"$path/meta"),
      s"$path is not a lexSave store (missing meta/)")
    require(nBuckets > 0, "nBuckets must be positive")
    val n = graft.core.Stores.rebucket(spark, s"$path/postings", "bucket",
      bucketCol(nBuckets), nBuckets)
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    n
  }

  /** Growth-gated geometry maintenance of postings/ (the
    * IndexSupervisor discipline): `Stores.maintain` with
    * `lexRebalance` — the growth rule, its O(store) check and the
    * cadence to run it at are documented there. Returns the geometry
    * in force after the call. */
  def lexMaintain(spark: SparkSession, path: String,
                  targetRowsPerBucket: Long = 1000000L,
                  growFactor: Int = 4): Int =
    graft.core.Stores.maintain(spark, s"$path/postings", postGeom(spark, path),
      targetRowsPerBucket, growFactor)(lexRebalance(spark, path, _))

  /** Offline compaction: drop the duplicate rows an at-least-once
    * replay appends in all three frames (searches already dedupe on
    * read — this reclaims the space). Returns postings rows after.
    *
    * Scope: REPLAY duplicates (same batch re-landed under the same
    * batch token) compact to exactly-once. A caller that violates the
    * append contract by re-ingesting an existing doc_id under a NEW
    * batch token is not repaired here: postings/docstats dedupe but
    * both batches' stats rows survive, leaving N and avgdl counting
    * the doc twice — the same "appends are new rows" contract as the
    * vector stores' vid discipline. */
  def lexCompact(spark: SparkSession, path: String): Long = {
    require(hadoopExists(spark, s"$path/meta"),
      s"$path is not a lexSave store (missing meta/)")
    graft.core.Stores.rewriteDeduped(spark, s"$path/docstats", Seq("doc_id"))
    graft.core.Stores.rewriteDeduped(spark, s"$path/stats", Seq("batch_id"))
    graft.core.Stores.rewriteDeduped(spark, s"$path/postings",
      Seq("w", "doc_id"), Seq("bucket"))
  }
}
