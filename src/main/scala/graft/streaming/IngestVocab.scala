package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming per-source vocabulary-cardinality tracking with MERGEABLE
  * HLL sketches — the streaming face of the q129 cardinality audit and
  * the final member of the sketch-store family (CMS counters →
  * `IngestHitters`; MinHash signatures → `IngestDedup`; HLL →  here).
  *
  * Each micro-batch appends one row per source: (source, batch_id,
  * sketch BINARY, n_tokens) where the sketch is Spark's DataSketches
  * HLL (`hll_sketch_agg`, lgConfigK fixed per store) over the batch's
  * distinct tokens. `report` merges a source's sketches with
  * `hll_union_agg` and estimates — so "how many distinct tokens has
  * source X ever produced?" is answerable at ANY time from
  * O(batches × sources) kilobyte rows, without retaining a single
  * token. At 100 TB this is the only viable shape: the exact
  * COUNT(DISTINCT) shuffles every distinct (source, token) pair ever
  * seen, while sketch union is a per-source fold of ~KB buffers —
  * and DataSketches union is LOSSLESS over sketches of the same
  * configuration (merge == re-sketch of the concatenated stream,
  * pinned by `IngestVocabSpec`).
  *
  * Same store discipline as the siblings: parquet state, O(batch)
  * per-batch cost, at-least-once tolerated — `mergeReport` keeps one
  * row per (source, batch_id), so a replayed batch's row collapses
  * BY KEY, not by byte equality. (Whole-row distinct would be wrong:
  * DataSketches HLL serialization in sparse/list mode is
  * insertion-order-dependent and Spark aggregation order is
  * nondeterministic, so a replayed row need not be bit-identical —
  * vocab_est would survive via union idempotency, but sum(n_tokens)
  * would double-count.) Input columns: (source, text).
  */
object IngestVocab {

  /** One sketch row per source for this batch. Exposed for specs. */
  def batchSketches(batch: DataFrame, batchId: Long,
                    lgConfigK: Int = 12): DataFrame =
    batch.select(col("source"),
        explode(split(lower(trim(col("text"))), " ")).as("w"))
      .groupBy("source")
      .agg(expr(s"hll_sketch_agg(w, $lgConfigK)").as("sketch"),
        count(lit(1)).as("n_tokens"))
      .select(lit(batchId).as("batch_id"), col("source"), col("sketch"),
        col("n_tokens"))

  /** Run one micro-batch: append its per-source sketch rows. Returns
    * the batch row count. */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                   lgConfigK: Int = 12): Long = {
    val n = batch.count()
    if (n > 0) append(batch, batchId, storePath, lgConfigK)
    n
  }

  /** `processBatch` for a batch the caller knows is non-empty: the
    * append alone, no count. */
  private[streaming] def append(batch: DataFrame, batchId: Long, storePath: String,
                                lgConfigK: Int = 12): Unit =
    batchSketches(batch, batchId, lgConfigK).coalesce(1)
      .write.mode("append").parquet(storePath)

  /** The running audit: per source, the number of batches seen, total
    * token occurrences, and the HLL estimate of the all-time distinct
    * vocabulary — one `hll_union_agg` fold over the source's sketch
    * rows. Replay duplicates are collapsed by (source, batch_id) KEY
    * — sketch bytes for the same batch are not guaranteed
    * bit-identical (HLL sparse-mode serialization depends on
    * aggregation order), so byte-level distinct would let a replayed
    * row double-count n_tokens. vocab_est never needed the dedup
    * (HLL union is idempotent); the key dedup makes n_tokens and
    * n_batches replay-exact too. */
  def report(spark: org.apache.spark.sql.SparkSession,
             storePath: String): DataFrame =
    mergeReport(spark.read.parquet(storePath))

  /** The merge-and-estimate fold over any frame of sketch rows (the
    * q143 driver query runs it over in-session batch sketches). */
  def mergeReport(sketches: DataFrame): DataFrame =
    sketches.dropDuplicates(Seq("source", "batch_id"))
      .groupBy("source")
      .agg(countDistinct(col("batch_id")).as("n_batches"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("hll_sketch_estimate(hll_union_agg(sketch, false))")
          .as("vocab_est"))
      .orderBy("source")

  /** Start the streaming vocabulary monitor over (source, text) rows.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, checkpoint: String,
            lgConfigK: Int = 12,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs.select(col("source"), col("text")), checkpoint, trigger) { (batch, id) =>
      processBatch(batch, id, storePath, lgConfigK)
    }
}
