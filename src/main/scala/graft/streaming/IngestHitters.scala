package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Continuous heavy-hitter tracking over a document stream — the
  * boilerplate-detection half of the ingest family (`IngestDedup`
  * keeps the corpus unique, this keeps its recurring k-grams
  * visible): each micro-batch's Count-Min sketch is bucket-summed
  * into the on-disk store (`Dedup.cmsStoreMerge`), so the state
  * carried forward is ≤ depth·width counters no matter how much text
  * has flowed by, and because CMS merge is exact (counter addition),
  * the store after N batches equals the sketch of everything ever
  * ingested bit-for-bit. Query side: `Dedup.cmsTopK(candidates,
  * cmsStoreLoad(...))` at any time, without replaying the stream.
  *
  * Delivery: restart replays the in-flight micro-batch, so replayed
  * grams over-count — which preserves the CMS one-sided guarantee
  * (estimates only ever overshoot true counts), the same
  * at-least-once stance as `IngestDedup`/`IngestVectors`. Input
  * columns: doc_id, text.
  */
object IngestHitters {

  /** Run one micro-batch: sketch it and fold into the store (created
    * on first batch). Returns the batch row count. Factored out of
    * the foreachBatch closure so batch specs can drive it without a
    * streaming query. */
  def processBatch(batch: DataFrame, storePath: String, k: Int = 5,
                   depth: Int = 4, width: Int = 8192): Long = {
    val spark = batch.sparkSession
    val n = batch.count()
    if (n > 0) {
      if (!Dedup.cmsStoreExists(spark, storePath))
        Dedup.cmsStoreSave(Dedup.cmsSketch(batch, k, depth, width), storePath,
          k, depth, width)
      else Dedup.cmsStoreMerge(spark, storePath, batch, k, depth, width)
    }
    n
  }

  /** Start the streaming gram ingest.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, checkpoint: String,
            k: Int = 5, depth: Int = 4, width: Int = 8192,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs.select(col("doc_id"), col("text")), checkpoint, trigger) { (batch, _) =>
      processBatch(batch, storePath, k, depth, width)
    }
}
