package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TrainingData

/** Per-batch quality telemetry over a document stream — the ops face
  * of the quality-gate family: each micro-batch appends ONE row of
  * exact integer statistics (doc/token counts, Gopher keep count,
  * keep rate in ppm) to a parquet monitoring store, so a pipeline can
  * watch its input quality drift WITHOUT retaining the text. The
  * append is one bounded row per batch; the store grows with batch
  * count, not corpus size. All arithmetic is exact (counts + one
  * integer ppm division), so batch-replay produces identical rows and
  * the spec can assert equality, not tolerance.
  *
  * `report` reads the store back in batch order and adds the
  * batch-over-batch keep-rate delta — the number an alert threshold
  * watches (a crawl source going bad shows up as a keep_ppm cliff
  * long before a model does). Same design stance as the other ingest
  * loops: state in parquet, per-batch cost O(batch), at-least-once
  * tolerated (a replayed batch re-appends its identical row; `report`
  * collapses exact duplicates).
  */
object MonitorQuality {

  /** Compute one telemetry row for a batch, in one aggregate over
    * `TrainingData.gopherRows` (the Gopher verdict per row, no
    * explode). n_docs counts the rows with text: the docs
    * `gopherQuality` scores, given the unique doc_ids every ingest batch
    * carries. Exposed for specs. */
  def batchStats(batch: DataFrame, batchId: Long): DataFrame = {
    val toks = size(split(lower(trim(col("text"))), " ")).cast("long")
    TrainingData.gopherRows(batch, Seq(toks.as("n_tok")), minWords = 30)
      .agg(count(col("keep")).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        sum(col("keep").cast("long")).as("n_keep"))
      .select(lit(batchId).as("batch_id"), col("n_docs"), col("n_tokens"),
        col("min_tok"), col("max_tok"), col("n_keep"),
        expr("(n_keep * 1000000) div n_docs").as("keep_ppm"))
  }

  /** Run one micro-batch: append its telemetry row. Returns the batch
    * row count. */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Long = {
    val n = batch.count()
    if (n > 0) batchStats(batch, batchId).coalesce(1)
      .write.mode("append").parquet(storePath)
    n
  }

  /** The monitoring report: store rows in batch order plus the
    * batch-over-batch keep-rate delta (ppm, exact). Replay-duplicate
    * rows collapse via distinct (they are bit-identical by
    * construction). */
  def report(spark: org.apache.spark.sql.SparkSession,
             storePath: String): DataFrame = {
    val w = Window.orderBy("batch_id")
    spark.read.parquet(storePath).distinct()
      .withColumn("keep_ppm_delta",
        col("keep_ppm") - lag(col("keep_ppm"), 1).over(w))
      .orderBy("batch_id")
  }

  /** Start the streaming monitor.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, checkpoint: String,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs.select(col("doc_id"), col("text")), checkpoint, trigger) { (batch, id) =>
      processBatch(batch, id, storePath)
    }
}
