package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming ingest modules. Every `start` runs one append-mode,
  * checkpointed micro-batch loop. Its `trigger` defaults to a
  * continuous loop (the unbounded-feed shape); pass
  * `Trigger.AvailableNow()` for a one-shot backfill that drains the
  * source and terminates. AvailableNow snapshots availability at query
  * start, so rows added after `start` returns are not processed. */
package object streaming {

  /** `df` without the rows whose `idCol` is in `ids`. Every ingest gate
    * applies its decision this way: it collects its drop ids (bounded by
    * batch rows) to the driver, and the frames the sinks and store
    * appends read are the persisted batch, or the gate's own local
    * frame of collected rows, filtered by those sets. No gated frame
    * reads a state store. */
  private[streaming] def without(df: DataFrame, ids: Set[Long],
                                 idCol: String = "doc_id"): DataFrame =
    if (ids.isEmpty) df else df.where(!col(idCol).isInCollection(ids))

  /** The default trigger of every ingest loop: a continuous micro-batch
    * loop (see the package doc for the backfill trigger). */
  private[streaming] val Continuous: Trigger = Trigger.ProcessingTime(0L)

  /** The one ingest loop (the reference's watch loop,
    * freshness/watch.py:24-34): append-mode micro-batches of `frame`,
    * checkpointed at `checkpoint`, each handed to `batch` with its
    * micro-batch id. A restart replays the in-flight batch under the
    * same id, so every loop is at-least-once. */
  private[streaming] def run(frame: DataFrame, checkpoint: String, trigger: Trigger)
                            (batch: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) => batch(df, id) }
      .start()

  /** Offline compaction of a store keyed by `doc_id` (an ingest loop's
    * kept-docs output, the content gate's signature store): drop the
    * duplicate rows a partial-failure replay appends. A crash between
    * the out write and the store append makes the replayed batch
    * re-keep the same docs — duplicates, never loss — and the rows are
    * bit-identical, so any survivor is the row. Readers already dedup
    * on doc_id; this reclaims space and restores 1 row/doc. Run
    * offline (`core.Stores.rewriteDeduped` swap contract). Returns the
    * row count after compaction. */
  def compactKept(spark: SparkSession, path: String): Long =
    graft.core.Stores.rewriteDeduped(spark, path, Seq("doc_id"))
}
