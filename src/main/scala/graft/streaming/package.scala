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

  // one daemon thread per independent sink unit of
  // `IngestPipeline.processBatch` (index chain, out, telemetry, vocab,
  // lexical), so no unit of a batch queues behind another
  private lazy val sinkPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(5, (r: Runnable) => {
      val th = new Thread(r, s"graft-ingest-sink-${n.incrementAndGet()}")
      th.setDaemon(true)
      th
    })
  }

  /** Run `units` at the same time on the sink pool and return once
    * every one of them has returned. Each unit runs under a copy of
    * the caller's local properties and active session
    * (`SQLExecution.withThreadLocalCaptured`), so its jobs keep the
    * caller's job group, SQL execution id and any op tag, and
    * cancelling the caller's job group cancels them too. A failure is
    * rethrown only after every other unit has returned: the first
    * failing unit's exception, in `units` order, with the later ones
    * attached as suppressed. Units must not read a store another unit
    * writes. */
  private[streaming] def concurrently(spark: SparkSession)(units: Seq[() => Unit]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = units.map(u =>
      org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(session, sinkPool)(u()))
    val failures = running.flatMap { f =>
      try { f.join(); None }
      catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

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
