package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Scoped
import graft.operators.Dedup

/** Continuous near-duplicate dedup of an unbounded document feed — the
  * streaming runtime over `Dedup.dedupIncremental`'s batch semantics
  * (SURVEY.md §2.9 ingest gate lifted from exact to NEAR-dup; reference
  * analog: the append-accumulate ingest loop of
  * freshness/storage.py:85-151, where each poll merges against
  * everything kept so far).
  *
  * Each micro-batch:
  *   1. sketches its documents (66 MinHash longs/doc — hashed ONCE);
  *   2. drops any doc with a sketch-Jaccard ≥ threshold match in the
  *      signature store or at a smaller doc_id within the batch
  *      (`Dedup.sketchDrops`);
  *   3. appends survivors to the output parquet;
  *   4. appends survivors' signatures to the store, so batch N+1
  *      dedups against them.
  *
  * State is the parquet signature store, NOT Spark streaming state:
  * ~0.5 KB/doc forever, never in executor memory, shared across
  * restarts and across independent pipelines. Per-batch cost is
  * O(batch × matching band keys) — the store side of the band join
  * streams from parquet and only matching (band, bkey) groups move.
  * That is the shape that holds at a 100 TB corpus: nothing ever
  * rescans kept text, and the store grows only by kept docs.
  *
  * Delivery: restart replays the in-flight micro-batch, so both sinks
  * are at-least-once — downstream readers dedup on doc_id (globally
  * unique by contract), which makes the replay idempotent for them;
  * a replayed batch re-matches the store and drops the same rows.
  * Input columns: doc_id, text.
  */
object IngestDedup {

  /** Run one micro-batch of the ingest gate against the store at
    * `storePath` (missing store = empty corpus), appending survivors
    * to `outPath` and their signatures to the store. Returns the
    * number of surviving rows. Factored out of the foreachBatch
    * closure so batch specs can drive it without a streaming query. */
  def processBatch(batch: DataFrame, storePath: String, outPath: String,
                   threshold: Double): Long =
    Scoped.cached(batch).use { b =>
      gateBatch(b, storePath, threshold).use { case (kept, keptSigs) =>
        val nKept = kept.count()
        kept.write.mode("append").parquet(outPath)
        keptSigs.write.mode("append").parquet(storePath)
        nKept
      }
    }

  /** The gate half of `processBatch`: compute the batch's survivors
    * against the store WITHOUT writing anything — returns the kept rows
    * (ALL input columns ride along, so a composite pipeline can carry
    * embeddings through the gate) and the survivors' signature rows,
    * scoped to the persisted batch sketch. Both are filtered by the
    * gate's driver-side drop-id set, so neither reads the store: a
    * store append cannot change them. `batch` is read again by every
    * consumer of the kept frame; pass a persisted one. */
  def gateBatch(batch: DataFrame, storePath: String,
                threshold: Double): Scoped[(DataFrame, DataFrame)] =
    decide(batch, storePath, threshold).map { case (drops, sigs) =>
      (without(batch, drops), without(sigs, drops))
    }

  /** The gate's decision: the batch doc_ids to drop, collected in one
    * action, and the persisted batch sketch (doc_id + 66 MinHash
    * slots) the scope releases. */
  private[streaming] def decide(batch: DataFrame, storePath: String,
                                threshold: Double): Scoped[(Set[Long], DataFrame)] = {
    val spark = batch.sparkSession
    Scoped.cached(Dedup.minhashSignatures(
        batch.select(col("doc_id"), col("text")), pinned = true))
      .map { sigs =>
        val store =
          if (storeExists(spark, storePath)) Dedup.signatureLoad(spark, storePath)
          else sigs.limit(0)
        val drops = Dedup.sketchDropIds(sigs, store, threshold)
          .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
        (drops, sigs)
      }
  }

  /** Start the streaming ingest gate: `docs` is an unbounded stream of
    * (doc_id, text) rows; survivors land in `outPath`, their sketches
    * in `storePath`. A pre-seeded store (e.g. `Dedup.signatureSave` of
    * an existing corpus) makes the stream dedup against history it
    * never saw. Default trigger is a continuous micro-batch loop (the
    * unbounded-feed shape); pass `Trigger.AvailableNow()` for a
    * one-shot backfill that drains the source and terminates — but
    * note AvailableNow snapshots availability at query start, so rows
    * added after `start` returns are NOT processed. */
  def start(docs: DataFrame, storePath: String, outPath: String,
            threshold: Double, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.select(col("doc_id"), col("text")).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, storePath, outPath, threshold)
        ()
      }
      .start()

  /** Offline compaction of the kept-docs output and signature store:
    * drop the duplicate doc_id rows a partial-failure replay appends
    * (a crash between the out write and the store append makes the
    * replayed batch re-keep the same docs — duplicates, never loss;
    * the rows are bit-identical, so any survivor is the row).
    * Downstream readers already dedup on doc_id by contract — this
    * reclaims space and restores 1 row/doc. Run offline
    * (`core.Stores.rewriteDeduped` swap contract). */
  def compactKept(spark: org.apache.spark.sql.SparkSession,
                  outPath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, outPath, Seq("doc_id"))

  def compactSignatures(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, storePath, Seq("doc_id"))

  private def storeExists(spark: org.apache.spark.sql.SparkSession,
                          path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a bare directory with no committed files is "no store yet"
    // (a killed first batch leaves _temporary behind)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.getPath.getName.endsWith(".parquet") ||
        s.getPath.getName == "_SUCCESS")
  }
}
