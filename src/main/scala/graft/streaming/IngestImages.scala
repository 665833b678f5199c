package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.core.Scoped

/** Continuous IMAGE near-dup dedup of an unbounded feed — the THIRD
  * dedup channel's ingest gate (IngestDedup resolves content text,
  * IngestFuzzy resolves typo keys; this resolves the image payload by
  * perceptual hash): drop any incoming record whose image dHash is
  * within `maxHamming` of an already-kept image (or of a smaller-id
  * image in the same batch, the first-wins cascade), keep the rest,
  * remember the survivors' fingerprints.
  *
  * This is the single-part instantiation of the generic
  * [[IngestFingerprints]] gate (fingerprint fn = `Multimodal.dHash64`,
  * one part per record) — banding layout, store geometry, broadcast
  * probe shape, and delivery semantics are all the shared gate's; see
  * its scaladoc. Kept as a named channel so the composed pipeline and
  * existing callers keep the (id, h) fingerprint face. The streaming
  * loop and offline compaction are the shared gate's too:
  * `IngestFingerprints.start(…, IngestFingerprints.imageFps(_, imageCol))`,
  * `compactKept` and `IngestFingerprints.compactStore`.
  *
  * Input columns: doc_id (globally unique) + a binary image column
  * (`imageCol`); rows with a null or undecodable image match nothing
  * and always survive. */
object IngestImages {

  /** Create the store at `path` from an existing fingerprint corpus
    * (possibly empty): (id: long, h: long) rows. */
  def dhashSave(spark: SparkSession, hashes: DataFrame, path: String,
                maxHamming: Int, blockChoose: Int = 3): Unit =
    IngestFingerprints.fpSave(spark,
      hashes.select(col("id"), lit(0).as("p"), col("h")),
      path, maxHamming, blockChoose)

  /** Run one micro-batch of the gate: survivors append to `outPath`,
    * their fingerprints to the store. Returns kept rows. */
  def processBatch(batch: DataFrame, storePath: String, outPath: String,
                   imageCol: String = "image"): Long =
    Scoped.cached(batch).use { b =>
      gateBatch(b, storePath, imageCol).use { case (kept, keptHashes) =>
        val nKept = kept.count()
        // out first, the store last: a crash between them duplicates
        // the batch on replay, never loses it
        kept.write.mode("append").parquet(outPath)
        appendHashes(batch.sparkSession, storePath, keptHashes)
        nKept
      }
    }

  /** Append already-gated fingerprints (id, h) to the store — public
    * so a composed pipeline can gate, fan out its sinks, and grow
    * this store after them. */
  def appendHashes(spark: SparkSession, storePath: String,
                   hashes: DataFrame): Unit =
    IngestFingerprints.appendFps(spark, storePath,
      hashes.select(col("id"), lit(0).as("p"), col("h")))

  /** The gate half: kept rows with ALL input columns and survivors'
    * fingerprint rows (id, h), scoped to the gate's persisted
    * fingerprint frame. Nothing is written; pass a persisted `batch`
    * (`IngestFingerprints.gateBatch`). */
  def gateBatch(batch: DataFrame, storePath: String,
                imageCol: String = "image"): Scoped[(DataFrame, DataFrame)] =
    IngestFingerprints.gateBatch(
      batch, storePath, IngestFingerprints.imageFps(batch, imageCol))
      .map { case (kept, keptFps) => (kept, keptFps.select("id", "h")) }
}
