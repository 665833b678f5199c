package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, col, posexplode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

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
  *   1. sketches its documents (66 MinHash longs/doc — hashed ONCE)
  *      and collects the sketches with their 22 band keys;
  *   2. drops any doc with a sketch-Jaccard ≥ threshold match at a
  *      smaller doc_id within the batch (decided on the driver, over
  *      docs sharing a band key) or in the signature store (one store
  *      scan per ≤ 5 k batch docs: the store's band rows joined to the
  *      broadcast batch band rows, each carrying its doc's sketch,
  *      verified in the same stage) — `Dedup.sketchDrops`' rule;
  *   3. appends survivors to the output parquet;
  *   4. appends survivors' signatures to the store, so batch N+1
  *      dedups against them.
  *
  * State is the parquet signature store, NOT Spark streaming state:
  * ~0.5 KB/doc forever, never in executor memory, shared across
  * restarts and across independent pipelines. Per-batch cost is one
  * streaming scan of the store plus O(batch × matching band keys): the
  * store is never shuffled, only the batch's band rows (with their
  * sketches) are broadcast, and only the batch ids of verified store matches
  * come back to the driver. Nothing ever rescans kept text, and the store
  * grows only by kept docs.
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
    * embeddings through the gate) and the survivors' signature rows, a
    * local frame of the collected sketch, so the scope holds nothing.
    * Both are filtered by the gate's driver-side drop-id set, so neither
    * reads the store: a store append cannot change them. `batch` is read
    * again by every consumer of the kept frame; pass a persisted one. */
  def gateBatch(batch: DataFrame, storePath: String,
                threshold: Double): Scoped[(DataFrame, DataFrame)] = {
    val (drops, sigs) = decide(batch, storePath, threshold)
    Scoped.pure((without(batch, drops), without(sigs, drops)))
  }

  /** The gate's decision: the batch doc_ids to drop, and the batch
    * sketch (doc_id + 66 MinHash slots) as a LOCAL frame of the
    * collected rows, for the store append. */
  private[streaming] def decide(batch: DataFrame, storePath: String,
                                threshold: Double): (Set[Long], DataFrame) =
    decideSketch(Dedup.minhashSignatures(
      batch.select(col("doc_id"), col("text")), pinned = true), storePath, threshold)

  /** `decide` over a sketch frame (doc_id, h0…h65). The sketch and its
    * 22 band keys (`Dedup.bandKeyCols`, the expressions the store side
    * hashes with) are collected in one action. The in-batch first-wins
    * rule runs on the driver over docs sharing a band key, verified
    * with the driver form of `Dedup.sketchNear`; the store is probed in
    * one store scan per `probeDocs` batch docs (`storePlan`), verified in the
    * same stage with its Column form — `Dedup.sketchDrops`' rule. */
  private[graft] def decideSketch(sigs: DataFrame, storePath: String,
                                  threshold: Double,
                                  probeDocs: Int = ProbeDocs): (Set[Long], DataFrame) = {
    val spark = sigs.sparkSession
    val n = Dedup.NumPerms
    val rows = sigs.select((col("doc_id") +: col("doc_id").cast("long") +:
        (0 until n).map(p => col(s"h$p"))) ++ Dedup.bandKeyCols: _*).collect()
    val ids = rows.map(_.getLong(1))
    val slots = rows.map(r => Array.tabulate(n)(p => r.getLong(2 + p)))
    val nBands = Dedup.bandKeyCols.length
    val bands = rows.map(r => Array.tabulate(nBands)(b => r.getLong(2 + n + b)))
    // in batch: doc i drops when a smaller id sharing a band key is near
    val byKey = scala.collection.mutable.HashMap.empty[(Int, Long), List[Int]]
    for (i <- rows.indices; (k, b) <- bands(i).zipWithIndex)
      byKey((b, k)) = i :: byKey.getOrElse((b, k), Nil)
    val inBatch = rows.indices.filter { i =>
      bands(i).zipWithIndex.iterator
        .flatMap { case (k, b) => byKey((b, k)) }
        .exists(j => ids(j) < ids(i) && Dedup.sketchNear(slots(j), slots(i), threshold))
    }.map(ids).toSet
    val vsStore =
      if (rows.isEmpty || !graft.core.Stores.hasData(spark, storePath)) Set.empty[Long]
      else {
        val store = graft.core.Stores.readParquet(spark, storePath)
          .select((0 until n).map(p => col(s"h$p")): _*)
        val fields = StructField("band", IntegerType) +:
          ("bkey" +: "b" +: (0 until n).map(p => s"bh$p")).map(StructField(_, LongType))
        rows.indices.grouped(probeDocs).flatMap { slice =>
          storePlan(store, local(spark, slice.flatMap(i => bands(i).indices.map(b =>
              Row.fromSeq(b +: bands(i)(b) +: ids(i) +: slots(i).toSeq))), fields),
            threshold).collect().map(_.getLong(0))
        }.toSet
      }
    (inBatch ++ vsStore, local(spark, rows.toSeq.map(r =>
      Row.fromSeq(r.get(0) +: (0 until n).map(p => r.get(2 + p)))), sigs.schema.fields.toSeq))
  }

  /** Batch docs per store probe: bounds each broadcast at ~60 MB
    * (22 band rows per doc, each carrying the doc's 66 slots). */
  private val ProbeDocs = 5000

  private def local(spark: SparkSession, rows: Seq[Row], fields: Seq[StructField]) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))

  /** The store side of the gate in one scan: `store` (h0…h65) exploded to
    * its 22 band rows in the scan stage, inner-joined to the batch's
    * `probe` rows (band, bkey, b, bh0…bh65: each band key carrying its
    * doc's sketch), broadcast explicitly from a local frame, and
    * verified with `Dedup.sketchNear` in the same stage — the store
    * streams from parquet, nothing store-sized is shuffled, and only
    * the batch ids of verified matches come back (one per shared band
    * key). Package-visible for the plan-shape pin. */
  private[graft] def storePlan(store: DataFrame, probe: DataFrame,
                               threshold: Double): DataFrame = {
    val slotCols = (0 until Dedup.NumPerms).map(p => col(s"h$p"))
    store.select(slotCols :+ posexplode(array(Dedup.bandKeyCols: _*))
        .as(Seq("band", "bkey")): _*)
      .join(broadcast(probe), Seq("band", "bkey"))
      .where(Dedup.sketchNear(p => col(s"h$p"), p => col(s"bh$p"), threshold))
      .select("b")
  }

  /** Start the streaming ingest gate: `docs` is an unbounded stream of
    * (doc_id, text) rows; survivors land in `outPath`, their sketches
    * in `storePath`. A pre-seeded store (e.g. `Dedup.signatureSave` of
    * an existing corpus) makes the stream dedup against history it
    * never saw. `compactKept` reclaims replay duplicates in both the
    * output and the store offline.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, outPath: String,
            threshold: Double, checkpoint: String,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs.select(col("doc_id"), col("text")), checkpoint, trigger) { (batch, _) =>
      processBatch(batch, storePath, outPath, threshold)
    }
}
