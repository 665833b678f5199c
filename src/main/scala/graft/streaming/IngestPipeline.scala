package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Scoped

/** One end-to-end streaming curation ingest — the reference's
  * watch-loop analog (freshness/watch.py:24-34) lifted to the
  * training-data pipeline: a single unbounded feed of
  * (doc_id, text, embedding) rows drives, in ONE `foreachBatch` per
  * micro-batch,
  *
  *   1. the near-dup ingest gate — `IngestDedup.gateBatch` against the
  *      shared signature store (drops docs near-duplicating anything
  *      kept so far, or an earlier doc of the same batch); optionally
  *      (`fuzzyStorePath`, an `IngestFuzzy.fuzzySave` store, feed must
  *      carry the key column) composed IN SERIES with the typo-distance
  *      KEY gate, and optionally (`imageStorePath`, an
  *      `IngestImages.dhashSave` store, feed must carry the binary
  *      image column) with the perceptual IMAGE gate — content
  *      near-dups, retyped keys, and re-encoded images are independent
  *      duplicate channels, so a record must pass every armed gate;
  *   2. kept-document landing (`outPath` parquet append);
  *   3. signature-store growth (survivors' sketches only);
  *   4. vector-index append of the KEPT docs' embeddings —
  *      `IngestVectors.processBatch`, so every saved index layout
  *      (IVF float/SQ8, PQ, OPQ, IVF,PQ) grows by exactly the gated
  *      set;
  *   5. one per-batch quality telemetry row over the KEPT docs
  *      (`MonitorQuality.batchStats`);
  *   5b. optionally (`lexPath`, a `Lexical.lexSave` store) a lexical
  *      postings append of the KEPT docs — the BM25 serving index
  *      grows by exactly the gated set too, so dense (4) and lexical
  *      retrieval stay doc-for-doc consistent with the kept corpus;
  *   6. optionally (`vocabPath`, feed must carry `source`) per-source
  *      HLL vocabulary sketches of the KEPT docs (`IngestVocab`);
  *   7. optionally (`neighborsPath`) ONLINE PAIR MINING: each kept
  *      doc's top-`neighborK` neighbors among everything ingested
  *      BEFORE its batch (`IngestVectors.searchBatch` against the
  *      pre-append store, any saved layout), appended as
  *      (qid, rnk, vid, batch_id) rows — the streaming face of the
  *      corpus-wide `knnJoin`, O(batch) per batch. Prefer
  *      `neighborScanFrac` over the fixed `neighborProbe` when index
  *      maintenance may swap in a generation with more lists: the
  *      fraction is resolved against each generation's own nList
  *      (`IngestVectors.searchBatch`), so mining recall does not
  *      silently decay as the store grows.
  *
  * Because every sink is fed from the same persisted kept frame inside
  * one batch closure, the stores stay MUTUALLY CONSISTENT
  * batch-over-batch: kept parquet rows == appended index vectors ==
  * telemetry n_docs, batch by batch (pinned by `IngestPipelineSpec`,
  * including equality with running the three ingest loops separately).
  *
  * Scale stance is inherited from the parts: all state lives in
  * parquet (signatures ~0.5 KB/doc, index lists, one telemetry
  * row/batch), never in executor memory; per-batch cost is O(batch);
  * nothing ever rescans kept text. Delivery is at-least-once — a
  * replayed batch re-drops the same rows against the store, re-appends
  * a bit-identical telemetry row (collapsed by `MonitorQuality.report`),
  * and searches tolerate the index's duplicate (vid, list) rows — the
  * same stance as each standalone loop.
  *
  * The signature-store append running LAST also PICKS A FAILURE SIDE:
  * a crash after the sinks but before the store append makes the
  * replayed batch re-keep the same docs — DUPLICATES in out/index,
  * reclaimed offline by `IngestDedup.compactKept` /
  * `Similarity.ivfCompact`. The reverse order (store first) would make
  * the replay drop the batch against its own signatures and the sinks
  * silently LOSE it. Duplicates are recoverable; loss is not.
  */
object IngestPipeline {

  /** Run one micro-batch through gate → land → index → telemetry.
    * Returns the number of KEPT rows. Factored out of the foreachBatch
    * closure so batch specs can drive it without a streaming query.
    * An all-dropped batch writes nothing anywhere (the telemetry store
    * records batches with survivors; `kept == indexed == telemetry`
    * still holds trivially). */
  def processBatch(batch: DataFrame, batchId: Long, sigStorePath: String,
                   outPath: String, indexPath: String, telemetryPath: String,
                   threshold: Double, vocabPath: Option[String] = None,
                   neighborsPath: Option[String] = None,
                   neighborK: Int = 5, neighborProbe: Int = 2,
                   neighborScanFrac: Option[Double] = None,
                   lexPath: Option[String] = None,
                   fuzzyStorePath: Option[String] = None,
                   fuzzyKeyCol: String = "key",
                   fuzzyMaxKeys: Int = 10000,
                   imageStorePath: Option[String] = None,
                   imageCol: String = "image",
                   timings: Option[scala.collection.mutable.Map[String, Double]]
                     = None): Long = {
    // optional per-stage wall-clock capture (ScaleReport's composed
    // pipeline campaign); zero overhead when absent
    def t[A](name: String)(body: => A): A = timings match {
      case None => body
      case Some(mp) =>
        val t0 = System.nanoTime()
        val r = body
        mp(name) = mp.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        r
    }
    // optional SECOND gate, composed in series: near-dup on content,
    // then typo-distance on the key column (a record can be novel prose
    // with a misspelled key, or a retyped key over duplicate prose —
    // independent duplicate channels, so both gates must pass). The
    // fuzzy store (seeded by IngestFuzzy.fuzzySave) is read here and,
    // like every state store, appended after the sinks.
    //
    // TWO state stores sharpen the refreshByPath rule: the doubly-gated
    // frame reads BOTH stores, so whichever store appends first poisons
    // a later append derived from it (found empirically: filtering the
    // signatures by the fuzzy-kept set made the fuzzy append's recache
    // re-gate the batch against its own keys — EMPTY signature append,
    // every batch, no error anywhere). The composed path therefore
    // appends the CONTENT-gate survivors' signatures (lineage: batch
    // sketch + signature store only — immune to the fuzzy append), and
    // that is also the correct crash contract: a replay after the fuzzy
    // append but before the signature append re-derives k1 unchanged
    // and back-fills exactly the missing signatures, while k2 = ∅ keeps
    // the sinks duplicate-free. Semantics: the signature store records
    // every content-novel doc, including ones the key gate dropped — a
    // later clone of a fuzzy-dropped doc is still SEEN content and
    // drops.
    //
    // optional THIRD gate, same series composition: perceptual image
    // near-dup on the binary payload (dHash + banded Hamming) — text
    // content, typo keys, and image payloads are independent duplicate
    // channels, so a record must pass all the gates the caller armed.
    // The three-store append cascade below follows the two-store rule:
    // each store's append derives from a frame whose lineage reads at
    // most the stores not yet appended — image (reads all three) →
    // fuzzy (reads sig + fuzzy) → signatures (reads sig only).
    //
    // One scope owns all three gates' persists: released image gate
    // first, content gate last, and also when a sink or append throws.
    val gates = t("gate_sig")(IngestDedup.gateBatch(batch, sigStorePath, threshold))
      .flatMap { case (k1, keptSigs) =>
        val fuzzy = fuzzyStorePath match {
          case None => Scoped.pure(k1)
          case Some(fp) => t("gate_fuzzy")(
            IngestFuzzy.gateBatch(k1, fp, fuzzyKeyCol, fuzzyMaxKeys))
        }
        fuzzy.flatMap { k2 =>
          val image = imageStorePath match {
            case None => Scoped.pure((k2, None: Option[DataFrame]))
            case Some(ip) => t("gate_image")(IngestImages.gateBatch(k2, ip, imageCol))
              .map { case (k3, kh) => (k3, Some(kh)) }
          }
          image.map { case (kept, keptHashes) => (keptSigs, k2, kept, keptHashes) }
        }
      }
    gates.use { case (keptSigs, k2, kept, keptHashes) =>
      val nKept = t("gate_count")(kept.count())
      if (nKept > 0) {
        // optional online pair mining: each KEPT doc's top-k neighbors
        // among everything ingested BEFORE this batch. Must run before
        // the index append both for its semantics (prior corpus only —
        // within-batch pairs are the offline knnJoin's job) and for the
        // refreshByPath rule (the search reads indexPath; appending
        // first would re-execute it against a store containing the
        // batch itself).
        neighborsPath.foreach { np => t("mine_neighbors") {
          IngestVectors.searchBatch(
              kept.select(col("doc_id").as("vec_id"), col("embedding")),
              indexPath, neighborK, neighborProbe, neighborScanFrac)
            .use(_.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
              .write.mode("append").parquet(np))
        }}
        // ORDER MATTERS: the signature-store append must come LAST.
        // Writing to sigStorePath triggers refreshByPath, which recaches
        // every plan reading that path — including `kept` (its anti-join
        // reads the store through `drops`). A consumer of `kept` that
        // runs AFTER the store grows re-evaluates against a store
        // containing the batch's own signatures, every doc self-matches,
        // and the consumer silently sees an EMPTY kept set (found
        // empirically in round 7: vector appends vanished for every
        // batch after the first).
        t("land_out")(kept.select(col("doc_id"), col("text"))
          .write.mode("append").parquet(outPath))
        t("append_index")(IngestVectors.processBatch(
          kept.select(col("doc_id").as("vec_id"), col("embedding")), indexPath))
        t("append_telemetry")(
          MonitorQuality.batchStats(kept.select(col("doc_id"), col("text")), batchId)
            .coalesce(1).write.mode("append").parquet(telemetryPath))
        // optional 5th store: per-source vocabulary sketches of the KEPT
        // docs (requires a `source` column in the feed)
        vocabPath.foreach { vp => t("append_vocab")(
          IngestVocab.processBatch(
            kept.select(col("source"), col("text")), batchId, vp))
        }
        // optional 6th store: lexical postings of the KEPT docs (batch
        // token offset by 1 — lexSave's seed stats row owns batch_id 0)
        lexPath.foreach { lp => t("append_lexical")(
          graft.operators.Lexical.lexAppendSave(
            kept.sparkSession, lp, kept.select(col("doc_id"), col("text")),
            batchId + 1L))
        }
        // state stores LAST, after every consumer of `kept` has run, in
        // the dependency-safe cascade: image store first (its append
        // frame reads all three stores), fuzzy next, signatures below
        imageStorePath.foreach { ip => t("append_image")(
          keptHashes.foreach(kh =>
            IngestImages.appendHashes(kept.sparkSession, ip, kh)))
        }
      }
      // the fuzzy append sits outside the kept-guard once a later gate
      // exists: the key gate can keep records the image gate then drops
      // (kept = 0 but k2 nonempty), and their key-novelty must still be
      // recorded — k2's lineage reads only the signature + fuzzy stores,
      // both still un-appended here
      fuzzyStorePath.foreach { fp =>
        if (nKept > 0 || (imageStorePath.isDefined && !k2.isEmpty))
          t("append_fuzzy") {
            val keptKeys = k2.where(col(fuzzyKeyCol).isNotNull)
              .select(col("doc_id").cast("long").as("id"),
                col(fuzzyKeyCol).as("s"))
            IngestFuzzy.appendKeys(k2.sparkSession, fp, keptKeys)
          }
      }
      // the signature append sits OUTSIDE the kept-guard: in the composed
      // path the content gate can keep docs a later gate then drops
      // (kept = 0 but keptSigs nonempty), and their novelty must still be
      // recorded — and keptSigs' lineage never reads the other stores, so
      // the append order stays refreshByPath-safe
      if (nKept > 0 || ((fuzzyStorePath.isDefined || imageStorePath.isDefined)
          && !keptSigs.isEmpty))
        keptSigs.write.mode("append").parquet(sigStorePath)
      nKept
    }
  }

  /** Start the unified ingest: `docs` is an unbounded stream of
    * (doc_id, text, embedding) rows; the index at `indexPath` must
    * already exist (any `ivfSave`/`pqSave`/`opqSave`/`ivfPqSave`
    * layout — batches ride its frozen quantizer). Default trigger is
    * a continuous micro-batch loop; pass `Trigger.AvailableNow()` for
    * a one-shot backfill (availability snapshots at query start, as
    * with the standalone loops). */
  def start(docs: DataFrame, sigStorePath: String, outPath: String,
            indexPath: String, telemetryPath: String, threshold: Double,
            checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime(0L),
            vocabPath: Option[String] = None,
            neighborsPath: Option[String] = None,
            neighborK: Int = 5, neighborProbe: Int = 2,
            neighborScanFrac: Option[Double] = None,
            lexPath: Option[String] = None,
            fuzzyStorePath: Option[String] = None,
            fuzzyKeyCol: String = "key",
            imageStorePath: Option[String] = None,
            imageCol: String = "image",
            maintenance: Long => Unit = _ => ()): StreamingQuery = {
    val cols = Seq("doc_id", "text", "embedding") ++
      (if (vocabPath.isDefined) Seq("source") else Nil) ++
      (if (fuzzyStorePath.isDefined) Seq(fuzzyKeyCol) else Nil) ++
      (if (imageStorePath.isDefined) Seq(imageCol) else Nil)
    docs.select(cols.map(col): _*).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, sigStorePath, outPath, indexPath,
          telemetryPath, threshold, vocabPath, neighborsPath,
          neighborK, neighborProbe, neighborScanFrac, lexPath,
          fuzzyStorePath, fuzzyKeyCol,
          imageStorePath = imageStorePath, imageCol = imageCol)
        // the supervisor.maintain() slot generalized to STORE GEOMETRY:
        // growth-gated re-buckets (fuzzyMaintain / lexMaintain /
        // linkMaintain / goldenMaintain) are offline-only operations,
        // and this is the one point in the loop where no batch is in
        // flight and no frame reads the stores — maintenance here
        // serializes with ingest exactly like the index supervisor's
        // generation swaps. Results are geometry-independent by
        // construction (IngestPipelineSpec pins gate parity across a
        // mid-stream rebalance).
        maintenance(id)
        ()
      }
      .start()
  }

  /** `start` with a MAINTAINED index: each micro-batch runs against
    * the supervisor's current generation, then the supervisor gates a
    * rebuild (growth/skew) before the next batch — maintenance
    * serializes with appends inside the foreachBatch, which is the
    * simplest policy that needs no replay at all; a concurrent
    * offline `supervisor.maintain()` is also legal (the gap-replay
    * contract covers racing appends). This is the loop that keeps
    * per-batch mining cost flat as the store grows (SCALE.md round 8:
    * 38–43 s across an 8× store vs 43 → 87 s frozen). Pair
    * `neighborScanFrac` with it when mining must hold RECALL instead
    * of cost across the generation swaps. */
  def startSupervised(docs: DataFrame, sigStorePath: String, outPath: String,
                      supervisor: IngestVectors.IndexSupervisor,
                      telemetryPath: String, threshold: Double,
                      checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime(0L),
                      vocabPath: Option[String] = None,
                      neighborsPath: Option[String] = None,
                      neighborK: Int = 5, neighborProbe: Int = 2,
                      neighborScanFrac: Option[Double] = None,
                      lexPath: Option[String] = None): StreamingQuery = {
    val cols = Seq("doc_id", "text", "embedding") ++
      (if (vocabPath.isDefined) Seq("source") else Nil)
    docs.select(cols.map(col): _*).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, sigStorePath, outPath,
          supervisor.currentPath, telemetryPath, threshold, vocabPath,
          neighborsPath, neighborK, neighborProbe, neighborScanFrac,
          lexPath)
        supervisor.maintain()
        ()
      }
      .start()
  }
}
