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
  *   2. the SINKS of the KEPT docs, run at the same time on the
  *      package's sink pool (`concurrently`), since none reads a store
  *      another writes:
  *      - vector-index append (`IngestVectors.append`), so every saved
  *        index layout (IVF float/SQ8, PQ, OPQ, IVF,PQ) grows by
  *        exactly the gated set; optionally (`neighborsPath`) preceded,
  *        in the same unit, by ONLINE PAIR MINING: each kept doc's
  *        top-`neighborK` neighbors among everything ingested BEFORE
  *        its batch (`IngestVectors.searchBatch` against the
  *        pre-append store, any saved layout), appended as
  *        (qid, rnk, vid, batch_id) rows — the streaming face of the
  *        corpus-wide `knnJoin`, O(batch) per batch. Prefer
  *        `neighborScanFrac` over the fixed `neighborProbe` when index
  *        maintenance may swap in a generation with more lists: the
  *        fraction is resolved against each generation's own nList
  *        (`IngestVectors.searchBatch`), so mining recall does not
  *        silently decay as the store grows;
  *      - kept-document landing (`outPath` parquet append);
  *      - one per-batch quality telemetry row
  *        (`MonitorQuality.batchStats`);
  *      - optionally (`vocabPath`, feed must carry `source`) per-source
  *        HLL vocabulary sketches (`IngestVocab`);
  *      - optionally (`lexPath`, a `Lexical.lexSave` store) a lexical
  *        postings append — the BM25 serving index grows by exactly the
  *        gated set too, so dense and lexical retrieval stay
  *        doc-for-doc consistent with the kept corpus; its three
  *        commits keep their order;
  *   3. once every sink has returned, the STATE STORES the gates read,
  *      one at a time: image fingerprints, fuzzy keys, signatures
  *      (each store records its own gate's survivors).
  *
  * The batch is persisted once; each gate collects its batch keys
  * once, decides its in-batch rule on the driver, probes its store in
  * one broadcast job and returns one driver-side drop-id set, and every
  * sink reads the same persisted batch filtered by those sets inside
  * one batch closure, so the stores stay MUTUALLY
  * CONSISTENT batch-over-batch: kept parquet rows == appended index
  * vectors == telemetry n_docs, batch by batch (pinned by `IngestPipelineSpec`,
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
  * The state stores appending LAST also PICKS A FAILURE SIDE (the
  * crash contract): the sinks may land in any order, but every state
  * store lands after all of them, so a crash after any sink but before
  * the state-store appends makes the replayed batch re-keep the same
  * docs — DUPLICATES in out/index, reclaimed offline by `compactKept` /
  * `Similarity.ivfCompact`. The reverse order (a state store first)
  * would make the replay drop the batch against its own signatures and
  * the sinks silently LOSE it. Duplicates are recoverable; loss is not.
  * A failing sink fails the batch only after the other sinks have
  * returned, and no state store is appended.
  */
object IngestPipeline {

  /** Run one micro-batch through the gates, the sinks and the state
    * stores. Returns the number of KEPT rows. Factored out of the
    * foreachBatch closure so batch specs can drive it without a
    * streaming query. An all-dropped batch writes nothing anywhere (the
    * telemetry store records batches with survivors;
    * `kept == indexed == telemetry` still holds trivially).
    * `timings` accumulates each stage's wall seconds under its key; the
    * sink stages overlap, so their sum can exceed the batch's wall. */
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
    // pipeline campaign); zero overhead when absent. Sink stages run on
    // several threads, so every update holds the map's lock
    def t[A](name: String)(body: => A): A = timings match {
      case None => body
      case Some(mp) =>
        val t0 = System.nanoTime()
        val r = body
        val s = (System.nanoTime() - t0) / 1e9
        mp.synchronized(mp(name) = mp.getOrElse(name, 0.0) + s)
        r
    }
    Scoped.cached(batch).use { b =>
      // the batch's ids, collected once: every gate drops a subset of
      // them, so the kept count is driver arithmetic
      val ids = t("gate_count")(
        b.select(col("doc_id").cast("long")).collect().map(_.getLong(0)))
      // the gates in series: content near-dup, then (optional) typo
      // distance on the key column, then (optional) perceptual image
      // near-dup — independent duplicate channels, so a record must pass
      // every armed gate. Each collects its batch keys once and returns
      // its drop ids; every frame below is the persisted batch, or a
      // gate's local sketch or fingerprint frame, filtered by those sets.
      val (d1, sigs) = t("gate_sig")(IngestDedup.decide(b, sigStorePath, threshold))
      val d2 = fuzzyStorePath.fold(Set.empty[Long]) { fp =>
        t("gate_fuzzy")(IngestFuzzy.drops(without(b, d1), fp, fuzzyKeyCol, fuzzyMaxKeys))
      }
      val k2 = without(b, d1 ++ d2)
      val (d3, imageFps) = imageStorePath.fold((Set.empty[Long], None: Option[DataFrame])) { ip =>
        val (d, fps) = t("gate_image")(IngestFingerprints.decide(ip,
          IngestFingerprints.imageFps(k2, imageCol)))
        (d, Some(fps))
      }
      val dropped = d1 ++ d2 ++ d3
      val kept = without(b, dropped)
      val nKept = ids.count(id => !dropped(id))
      if (nKept > 0) {
        val docs = kept.select(col("doc_id"), col("text"))
        val vecs = kept.select(col("doc_id").as("vec_id"), col("embedding"))
        // the sinks at the same time: none reads another's store
        concurrently(b.sparkSession)(Seq(
          // optional online pair mining: each KEPT doc's top-k neighbors
          // among everything ingested BEFORE this batch — so it runs
          // before the index append, in the same unit
          () => {
            neighborsPath.foreach { np => t("mine_neighbors") {
              IngestVectors.searchBatch(vecs, indexPath, neighborK,
                  neighborProbe, neighborScanFrac)
                .use(_.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
                  .write.mode("append").parquet(np))
            }}
            t("append_index")(IngestVectors.append(vecs, indexPath))
          },
          () => t("land_out")(docs.write.mode("append").parquet(outPath)),
          () => t("append_telemetry")(MonitorQuality.batchStats(docs, batchId)
            .coalesce(1).write.mode("append").parquet(telemetryPath))) ++
          // optional: per-source vocabulary sketches of the KEPT docs
          // (requires a `source` column in the feed)
          vocabPath.map(vp => () => t("append_vocab")(
            IngestVocab.append(kept.select(col("source"), col("text")), batchId, vp))) ++
          // optional: lexical postings of the KEPT docs (batch token
          // offset by 1 — lexSave's seed stats row owns batch_id 0)
          lexPath.map(lp => () => t("append_lexical")(
            graft.operators.Lexical.lexAppendSave(b.sparkSession, lp, docs, batchId + 1L))))
        // state stores only after every sink has landed, one at a time,
        // image → fuzzy → signatures: a crash between two appends
        // replays into duplicates, never loss (the crash contract)
        for (ip <- imageStorePath; fps <- imageFps) t("append_image")(
          IngestFingerprints.appendRows(b.sparkSession, ip, without(fps, d3, "id")))
      }
      // the fuzzy and signature stores record their own gate's
      // survivors, also those a later gate drops (kept = 0)
      fuzzyStorePath.foreach { fp =>
        if (nKept > 0 || (imageStorePath.isDefined && ids.exists(id => !d1(id) && !d2(id))))
          t("append_fuzzy")(IngestFuzzy.appendKeys(b.sparkSession, fp,
            k2.where(col(fuzzyKeyCol).isNotNull)
              .select(col("doc_id").cast("long").as("id"), col(fuzzyKeyCol).as("s"))))
      }
      val keptSigs = without(sigs, d1)
      if (nKept > 0 || ((fuzzyStorePath.isDefined || imageStorePath.isDefined)
          && ids.exists(id => !d1(id)) && !keptSigs.isEmpty))
        keptSigs.write.mode("append").parquet(sigStorePath)
      nKept
    }
  }

  /** Start the unified ingest: `docs` is an unbounded stream of
    * (doc_id, text, embedding) rows; the index at `indexPath` must
    * already exist (any `ivfSave`/`pqSave`/`binSave` layout —
    * batches ride its frozen quantizer). `indexPath` is read again for
    * each batch: an `IngestVectors.IndexSupervisor` run passes
    * `sup.currentPath` and `maintenance = _ => { sup.maintain(); () }`,
    * so each batch appends to and mines against the current generation
    * and the supervisor gates a rebuild before the next one (per-batch
    * mining cost stays flat as the store grows, SCALE.md round 8; pair
    * it with `neighborScanFrac` to hold mining RECALL across swaps).
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, sigStorePath: String, outPath: String,
            indexPath: => String, telemetryPath: String, threshold: Double,
            checkpoint: String,
            trigger: Trigger = Continuous,
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
    run(docs.select(cols.map(col): _*), checkpoint, trigger) { (batch, id) =>
      processBatch(batch, id, sigStorePath, outPath, indexPath,
        telemetryPath, threshold, vocabPath, neighborsPath,
        neighborK, neighborProbe, neighborScanFrac, lexPath,
        fuzzyStorePath, fuzzyKeyCol,
        imageStorePath = imageStorePath, imageCol = imageCol)
      // the supervisor.maintain() slot generalized to STORE GEOMETRY:
      // growth-gated re-buckets (fuzzyMaintain / lexMaintain /
      // linkMaintain) are offline-only operations, and this is the one
      // point in the loop where no batch is in flight and no frame
      // reads the stores — maintenance here serializes with ingest
      // exactly like the index supervisor's generation swaps. Results
      // are geometry-independent by construction (IngestPipelineSpec
      // pins gate parity across a mid-stream rebalance).
      maintenance(id)
    }
  }
}
