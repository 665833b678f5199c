package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Scoped
import graft.operators.Similarity
import graft.operators.Similarity.StoreLayout

/** Continuous embedding ingest into a persisted IVF index — the vector
  * half of `IngestDedup`: an unbounded feed of (vec_id, embedding) rows
  * lands batch by batch in the parquet list store that
  * `Similarity.ivfSave` wrote and `ivfLoad` serves, so the searchable
  * index grows while queries keep running from reloads. Reference
  * analog: the same append-accumulate ingest loop
  * (freshness/storage.py:85-151), applied to an ANN index instead of a
  * kept-document set.
  *
  * Each micro-batch is ONE `Similarity.appendSave` call: assign the
  * batch against the saved (frozen) centroids — broadcast, no list
  * scan, no refit — and append the assigned rows to the partitioned
  * store. Per-batch cost is O(batch), independent of the store size;
  * the quantizer refits only when drift demands it (rebuild + `ivfSave`
  * to a new path, the offline path). Works for every saved layout —
  * `appendSave` re-encodes per batch in the store's own codec.
  *
  * Delivery: restart replays the in-flight micro-batch, so the store
  * is at-least-once — searches tolerate the duplicate rows (same vid,
  * same list ⇒ same cosine; rank ties collapse on vid), and a
  * compaction pass can drop exact (vid, list_id) duplicates offline.
  * Input columns: vec_id, embedding.
  */
object IngestVectors {

  /** Run one micro-batch: append the batch to whichever saved index
    * layout lives at `indexPath` — detected from the store's own
    * directory shape (`Similarity.StoreLayout`), so one ingest loop
    * serves every tier: IVF float, SQ8 or 1-bit lists (re-encoded in
    * the store's own list codec), OPQ,IVF,PQ (batch rides the frozen
    * rotation, then the frozen lists/books), IVF,PQ, flat OPQ, flat
    * PQ and the 1-bit sign store (`binSave`, Hamming-ranked search
    * face). Returns the batch row count. Factored out of the
    * foreachBatch closure so batch specs can drive it without a
    * streaming query. */
  def processBatch(batch: DataFrame, indexPath: String): Long = {
    val n = batch.count()
    if (n > 0) append(batch, indexPath)
    n
  }

  /** `processBatch` for a batch the caller knows is non-empty: the
    * append alone, no count. */
  private[streaming] def append(batch: DataFrame, indexPath: String): Unit =
    Similarity.appendSave(batch.sparkSession, indexPath, batch)

  /** Search a batch of query vectors against whatever saved layout
    * lives at `indexPath` — the read face of the ingest loop and the
    * streaming half of online pair mining: each arriving batch can
    * mine its top-k neighbors among EVERYTHING INGESTED SO FAR in
    * O(batch · nProbe · clusterRows) (IVF tiers) or O(batch · m·kSub +
    * batch · codes) ADC (flat PQ/OPQ), never touching kept text and
    * never rescanning the corpus. The store opens through its
    * `StoreLayout` (the same detection as `processBatch`; a sign-code
    * store first checks the query dim against its code width);
    * `nProbe` applies to the IVF layouts. Returns (qid, rnk, vid)
    * materialized: the loaded store is released before returning and
    * the scope owns only the result.
    *
    * `scanFrac` is the recall-stable dial for LONG-LIVED callers (the
    * ingest loop's pair mining): a fixed `nProbe` silently shrinks the
    * scanned share of the corpus when a maintenance rebuild grows
    * nList with the store (the SCALE.md round-6 law, 0.88 → 0.29
    * recall across an 8× growth). When set — in (0, 1], the one
    * `Similarity.probeRule` — the effective probe count is
    * ⌈nList·scanFrac⌉ AGAINST THE STORE'S OWN CURRENT nList — read
    * from the loaded generation, so recall tracks the same corpus
    * fraction across generation swaps with no caller-side re-tuning.
    * Ignored by the flat PQ/OPQ layouts (they ADC-scan every code;
    * there is no list dial to hold). */
  def searchBatch(queries: DataFrame, indexPath: String, k: Int,
                  nProbe: Int = 2,
                  scanFrac: Option[Double] = None): Scoped[DataFrame] = {
    val spark = queries.sparkSession
    val probes = Similarity.probeRule(nProbe, scanFrac)
    StoreLayout.of(spark, indexPath).open(spark, indexPath)
      .map(_(queries, k, probes)).materialize
  }

  /** Skew-gated offline maintenance for an `ivfSave` IVF store — the
    * companion the append-only loop needs eventually: frozen centroids
    * keep per-batch cost O(batch) but let a drifted feed pile new
    * regions into few lists. Measures on-disk occupancy skew
    * (`Similarity.ivfSkew`); above `maxSkew`, retrains and writes the
    * rebalanced generation to `dstPath` and returns true — the caller
    * (an ingest supervisor) swaps readers to the new path at its own
    * pace while the at-least-once ingest keeps appending to the OLD
    * path until the swap. The index `ivfLoad` holds is NOT a
    * snapshot: Spark re-caches it when an append lands on its path, so
    * with an appender running the skew, the row count and the rebuild
    * may each read a different generation of the lists, and batches
    * that land after the rebuild read them are absent from the new
    * generation — before returning, this
    * replays them via `Similarity.ivfReplayGap` (vid anti-join old →
    * new, reconstruct from the old store's own truth, frozen-centroid
    * append). Batches that land AFTER this returns and BEFORE the
    * reader swap are the supervisor's half of the contract: call
    * `ivfReplayGap(old, new)` once more at swap time — it is
    * idempotent and O(gap). Below the thresholds: one nList-row
    * aggregation (plus a count of the lists it cached when a growth
    * target is set), nothing written, false. IVF float/SQ8 stores
    * only (the PQ family refits from its source corpus,
    * `Similarity.pqMaintainIfDrifted`).
    *
    * `targetClusterRows` adds the GROWTH gate the append-only loop
    * needs alongside the skew gate: frozen nList means mean list
    * occupancy — and with it every probe's scan cost — grows linearly
    * with the store (the round-7 pairmine law, per-batch 43.9 → 80 s
    * over an 8× store). When set, maintenance also fires once mean
    * occupancy exceeds 2× the target, and the new generation gets
    * nList = ⌈store / targetClusterRows⌉ (the `autoK` law), restoring
    * fixed-`nProbe` probe cost to ~nProbe·target rows. Callers that
    * must hold RECALL rather than cost pass `scanFrac` to
    * `searchBatch` — the two dials are the two sides of the same
    * tradeoff. `sampleFit` routes the retrain through the bounded
    * driver coarse fit (`ivfBuild(sampleFit = true)`) so maintenance
    * cost does not itself scale as store×nList. `dstPath` must differ
    * from `indexPath`: the rebuild reads the store it would overwrite. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, maxSkew: Double,
                    dstPath: String, targetClusterRows: Long = 0L,
                    sampleFit: Boolean = false): Boolean = {
    require(indexPath != dstPath,
      "rebalance writes a new generation; src and dst must differ")
    val idx = Similarity.ivfLoad(spark, indexPath)
    // the growth gate's row count reads the lists the skew cached
    lazy val total = idx.assigned.count()
    if (Similarity.ivfSkew(idx) > maxSkew || targetClusterRows > 0L && idx.nList > 0 &&
        total.toDouble / idx.nList > 2.0 * targetClusterRows) {
      val k =
        if (targetClusterRows > 0L)
          math.max(idx.nList,
            math.ceil(total.toDouble / targetClusterRows).toInt)
        else idx.nList
      val reb = Similarity.ivfRebalance(idx, k, sampleFit) // releases idx
      Similarity.ivfSave(reb, dstPath)
      reb.release()
      // close the mid-rebuild append window (no-op when nothing landed)
      Similarity.ivfReplayGap(spark, indexPath, dstPath)
      true
    } else {
      idx.release()
      false
    }
  }

  /** First-class supervisor for a maintained IVF store — the loop the
    * `maintainIndex` scaladoc prescribes, owned as state instead of
    * left to the caller: it tracks the CURRENT generation path, runs
    * gates after append bursts, and performs the swap contract
    * (rebuild → its internal gap replay → one more idempotent
    * `ivfReplayGap` at swap → readers move to the new path). The
    * round-8 sf10 campaign measured the payoff: per-batch pair-mining
    * cost flat at 38–43 s across an 8× store where the frozen
    * quantizer grows 43 → 87 s, with 10–19 s rebalances on the
    * maintenance cadence (SCALE.md round 8).
    *
    * Generations land under `genDir/gen<N>`; old generations are left
    * on disk for readers still draining them (delete on the caller's
    * retention schedule). `maintain()` is safe to call between any two
    * batches — or from a separate maintenance thread, because appends
    * that land on the old path after the rebuild read its lists are replayed
    * into the new generation before the path swap, the at-least-once
    * store tolerates the (vid, list) duplicates a racing append can
    * leave (compaction reclaims them), and the one remaining
    * concurrent-mode window — an appender that read `currentPath`
    * BEFORE a swap and finished its write AFTER the swap's final
    * replay, landing vectors on the retired generation — is closed by
    * the NEXT maintain(), which starts with one more idempotent
    * `ivfReplayGap(previousGeneration, current)` before gate-checking
    * (O(gap): a vid anti-join over the old lists, never a refit).
    * Callers that retire the supervisor while such an appender may
    * still be in flight should call `catchUp()` once after the last
    * append completes. */
  final class IndexSupervisor(spark: org.apache.spark.sql.SparkSession,
                              initialPath: String, genDir: String,
                              maxSkew: Double = 2.0,
                              targetClusterRows: Long = 0L,
                              sampleFit: Boolean = true) {
    @volatile private var cur = initialPath
    @volatile private var prev: String = null
    @volatile private var gen = 0
    def currentPath: String = cur
    def generation: Int = gen
    /** Replay any vectors a straggling appender left on the PREVIOUS
      * generation into the current one (idempotent, O(gap), no-op
      * before the first swap). Called automatically at the start of
      * every `maintain()`; exposed for callers retiring the supervisor
      * with appends possibly still in flight. */
    def catchUp(): Long = synchronized {
      if (prev == null) 0L
      else graft.operators.Similarity.ivfReplayGap(spark, prev, cur)
    }
    /** Gate-check the current generation; on a rebuild, replay the
      * append gap and swap. Returns true when a swap happened. */
    def maintain(): Boolean = synchronized {
      // close the previous swap's straggler window first: an appender
      // that read the old currentPath before the swap and landed its
      // write after the final replay would otherwise be lost silently
      catchUp()
      val dst = s"$genDir/gen${gen + 1}"
      if (IngestVectors.maintainIndex(spark, cur, maxSkew, dst,
          targetClusterRows, sampleFit)) {
        // the supervisor's half of the contract: close the window
        // between maintainIndex's return and this swap (idempotent)
        graft.operators.Similarity.ivfReplayGap(spark, cur, dst)
        prev = cur
        cur = dst
        gen += 1
        true
      } else false
    }
  }

  /** Start the streaming vector ingest against an existing `ivfSave`d
    * index.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(vecs: DataFrame, indexPath: String, checkpoint: String,
            trigger: Trigger = Continuous): StreamingQuery =
    run(vecs.select(col("vec_id"), col("embedding")), checkpoint, trigger) { (batch, _) =>
      processBatch(batch, indexPath)
    }
}
