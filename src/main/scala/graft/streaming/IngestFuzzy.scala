package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, explode, greatest, length, levenshtein, lit, pmod, sequence, when, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Scoped
import graft.core.Stores.hasData
import graft.operators.Dedup

/** Continuous FUZZY-KEY dedup of an unbounded feed — the streaming
  * runtime over `Dedup.fuzzyKeyGate`'s batch semantics: drop any
  * incoming record whose key is within Levenshtein distance `maxDist`
  * of an already-kept key (or of a smaller-id key in the same batch),
  * keep the rest, and remember the survivors. The typo-distance
  * sibling of `IngestDedup` (MinHash near-dup gate) for entity/URL/
  * title keys, where "duplicate" means d edits, not token overlap.
  *
  * State is a parquet PassJoin index, NOT Spark streaming state:
  *   keys/  (id, s) ∂ sh     — every kept key, PARTITIONED by the
  *                             short-slice flag (sh = 1 iff
  *                             len < minSeg·(d+1) + d), so the band
  *                             fallback reads only the bounded-length
  *                             partition, never the whole key corpus
  *   segs/  (lt, i, seg, tid, s) ∂ sb — each kept key's d+1 own
  *                             segments (`Dedup.edIndexSegs`) WITH the
  *                             key string denormalized onto the row,
  *                             PARTITIONED by sb = pmod(xxhash64(lt,
  *                             i, seg), nBuckets): a batch's probe
  *                             reads only the partitions its own
  *                             segment tuples hash to
  *   meta/  (max_dist, min_seg, n_buckets) — the layout; probes and
  *                             appends recompute every partition
  *                             column from it, so results are
  *                             GEOMETRY-INDEPENDENT by construction.
  *                             The AUTHORITATIVE bucket count lives
  *                             INSIDE segs/ (`_GEOMETRY`, stamped by
  *                             save/rebalance — atomic with the data
  *                             by the swap rename); meta's n_buckets
  *                             is the bootstrap for a store whose
  *                             segs/ carries no marker yet
  *
  * Why this geometry (round 12): the previous layout made every batch
  * scan AND shuffle the whole segs/ store into the probe equi-join,
  * and shuffle ALL store keys into the verify join-back — two O(store)
  * terms per batch (measured: gate_fuzzy 90→138 s across five sf100
  * batches as the store grew ×1.72). Now the probe's segment-bucket
  * set comes back with its collected probe rows (bounded by min(probe
  * tuples, nBuckets) — a statistics-sized driver list), prunes the segs/ read
  * to those partitions, and the verify reads `s` off the seg row —
  * per-batch store cost is the pruned scan, and with nBuckets grown
  * ∝ store (`fuzzyMaintain`, the shared `Stores.maintain` rule) the rows
  * read per probe bucket stay flat at the target. On a
  * narrow-vocabulary corpus whose probes cover every bucket the
  * pruned read degrades gracefully to the full scan — never worse
  * than the old shape, and the removed O(store) SHUFFLES stay
  * removed.
  *
  * Each micro-batch: (1) collect the keyed rows with their PassJoin
  * index segments in one action, and each slice of ≤ `maxKeys` keys'
  * probe rows in one more; (2) drop keys matching a smaller id within
  * the batch (first-wins), decided on the driver; (3) drop keys
  * matching the store — per slice, the pruned segs/ scan and the
  * short-key partition joined to the slice's broadcast probe rows,
  * thresholded levenshtein verify in the same stage, no shuffle;
  * (4) append surviving DOCS to the output; (5) append
  * survivors' keys + segment rows, cut with the recorded layout.
  *
  * Delivery matches `IngestDedup`: both sinks are at-least-once; a
  * replayed batch re-finds its own keys at distance 0 and drops; a
  * crash between out write and store append duplicates rows (never
  * loses them) and `compactKept` reclaims offline. Input columns:
  * doc_id (globally unique) + a string key column (`keyCol`). */
object IngestFuzzy {

  // partition-column layouts — pure functions of meta, recomputed on
  // every probe/append so a rebalance never changes any answer
  private def sbCol(nBuckets: Int): Column =
    pmod(xxhash64(col("lt"), col("i"), col("seg")), lit(nBuckets.toLong))
      .cast("int")
  private def shCol(d: Int, minSeg: Int): Column =
    when(length(col("s")) < lit(minSeg * (d + 1) + d), 1).otherwise(0)

  /** Create the store at `path` from an existing kept-key corpus
    * (possibly empty): (id: long, s: string) rows. `nBuckets` fixes
    * the initial segs/ partition geometry (`fuzzyMaintain` grows it
    * with the store). */
  def fuzzySave(spark: SparkSession, keys: DataFrame, path: String,
                maxDist: Int, minSeg: Int = 3, nBuckets: Int = 64): Unit = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(minSeg >= 1, "minSeg must be >= 1")
    require(nBuckets >= 1, "nBuckets must be >= 1")
    import spark.implicits._
    val base = keys.where(col("s").isNotNull)
      .select(col("id").cast("long").as("id"), col("s"))
    writeKeys(base, s"$path/keys", maxDist, minSeg, "overwrite")
    writeSegs(base.withColumn("len", length(col("s"))),
      s"$path/segs", maxDist, minSeg, nBuckets, "overwrite")
    graft.core.Stores.stampGeometry(spark, s"$path/segs", nBuckets)
    Seq((maxDist, minSeg, nBuckets)).toDF("max_dist", "min_seg", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private def writeKeys(base: DataFrame, path: String, d: Int,
                        minSeg: Int, mode: String): Unit =
    base.withColumn("sh", shCol(d, minSeg))
      // one file per partition, not per task; sh is a 0/1 flag so at
      // most 2 reducers are ever non-empty — cap the pin there
      .transform(graft.core.Stores.writeLayout(_, 2, col("sh")))
      .write.mode(mode).partitionBy("sh").parquet(path)

  private def writeSegs(baseLen: DataFrame, path: String, d: Int,
                        minSeg: Int, nBuckets: Int, mode: String): Unit =
    Dedup.edIndexSegs(baseLen, d, minSeg, carryS = true)
      .withColumn("sb", sbCol(nBuckets))
      // partition count capped by the known geometry (≤ nBuckets
      // reducers are ever non-empty)
      .transform(graft.core.Stores.writeLayout(_, nBuckets, col("sb")))
      .write.mode(mode).partitionBy("sb").parquet(path)

  private def meta(spark: SparkSession, path: String): (Int, Int, Int) = {
    require(hasData(spark, s"$path/meta"),
      s"$path is not a fuzzySave store (missing meta/)")
    // listing-keyed driver memo: a repeat read of an unchanged meta
    // dir costs no Spark job (the per-batch bookkeeping rule)
    val (schema, rows) = graft.core.Stores.memoRows(spark, s"$path/meta")
    require(schema.fieldNames.contains("n_buckets"),
      s"$path uses the pre-bucketed fuzzy store layout; recreate it " +
        "with fuzzySave (meta lacks n_buckets)")
    val r = rows.head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Run one micro-batch of the gate against the store at `storePath`,
    * appending surviving docs to `outPath` and their keys + segment
    * rows to the store. Returns the number of surviving rows. Factored
    * out of the foreachBatch closure so batch specs can drive it.
    * Batches above `maxKeys` rows are auto-split (see `gateBatch`). */
  def processBatch(batch: DataFrame, storePath: String, outPath: String,
                   keyCol: String = "key", maxKeys: Int = 10000): Long =
    Scoped.cached(batch).use { b =>
      val kept = without(b, drops(b, storePath, keyCol, maxKeys))
      val nKept = kept.count()
      // out first, the store last: a crash between them duplicates
      // the batch on replay, never loses it
      kept.write.mode("append").parquet(outPath)
      appendKeys(batch.sparkSession, storePath,
        kept.where(col(keyCol).isNotNull)
          .select(col("doc_id").cast("long").as("id"), col(keyCol).as("s")))
      nKept
    }

  /** Append already-gated keys (id, s) to the store: one keys/ row and
    * d+1 string-carrying segs/ rows per key, cut and bucketed with the
    * store's recorded layout. Public so a composite pipeline
    * (IngestPipeline) can gate with `gateBatch`, fan the kept frame to
    * its sinks, and grow the store after them. `keys` is read twice
    * (keys/, then segs/): pass a frame over a persisted batch. */
  def appendKeys(spark: SparkSession, storePath: String,
                 keys: DataFrame): Unit = {
    val (d, minSeg, metaNB) = meta(spark, storePath)
    val nB = graft.core.Stores.geometry(spark, s"$storePath/segs", metaNB)
    writeKeys(keys, s"$storePath/keys", d, minSeg, "append")
    writeSegs(keys.withColumn("len", length(col("s"))),
      s"$storePath/segs", d, minSeg, nB, "append")
    graft.core.Stores.stampIfAbsent(spark, s"$storePath/segs", nB)
  }

  /** The gate half of `processBatch`: the batch's surviving rows (ALL
    * input columns ride along) without writing anything. Null-key rows
    * match nothing and always survive. The kept frame is `batch`
    * filtered by the gate's driver-side drop-id set, so it never reads
    * the store and the scope holds nothing; `batch` is read again by
    * every consumer, so pass a persisted one.
    *
    * The decision (`drops`) collects the batch's keys with their own
    * PassJoin index segments in one action, then folds id-ordered
    * slices of ≤ `maxKeys` keys; per slice it collects the slice's
    * probe rows (one action) and:
    *  - decides the in-batch first-wins rule on the driver, the keys
    *    in parallel: each key probes the segments and short keys of
    *    every smaller-id key — earlier slices' too, the carry lives on
    *    the driver (ALL of them, not just survivors: the rule is a
    *    conservative cascade, a dropped smaller-id key still drops its
    *    neighbors) — and candidates verify with the thresholded
    *    Levenshtein kernel Spark's `levenshtein` calls;
    *  - probes the store: the partition-pruned segs/ scan plus the
    *    short-key partition of keys/, inner-joined to the slice's probe
    *    rows (derived from the batch and broadcast explicitly), verified
    *    in the same stage.
    * The slices bound the broadcast and the probe rows on the driver;
    * the decision is the unsplit gate's at any `maxKeys` (pinned in
    * IngestFuzzySpec). Nothing is appended during the decision, so the
    * store read stays stable. */
  def gateBatch(batch: DataFrame, storePath: String,
                keyCol: String = "key",
                maxKeys: Int = 10000): Scoped[DataFrame] =
    Scoped.pure(without(batch, drops(batch, storePath, keyCol, maxKeys)))

  /** One keyed batch row as the gate collects it: the key and its own
    * index segments (lt, i, seg) (`Dedup.edIndexSegs`). */
  private final case class Key(id: Long, s: String, len: Int,
                               index: Array[(Int, Int, String)]) {
    val utf8: UTF8String = UTF8String.fromString(s)
  }

  /** A slice's two-sided PassJoin probe rows (lt, i, seg) by key id,
    * and the segs/ buckets they hash to. */
  private[graft] final case class Probes(rows: Map[Long, Array[(Int, Int, String)]],
                                         buckets: Seq[Int])

  /** The gate's decision: the doc_ids `gateBatch` drops. */
  private[streaming] def drops(batch: DataFrame, storePath: String,
                               keyCol: String, maxKeys: Int): Set[Long] = {
    require(maxKeys >= 1, "maxKeys must be >= 1")
    val spark = batch.sparkSession
    val (d, minSeg, metaNB) = meta(spark, storePath)
    val nB = graft.core.Stores.geometry(spark, s"$storePath/segs", metaNB)
    val base = batch.where(col(keyCol).isNotNull)
      .select(col("doc_id").cast("long").as("id"), col(keyCol).as("s"))
      .withColumn("len", length(col("s")))
    val keys = collectKeys(base, d, minSeg)
    val probeStore = keys.nonEmpty && hasData(spark, s"$storePath/keys")
    val carry = new Carry(d, minSeg)
    keys.grouped(maxKeys).flatMap { slice =>
      val sliceBase =
        if (slice.length == keys.length) base
        else base.where(col("id").between(slice.head.id, slice.last.id))
      val probes = collectProbes(sliceBase, d, minSeg, nB)
      val inBatch = carry.drops(slice, probes)
      if (!probeStore) inBatch
      else inBatch ++ storeProbe(spark, storePath, sliceBase, probes.buckets, d, minSeg, nB)
        .collect().map(_.getLong(0))
    }.toSet
  }

  /** The batch keys (id, s, len) with their index segments, collected
    * in ONE action (a union of two narrow projections of `base`),
    * sorted by id. */
  private def collectKeys(base: DataFrame, d: Int, minSeg: Int): Array[Key] = {
    val rows = base.select(lit(true).as("key"), col("id"), col("len").as("lt"),
        lit(0).as("i"), col("s").as("seg"))
      .unionByName(Dedup.edIndexSegs(base, d, minSeg).select(lit(false).as("key"),
        col("tid").as("id"), col("lt"), col("i"), col("seg")))
      .collect()
    val (keyRows, segRows) = rows.partition(_.getBoolean(0))
    val index = segRows.groupBy(_.getLong(1)).withDefaultValue(Array.empty)
    keyRows.map { r =>
      Key(r.getLong(1), r.getString(4), r.getInt(2),
        index(r.getLong(1)).map(x => (x.getInt(2), x.getInt(3), x.getString(4))))
    }.sortBy(_.id)
  }

  /** The two-sided probe rows of `base`'s keys with the segs/ bucket of
    * each, in one action — from the same expressions the store's segs/
    * rows and buckets were cut with. */
  private[graft] def collectProbes(base: DataFrame, d: Int, minSeg: Int,
                                   nB: Int): Probes = {
    val rows = Dedup.edProbeSegs(base, d, minSeg, twoSided = true)
      .select(col("pid"), col("lt"), col("i"), col("seg"), sbCol(nB).as("sb"))
      .collect()
    Probes(rows.groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => (r.getInt(1), r.getInt(2), r.getString(3))) },
      rows.map(_.getInt(4)).distinct.toSeq)
  }

  /** The in-batch first-wins rule's driver state: the index segments
    * and short keys of every key seen so far, across slices. A key
    * probes them exactly as a batch probes the store — its probe rows
    * against the index segments, a short key by length band against
    * the short keys — so every smaller-id key within `d` edits is a
    * candidate, and every candidate verifies exactly. */
  private final class Carry(d: Int, minSeg: Int) {
    import scala.collection.mutable
    private val shortCut = minSeg * (d + 1)
    private val seen = mutable.ArrayBuffer.empty[Key]
    private val segIdx = mutable.HashMap.empty[(Int, Int, String), mutable.ArrayBuffer[Int]]
    private val shortIdx = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]

    /** The ids of `slice` (the next keys in id order) within `d` of a
      * smaller-id key seen so far or in `slice`. The slice joins the
      * carry first; each key's verdict then reads only the carry (the
      * cascade never asks whether a neighbor survived), so the keys are
      * decided in parallel. */
    def drops(slice: Array[Key], probes: Probes): Array[Long] = {
      val from = seen.length
      for (key <- slice) {
        val k = seen.length
        seen += key
        key.index.foreach(r => segIdx.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += k)
        if (key.len < shortCut + d)
          shortIdx.getOrElseUpdate(key.len, mutable.ArrayBuffer.empty) += k
      }
      java.util.stream.IntStream.range(from, seen.length).parallel()
        .filter(k => near(k, probes.rows.getOrElse(seen(k).id, Array.empty)))
        .toArray.map(seen(_).id)
    }

    private def near(k: Int, probe: Array[(Int, Int, String)]): Boolean = {
      val key = seen(k)
      val cands =
        if (key.len < shortCut)
          (math.max(0, key.len - d) to key.len + d).iterator
            .flatMap(l => shortIdx.getOrElse(l, Nil))
        else probe.iterator.flatMap(r => segIdx.getOrElse(r, Nil))
      cands.filter(_ < k).distinct.exists(j => seen(j).id < key.id &&
        seen(j).utf8.levenshteinDistance(key.utf8, d) >= 0)
    }
  }

  /** The store probe for one slice `base` (id, s, len) of the batch, as
    * one plan with one output column `pid` (a batch id per verified
    * store match):
    *  - store side: segs/ read only in the slice's segs/ `buckets`
    *    (named `bucket=N` dirs plus the partition filter; a probe
    *    covering every bucket reads them all), plus the sh=1 partition
    *    of keys/ as length-band rows (lt = len, i = 0, seg = "") — the
    *    store's bounded-length short slice;
    *  - batch side: each long key's probe rows and each short key's
    *    band rows (lt = len ± d, i = 0, seg = ""), carrying the key
    *    string, derived from `base` and broadcast explicitly, so the
    *    store streams from parquet into the join with no shuffle at any
    *    size;
    *  - the thresholded `levenshtein` verify in the same stage.
    * segs/ can hold zero data files even when keys/ has them (every
    * kept key too short to cut segments): then the segments are recut
    * from keys/, empty by construction in exactly that case.
    * Package-visible for the plan pins. */
  private[graft] def storeProbe(spark: SparkSession, storePath: String,
                                base: DataFrame, buckets: Seq[Int], d: Int,
                                minSeg: Int, nB: Int): DataFrame = {
    val shortCut = minSeg * (d + 1)
    val probe = Dedup.edProbeSegs(base, d, minSeg, twoSided = true, carryS = true)
      .select(col("pid"), col("s").as("s_b"), col("lt"), col("i"), col("seg"))
      .unionByName(base.where(col("len") < shortCut)
        .select(col("id").as("pid"), col("s").as("s_b"),
          explode(sequence(greatest(lit(0), col("len") - d), col("len") + d)).as("lt"),
          lit(0).as("i"), lit("").as("seg")))
    val storeKeys = graft.core.Stores.readParquet(spark, s"$storePath/keys",
      StructField("sh", IntegerType))
    val shorts = storeKeys.where(col("sh") === 1 && length(col("s")) < shortCut + d)
      .select(length(col("s")).as("lt"), lit(0).as("i"), lit("").as("seg"), col("s"))
    val segs =
      if (!hasData(spark, s"$storePath/segs"))
        Dedup.edIndexSegs(storeKeys.withColumn("len", length(col("s"))), d, minSeg,
          carryS = true)
      else {
        val all = graft.core.Stores.bucketRead(spark, s"$storePath/segs", "sb",
          buckets, nB)
        if (buckets.length < nB) all.where(col("sb").isin(buckets.map(Integer.valueOf): _*))
        else all
      }
    segs.select("lt", "i", "seg", "s").unionByName(shorts)
      .join(broadcast(probe), Seq("lt", "i", "seg"))
      .where(levenshtein(col("s"), col("s_b"), d) >= 0)
      .select("pid")
  }

  /** Re-bucket segs/ to `nBuckets`: probes are GEOMETRY-INDEPENDENT
    * (every partition column is recomputed from the geometry in
    * force), so results are bit-equal across a rebalance; only the
    * probe's read volume changes. Staged, count-verified and
    * crash-safe: `Stores.rebucket` (its scaladoc walks the crash
    * windows); the trailing meta write only refreshes the bootstrap
    * copy. Run offline, never concurrently with ingest. Returns the
    * segs/ row count. */
  def fuzzyRebalance(spark: SparkSession, path: String,
                     nBuckets: Int): Long = {
    val (d, minSeg, _) = meta(spark, path)
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val n = graft.core.Stores.rebucket(spark, s"$path/segs", "sb",
      sbCol(nBuckets), nBuckets)
    import spark.implicits._
    Seq((d, minSeg, nBuckets)).toDF("max_dist", "min_seg", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    n
  }

  /** Growth-gated geometry maintenance of segs/: `Stores.maintain`
    * with `fuzzyRebalance` — the growth rule, its O(store) check and
    * the cadence to run it at are documented there. Returns the
    * geometry in force after the call. */
  def fuzzyMaintain(spark: SparkSession, path: String,
                    targetRowsPerBucket: Long = 1000000L,
                    growFactor: Int = 4): Int = {
    val (_, _, metaNB) = meta(spark, path)
    val segs = s"$path/segs"
    graft.core.Stores.maintain(spark, segs,
      graft.core.Stores.geometry(spark, segs, metaNB),
      targetRowsPerBucket, growFactor)(fuzzyRebalance(spark, path, _))
  }

  /** Start the streaming gate: `docs` is an unbounded stream carrying
    * doc_id + `keyCol` (+ anything else); survivors land in `outPath`,
    * their keys/segments in the store at `storePath` (pre-seed with
    * `fuzzySave` — possibly of an empty frame — to fix the layout).
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, outPath: String,
            checkpoint: String, keyCol: String = "key",
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs, checkpoint, trigger) { (batch, _) =>
      processBatch(batch, storePath, outPath, keyCol)
    }

  /** Offline compaction of the store (the `IngestDedup` contract:
    * replay duplicates are bit-identical, dedup on id). */
  def compactStore(spark: SparkSession, storePath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, s"$storePath/keys", Seq("id"),
      partitionCols = Seq("sh")) +
      graft.core.Stores.rewriteDeduped(spark, s"$storePath/segs",
        Seq("tid", "lt", "i", "seg"), partitionCols = Seq("sb"))
}
