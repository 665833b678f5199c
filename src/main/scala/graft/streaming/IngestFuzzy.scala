package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, length, lit, pmod, when, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.core.Scoped
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
  * batches as the store grew ×1.72). Now the probe collects its
  * distinct segment-bucket set (bounded by min(probe tuples,
  * nBuckets) — a statistics-sized driver list), prunes the segs/ read
  * to those partitions, and the verify reads `s` off the seg row —
  * per-batch store cost is the pruned scan, and with nBuckets grown
  * ∝ store (`fuzzyMaintain`, the lexMaintain discipline) the rows
  * read per probe bucket stay flat at the target. On a
  * narrow-vocabulary corpus whose probes cover every bucket the
  * pruned read degrades gracefully to the full scan — never worse
  * than the old shape, and the removed O(store) SHUFFLES stay
  * removed.
  *
  * Each micro-batch: (1) drop keys matching the store — pruned-probe
  * PassJoin (`Dedup.edStorePairsPruned`) + the bounded short-band
  * join + thresholded levenshtein verify; (2) drop keys matching a
  * smaller id within the batch (first-wins; batches above `maxKeys`
  * auto-split into id-ordered slices, folded serially, bit-identical
  * at any `maxKeys`); (3) append surviving DOCS to the output; (4)
  * append survivors' keys + segment rows, cut with the recorded
  * layout.
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

  // the geometry in force for segs/: the marker stamped inside the
  // data dir when present (atomic with the data — a crashed rebalance
  // can never leave data and geometry disagreeing), meta's n_buckets
  // as the bootstrap. Heals the rename-aside window first so a probe
  // or append landing between a crashed swap and its rerun sees the
  // complete old store, not an absent dir.
  private def segGeom(spark: SparkSession, path: String, metaNB: Int): Int = {
    graft.core.Stores.healAside(spark, s"$path/segs")
    graft.core.Stores.readGeometry(spark, s"$path/segs").getOrElse(metaNB)
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
    require(exists(spark, s"$path/meta"),
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
                   keyCol: String = "key", maxKeys: Int = 10000,
                   scratch: Option[String] = None): Long =
    Scoped.cached(batch).use { b =>
      val kept = without(b, drops(b, storePath, keyCol, maxKeys, scratch))
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
    val nB = segGeom(spark, storePath, metaNB)
    writeKeys(keys, s"$storePath/keys", d, minSeg, "append")
    writeSegs(keys.withColumn("len", length(col("s"))),
      s"$storePath/segs", d, minSeg, nB, "append")
    // a first append creates segs/ — stamp the geometry it was cut
    // with so later resolution never depends on meta staying in step
    if (graft.core.Stores.readGeometry(spark, s"$storePath/segs").isEmpty)
      graft.core.Stores.stampGeometry(spark, s"$storePath/segs", nB)
  }

  /** The gate half of `processBatch`: the batch's surviving rows (ALL
    * input columns ride along) without writing anything. Null-key rows
    * match nothing and always survive. The kept frame is `batch`
    * filtered by the gate's driver-side drop-id set, so it never reads
    * the store and the scope holds nothing; `batch` is read again by
    * every consumer, so pass a persisted one.
    *
    * Safe-by-default against the in-batch quadratic: the within-batch
    * self-join is quadratic in BATCH size on adversarial keys (round-9
    * measured ~8 min per 100 k-key batch at sf10, store-independent),
    * so batches above `maxKeys` keyed rows are split into id-ordered
    * slices of ≤ `maxKeys` and folded serially — each slice probes the
    * store PLUS every earlier slice's keys (ALL of them, not just
    * survivors: the first-wins rule is a conservative cascade, a
    * dropped smaller-id key still drops its neighbors), which is
    * exactly the unsplit gate's decision for every key, so the output
    * is bit-identical at any `maxKeys` (pinned in IngestFuzzySpec).
    * Slice bounds are every `maxKeys`-th of the batch's sorted keyed
    * ids, collected once (bounded by batch rows). Nothing is appended
    * during the fold, so the store read stays stable.
    *
    * `scratch`: shuffle files accumulate for the LIFETIME of a batch
    * closure — they release with the frames, not per join — so one
    * corpus-fraction fold spills O(slices × slice-shuffle) local disk
    * (round 11 measured 71 GB / 360 k keys at sf100 before filling the
    * disk). Passing a scratch directory turns each slice's carry
    * frames (its segments and short keys, which every later slice
    * probes) into DISK-BACKED lineage cuts: they land in scratch
    * parquet and are re-read, so nothing references the slice's
    * shuffles once it folds (the in-memory LogicalRDD cut can never
    * free them — its RDD graph holds the shuffle dependencies) and
    * ContextCleaner reclaims them mid-fold; peak spill is then
    * O(slice), not O(batch). Output is bit-identical (IngestFuzzySpec
    * pin). Costs one parquet round-trip per slice — for bulk
    * backfills, not steady micro-batches. The caller owns the scratch
    * dir's lifecycle. */
  def gateBatch(batch: DataFrame, storePath: String,
                keyCol: String = "key",
                maxKeys: Int = 10000,
                scratch: Option[String] = None): Scoped[DataFrame] =
    Scoped.pure(without(batch, drops(batch, storePath, keyCol, maxKeys, scratch)))

  /** The gate's decision: the doc_ids `gateBatch` drops, one collect
    * per slice. Every frame the fold persists is released before it
    * returns. */
  private[streaming] def drops(batch: DataFrame, storePath: String,
                               keyCol: String, maxKeys: Int,
                               scratch: Option[String]): Set[Long] = {
    require(maxKeys >= 1, "maxKeys must be >= 1")
    val spark = batch.sparkSession
    val (d, minSeg, metaNB) = meta(spark, storePath)
    val nB = segGeom(spark, storePath, metaNB)
    val base = batch.where(col(keyCol).isNotNull)
      .select(col("doc_id").cast("long").as("id"), col(keyCol).as("s"))
      .withColumn("len", length(col("s")))
    // the short-key slice: ONLY the sh=1 partition is ever read — the
    // band fallback's store side is bounded-length by layout
    val storeShorts =
      if (exists(spark, s"$storePath/keys"))
        spark.read.parquet(s"$storePath/keys").where(col("sh") === 1)
          .select(col("id"), col("s"), length(col("s")).as("len"))
      else base.limit(0)
    // slice i holds the keyed ids in [starts(i), starts(i + 1))
    val ids = base.select("id").collect().map(_.getLong(0)).sorted
    val starts = ids.indices.by(maxKeys).map(ids(_))
    def slice(i: Int): DataFrame =
      if (starts.length == 1) base
      else base.where(col("id") >= lit(starts(i)) &&
        (if (i + 1 < starts.length) col("id") < lit(starts(i + 1)) else lit(true)))
    // every carry frame (a slice's segments and short keys, probed by
    // all later slices) gets its LINEAGE CUT: without it, slice i's
    // plan embeds every prior slice's tree, and the plan STRING Spark
    // renders once per job for the SQL-start event froze the sf10
    // campaign's driver inside TreeNode.generateTreeString before a
    // single task was slow. In memory the cut is a LogicalRDD leaf
    // over the persisted frame (an evicted block recomputes through
    // the RDD lineage, so nothing ships through task results — the
    // round-3 localCheckpoint trap); with `scratch` it is a parquet
    // round-trip (explicit schema on the re-read — an empty slice
    // commits no part file).
    val hold = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame, name: String): DataFrame = scratch match {
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        hold += p
        spark.createDataFrame(p.rdd, p.schema)
      case Some(dir) =>
        df.write.mode("overwrite").parquet(s"$dir/$name")
        spark.read.schema(df.schema).parquet(s"$dir/$name")
    }
    var carrySegs: DataFrame = null
    var carryShorts: DataFrame = null
    try starts.indices.foldLeft(Set.empty[Long]) { (acc, i) =>
      val sl = slice(i)
      val segs = prunedStoreSegs(spark, storePath, sl, d, minSeg, nB)
      val (sg, sh) =
        if (carrySegs == null) (segs, storeShorts)
        else (segs.unionByName(carrySegs), storeShorts.unionByName(carryShorts))
      val dropped = Dedup.fuzzyKeyDropsPruned(sl, sg, sh, d, minSeg)
        .collect().map(_.getLong(0))
      if (i < starts.length - 1) { // the last slice's keys probe nothing
        val segsI = cut(Dedup.edIndexSegs(sl, d, minSeg, carryS = true), s"segs_$i")
        val shortsI = cut(sl.where(col("len") < minSeg * (d + 1) + d)
          .select("id", "s", "len"), s"shorts_$i")
        carrySegs = if (carrySegs == null) segsI else carrySegs.unionByName(segsI)
        carryShorts =
          if (carryShorts == null) shortsI else carryShorts.unionByName(shortsI)
      }
      // prompt ContextCleaner — default periodic GC is 30 min
      if (scratch.isDefined) System.gc()
      acc ++ dropped
    } finally hold.foreach(_.unpersist(blocking = false))
  }

  /** The pruned segs/ read for one probe frame (id, s, len): collect
    * the probe's distinct segment-bucket set — bounded by min(probe
    * tuples, nBuckets), a statistics-sized driver list — and prune the
    * scan to those partitions. A probe covering every bucket skips the
    * filter entirely (graceful degradation to the full scan, never
    * worse than the pre-bucketed layout). segs/ can hold zero data
    * files even when keys/ has them (every kept key short enough to
    * cut no segments — the empty-append case): recut from the keys,
    * empty by construction in exactly that case. Package-visible for
    * the partition-prune plan pin. */
  private[graft] def prunedStoreSegs(spark: SparkSession, storePath: String,
                                     batchBase: DataFrame, d: Int,
                                     minSeg: Int, nB: Int): DataFrame =
    if (!exists(spark, s"$storePath/segs")) {
      val keys =
        if (exists(spark, s"$storePath/keys"))
          spark.read.parquet(s"$storePath/keys")
            .select(col("id"), col("s"))
            .withColumn("len", length(col("s")))
        else batchBase.limit(0)
      Dedup.edIndexSegs(keys, d, minSeg, carryS = true)
    } else {
      val buckets = Dedup.edProbeSegs(batchBase, d, minSeg, twoSided = true)
        .select(sbCol(nB).as("sb")).distinct()
        .collect().map(_.getInt(0))
      // direct-path bucket read: never list the other buckets' dirs
      // (the lexBucketRead discipline — full listing dominates small
      // probes once maintenance scales nBuckets with the store)
      val segs = graft.core.Stores.bucketRead(
        spark, s"$storePath/segs", "sb", buckets.toIndexedSeq, nB)
      (if (buckets.length < nB)
         segs.where(col("sb").isin(buckets.map(Integer.valueOf): _*))
       else segs)
        .select("lt", "i", "seg", "tid", "s")
    }

  /** Re-bucket segs/ to `nBuckets` — the lexRebalance discipline:
    * probes are GEOMETRY-INDEPENDENT (every partition column is
    * recomputed from meta/), so results are bit-equal across a
    * rebalance; only the probe's read volume changes. Staged: full
    * new segs land at `segs.rebal` WITH the new geometry stamped
    * inside (`_GEOMETRY`), COUNT-VERIFIED, then the rename-aside swap
    * with every boolean checked and the crashed-run self-heal (a
    * leftover `.old` with segs/ missing IS the store — renamed back,
    * never deleted; probes/appends heal this window too). The promote
    * rename is the ATOMIC geometry+data cutover: probes resolve
    * n_buckets from the marker riding inside whichever segs/ they
    * open, so no crash point leaves data partitioned by one geometry
    * while probes prune by another (the round-12 silent-miss window,
    * closed — crash-injection pinned in GeometryCutoverSpec). The
    * trailing meta write only refreshes the bootstrap copy. Run
    * offline, never concurrently with ingest. */
  def fuzzyRebalance(spark: SparkSession, path: String,
                     nBuckets: Int): Long = {
    val (d, minSeg, _) = meta(spark, path)
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$path/segs")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/segs.rebal")
    val old = new org.apache.hadoop.fs.Path(s"$path/segs.old")
    if (fs.exists(old)) {
      if (!fs.exists(p))
        require(fs.rename(old, p), s"self-heal rename $old -> $p failed")
      else
        require(fs.delete(old, true), s"could not clear stale $old")
    }
    import spark.implicits._
    if (!exists(spark, p.toString)) { // zero-segment store: meta only
      Seq((d, minSeg, nBuckets)).toDF("max_dist", "min_seg", "n_buckets")
        .write.mode("overwrite").parquet(s"$path/meta")
      return 0L
    }
    val before = spark.read.parquet(p.toString).count()
    spark.read.parquet(p.toString)
      .select("lt", "i", "seg", "tid", "s")
      .withColumn("sb", sbCol(nBuckets))
      .transform(graft.core.Stores.writeLayout(_, col("sb")))
      .write.mode("overwrite").partitionBy("sb").parquet(tmp.toString)
    // geometry rides INSIDE the staged dir: the promote rename below
    // swaps data and geometry in one atomic step
    graft.core.Stores.stampGeometry(spark, tmp.toString, nBuckets)
    val n = spark.read.parquet(tmp.toString).count()
    require(n == before,
      s"rebalanced segs lost rows ($before -> $n); aborting with the " +
        s"store untouched — $tmp left for inspection")
    require(fs.rename(p, old), s"rename $p -> $old failed")
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed " +
      s"(old segs preserved at $old — rename back to recover)")
    require(fs.delete(old, true), s"could not delete $old")
    Seq((d, minSeg, nBuckets)).toDF("max_dist", "min_seg", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    n
  }

  /** Growth-gated geometry maintenance (the lexMaintain discipline):
    * rebalance only when the mean bucket has grown past `growFactor` ×
    * `targetRowsPerBucket`, to ceil(rows / target) buckets — steady
    * appends pay nothing, a store grown 100× pays one staged rewrite.
    * Returns the geometry in force after the call. The CHECK itself
    * costs a full segs/ count (an O(store) scan plus the all-buckets
    * listing) — wired into a per-batch maintenance hook it reinstates
    * the O(store) term the probe pruning removed, so gate its cadence
    * by the hook's batch id (e.g. `if (id % 16 == 0)`), not per batch. */
  def fuzzyMaintain(spark: SparkSession, path: String,
                    targetRowsPerBucket: Long = 1000000L,
                    growFactor: Int = 4): Int = {
    val (_, _, metaNB) = meta(spark, path)
    require(targetRowsPerBucket > 0 && growFactor >= 1, "positive sizing")
    if (!exists(spark, s"$path/segs")) return metaNB
    val nB = segGeom(spark, path, metaNB)
    val rows = spark.read.parquet(s"$path/segs").count()
    if (rows / nB <= growFactor * targetRowsPerBucket) nB
    else {
      val want = ((rows + targetRowsPerBucket - 1) / targetRowsPerBucket).toInt
      fuzzyRebalance(spark, path, want)
      want
    }
  }

  /** Start the streaming gate: `docs` is an unbounded stream carrying
    * doc_id + `keyCol` (+ anything else); survivors land in `outPath`,
    * their keys/segments in the store at `storePath` (pre-seed with
    * `fuzzySave` — possibly of an empty frame — to fix the layout). */
  def start(docs: DataFrame, storePath: String, outPath: String,
            checkpoint: String, keyCol: String = "key",
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, storePath, outPath, keyCol)
        ()
      }
      .start()

  /** Offline compaction of the at-least-once sinks (the `IngestDedup`
    * contract: replay duplicates are bit-identical, dedup on id). */
  def compactKept(spark: SparkSession, outPath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, outPath, Seq("doc_id"))

  def compactStore(spark: SparkSession, storePath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, s"$storePath/keys", Seq("id"),
      partitionCols = Seq("sh")) +
      graft.core.Stores.rewriteDeduped(spark, s"$storePath/segs",
        Seq("tid", "lt", "i", "seg"), partitionCols = Seq("sb"))

  // strict: committed DATA files (recursively — partitioned stores keep
  // them under partition dirs), not just _SUCCESS: a fuzzySave of an
  // EMPTY seed frame commits the directory with no part files (Spark
  // writes no file for an empty non-zero-partition frame), and reading
  // it would die on schema inference; treat it as the empty store.
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData(q: org.apache.hadoop.fs.Path, depth: Int): Boolean =
      fs.listStatus(q).exists { st =>
        (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
          (st.isDirectory && depth > 0 && hasData(st.getPath, depth - 1))
      }
    fs.exists(p) && hasData(p, 1)
  }
}
