package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_count, broadcast, col, count, countDistinct, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Scoped
import graft.operators.{Dedup, Multimodal}

/** ONE gate implementation for every 64-bit perceptual-fingerprint
  * channel (image dHash, audio energy aHash, video per-frame dHash):
  * the caller supplies a fingerprint function mapping a batch to
  * (id, p, h) rows — `p` a part index within the record — and the gate
  * drops an incoming record iff some already-kept record (or a
  * smaller-id record in the same batch, the first-wins cascade) has
  * the SAME part count and EVERY aligned part within `maxHamming`.
  * Single-part channels (images, audio: one hash per record, p = 0)
  * reduce exactly to the any-match-drops rule; the video channel's
  * all-frames rule (`Multimodal.videoNearDupPairs` semantics) is the
  * same predicate at np = frame count.
  *
  * State is a parquet fingerprint store, NOT Spark streaming state:
  *   hashes/ (id, p, h, np)               — every kept part hash plus
  *                                          its record's part count
  *   meta/   (max_hamming, block_choose)  — the banding layout probes
  *                                          and appends must match
  *
  * Scale shape (the IngestLinkage rule): the store side of the probe
  * is the corpus and must STREAM from parquet with no shuffle at any
  * size, so the batch-side band rows are broadcast EXPLICITLY — static
  * size estimates on persisted batch frames can't be trusted with that
  * decision. Broadcast volume is bounded in PARTS, not records
  * (`gateBatch(maxBandRows)`): batches whose fps rows × C(d+bc, bc)
  * band rows exceed the bound auto-split into id-ordered slices with
  * bit-identical output, so even a long-clip video batch never
  * broadcasts more than a few tens of MB. Per-batch cost is O(store
  * scan + batch × matching band
  * keys); nothing store-sized is ever shuffled or exploded into a
  * shuffle. Banding is the SimHash pigeonhole (exact recall at the
  * radius, per aligned part).
  *
  * Records whose fingerprint fn yields NO parts (null / undecodable
  * payloads) match nothing and always survive — an accounting
  * decision, not a crash. Delivery matches the family: at-least-once
  * sinks, a replayed batch re-finds its own hashes at hamming 0 and
  * drops itself, crash between out write and store append duplicates
  * rows (never loses them), `compact*` reclaims offline. */
object IngestFingerprints {

  /** Batch → (id, p, h): one dHash row per decodable image payload. */
  def imageFps(batch: DataFrame, imageCol: String = "image"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long").as("id"), col(imageCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, img) =>
        if (img == null) None
        else Multimodal.dHash64(img).map(h => (id, 0, h))
      }).toDF("id", "p", "h")
  }

  /** Batch → (id, p, h): one energy-envelope aHash row per decodable
    * audio payload (volume-invariant, `Multimodal.audioAHash64`). */
  def audioFps(batch: DataFrame, audioCol: String = "audio"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long").as("id"), col(audioCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, audio) =>
        if (audio == null) None
        else Multimodal.audioAHash64(audio).map(h => (id, 0, h))
      }).toDF("id", "p", "h")
  }

  /** Batch → (id, p, h): one dHash row PER FRAME of each decodable
    * video payload, p = frame index — the frame-aligned multi-part
    * channel (two clips gate-match iff same frame count and every
    * aligned frame within the radius). */
  def videoFps(batch: DataFrame, videoCol: String = "video"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long").as("id"), col(videoCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, video) =>
        if (video == null) Iterator.empty
        else Multimodal.aviDemux(video).iterator.flatMap {
          case (w, h, frames) => frames.iterator.zipWithIndex.map {
            case (f, i) => (id, i, Multimodal.frameDHash(f, w, h))
          }
        }
      }).toDF("id", "p", "h")
  }

  /** Create the store at `path` from an existing fingerprint corpus
    * (possibly empty): (id, p, h) rows — each id's parts COMPLETE in
    * the frame (np is derived per id). */
  def fpSave(spark: SparkSession, fps: DataFrame, path: String,
             maxHamming: Int, blockChoose: Int = 3): Unit = {
    import spark.implicits._
    require(maxHamming >= 0 && blockChoose >= 1 &&
      maxHamming + blockChoose <= 64, "banding must fit 64 bits")
    withNp(fps).write.mode("overwrite").parquet(s"$path/hashes")
    Seq((maxHamming, blockChoose)).toDF("max_hamming", "block_choose")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  // (id, p, h) → (id, p, h, np); the groupBy runs on batch-sized
  // frames only (fpSave seeds, appendFps deltas), never the store
  private def withNp(fps: DataFrame): DataFrame = {
    val typed = fps.select(col("id").cast("long").as("id"),
      col("p").cast("int").as("p"), col("h").cast("long").as("h"))
    typed.join(typed.groupBy("id").agg(count(lit(1)).cast("int").as("np")),
      Seq("id"))
      .select("id", "p", "h", "np")
  }

  private def meta(spark: SparkSession, path: String): (Int, Int) = {
    require(exists(spark, s"$path/meta"),
      s"$path is not an fpSave store (missing meta/)")
    // listing-keyed driver memo: a repeat read of an unchanged meta
    // dir costs no Spark job (the per-batch bookkeeping rule)
    val r = graft.core.Stores.memoRows(spark, s"$path/meta")._2.head
    (r.getInt(0), r.getInt(1))
  }

  /** Run one micro-batch of the gate: survivors append to `outPath`,
    * their fingerprints to the store. Returns kept rows. */
  def processBatch(batch: DataFrame, storePath: String, outPath: String,
                   fps: DataFrame, maxBandRows: Long = 1L << 21): Long =
    Scoped.cached(batch).use { b =>
      gateBatch(b, storePath, fps, maxBandRows).use { case (kept, keptFps) =>
        val nKept = kept.count()
        // out first, the store last: a crash between them duplicates
        // the batch on replay, never loses it
        kept.write.mode("append").parquet(outPath)
        appendFps(batch.sparkSession, storePath, keptFps)
        nKept
      }
    }

  /** Append already-gated fingerprints (id, p, h) to the store — each
    * id's parts complete in the frame. Public so a composed pipeline
    * can gate, fan out its sinks, and grow this store after them. If the optional bands/ serving index
    * exists (`bandsSave`), the batch's band rows append there too —
    * O(batch × C(d+bc, bc)) rows — so point probes never serve stale
    * results; replay duplicates collapse in `fpProbe`'s distinct. */
  def appendFps(spark: SparkSession, storePath: String,
                fps: DataFrame): Unit = {
    val (d, bc) = meta(spark, storePath)
    val np = withNp(fps)
    np.write.mode("append").parquet(s"$storePath/hashes")
    if (exists(spark, s"$storePath/bands")) {
      val nB = graft.core.Stores.readGeometry(spark, s"$storePath/bands")
        .getOrElse(throw new IllegalStateException(
          s"$storePath/bands has no stamped geometry"))
      Dedup.hammingBandRows(np, 64, d, bc, carry = Seq("p", "np"),
          hint = false)
        .withColumn("bb", bbCol(nB))
        // append path: partition count capped by the known geometry
        .transform(graft.core.Stores.writeLayout(_, nB, col("bb")))
        .write.mode("append").partitionBy("bb").parquet(s"$storePath/bands")
    }
  }

  // bands/ partition column: the band-key bucket a point probe prunes
  // by — a pure function of (band, bkey) and the stamped geometry
  private def bbCol(nBuckets: Int) =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(col("band"), col("bkey")),
      org.apache.spark.sql.functions.lit(nBuckets.toLong)).cast("int")

  /** Materialize the OPTIONAL bands/ serving index: every store
    * fingerprint's C(d+bc, bc) band rows, partitioned by the band-key
    * bucket, geometry stamped inside the dir (the atomic-cutover
    * rule). This is the round-12 "derive-don't-materialize" verdict's
    * OTHER regime: for INGEST-sized batches (10⁴ records) the batch's
    * band keys cover every bucket and the 20× row blowup buys nothing
    * over the columnar hashes/ scan — the gate never reads bands/.
    * A POINT probe (a handful of records = tens of band keys) is the
    * opposite case: it reads only its own band buckets via named-dir
    * `Stores.bucketRead`, turning an O(store) scan + explode into an
    * O(store/nBuckets × keys) pruned read (SCALE.md round-13 fpserve:
    * 11–18× at 5–20 M fingerprints, flat vs store size at fixed
    * geometry density). Rebuildable at any time from hashes/; appends
    * keep it consistent (`appendFps`). Sized like every bucketed
    * store: corpus-proportional (`targetRowsPerBucket` of band rows).
    * Crash safety is by DERIVATION, not swap discipline: a crash
    * between the clear and the promote leaves bands/ absent and
    * `fpProbe` falls back to the hashes/-derived scan — bit-equal
    * results, never a wrong answer; rerun to restore the fast path.
    * Run offline, never concurrently with ingest. */
  def bandsSave(spark: SparkSession, storePath: String,
                targetRowsPerBucket: Long = 1000000L): Long = {
    val (d, bc) = meta(spark, storePath)
    require(targetRowsPerBucket > 0, "positive sizing")
    val hashes = spark.read.parquet(s"$storePath/hashes")
    val bandFactor = (0 until (d + bc)).combinations(bc).size.toLong
    val totalBands = hashes.count() * bandFactor
    val nB = math.max(1L,
      (totalBands + targetRowsPerBucket - 1) / targetRowsPerBucket).toInt
    val tmp = s"$storePath/bands.rebal"
    Dedup.hammingBandRows(hashes, 64, d, bc, carry = Seq("p", "np"),
        hint = false)
      .withColumn("bb", bbCol(nB))
      .transform(graft.core.Stores.writeLayout(_, col("bb")))
      .write.mode("overwrite").partitionBy("bb").parquet(tmp)
    graft.core.Stores.stampGeometry(spark, tmp, nB)
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$storePath/bands")
    if (fs.exists(p)) require(fs.delete(p, true), s"could not clear $p")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"rename $tmp -> $p failed")
    totalBands
  }

  /** SERVING point lookup: the store records matching each probe
    * record under the gate's predicate (same part count, every aligned
    * part within the radius) — (id, oid) pairs, id = probe, oid =
    * store. Uses the bands/ index when present (pruned named-dir read
    * of only the probe's band buckets — the paying shape for a
    * handful of records); falls back to deriving band rows from the
    * full hashes/ scan (bit-equal results, IngestFingerprintsSpec
    * pin). `fps` is the caller-computed probe fingerprint frame
    * (id, p, h), parts complete per id. */
  def fpProbe(spark: SparkSession, storePath: String,
              fps: DataFrame): DataFrame = {
    val (d, bc) = meta(spark, storePath)
    val bh = withNp(fps)
    val bandB = Dedup.hammingBandRows(bh, 64, d, bc,
      carry = Seq("p", "np"), hint = false)
    val bandS =
      if (exists(spark, s"$storePath/bands")) {
        val nB = graft.core.Stores.readGeometry(spark, s"$storePath/bands")
          .getOrElse(throw new IllegalStateException(
            s"$storePath/bands has no stamped geometry"))
        val buckets = bandB.select(bbCol(nB).as("bb")).distinct()
          .collect().map(_.getInt(0))
        val all = graft.core.Stores.bucketRead(
          spark, s"$storePath/bands", "bb", buckets.toIndexedSeq, nB)
        (if (buckets.length < nB)
           all.where(col("bb").isin(buckets.map(Integer.valueOf): _*))
         else all).drop("bb")
      } else if (exists(spark, s"$storePath/hashes"))
        Dedup.hammingBandRows(spark.read.parquet(s"$storePath/hashes"),
          64, d, bc, carry = Seq("p", "np"), hint = false)
      else bandB.limit(0)
    matchPairs(broadcast(bandB).as("x").join(bandS.as("y"), alignOn,
      "inner"), d)
  }

  // matched (x, y, p) triples → (id, oid) pairs where EVERY aligned
  // part of x matched y (the gate predicate, keeping the partner)
  private def matchPairs(joined: DataFrame, d: Int): DataFrame =
    joined.where(bit_count(col("x.h").bitwiseXOR(col("y.h"))) <= d)
      .select(col("x.id").as("id"), col("y.id").as("oid"),
        col("x.p").as("p"), col("x.np").as("np"))
      .groupBy("id", "oid", "np")
      .agg(countDistinct(col("p")).as("m"))
      .where(col("m") === col("np"))
      .select("id", "oid").distinct()

  /** The gate half: kept rows with ALL input columns and survivors'
    * fingerprint rows (id, p, h), scoped to the persisted fingerprint
    * frame. Nothing is written. Both are filtered by the gate's
    * driver-side drop-id set, so neither reads the store; `batch` is
    * read again by every consumer of the kept frame, so pass a
    * persisted one.
    * `fps` is the caller-computed fingerprint frame for THIS batch
    * ((id, p, h), ids = doc_id values, parts complete per id).
    *
    * Micro-batch sizing is in PARTS, not records: the broadcast probe
    * side is fps rows × C(d+bc, bc) band rows, so a 10⁴-clip video
    * batch of long clips (100+ frames × 20 bands) would broadcast
    * tens of millions of rows and blow the explicit-broadcast limits
    * with record-based sizing. Batches whose band-row volume exceeds
    * `maxBandRows` are AUTO-SPLIT into id-ordered slices (ids never
    * split — the all-parts predicate needs a record whole) and folded
    * serially: each slice probes the store PLUS every earlier slice's
    * fingerprint rows (ALL of them — the conservative first-wins
    * cascade, the IngestFuzzy slice rule), which is exactly the
    * unsplit gate's decision for every id, so the output is
    * bit-identical at any `maxBandRows` (IngestFingerprintsSpec
    * parity pin) and every broadcast stays bounded. */
  def gateBatch(batch: DataFrame, storePath: String, fps: DataFrame,
                maxBandRows: Long = 1L << 21): Scoped[(DataFrame, DataFrame)] =
    decide(storePath, fps, maxBandRows).map { case (drops, bh) =>
      (without(batch, drops), without(bh, drops, "id").select("id", "p", "h"))
    }

  /** The gate's decision: the ids to drop, collected in one action over
    * every slice, and the persisted (id, p, h, np) fingerprint frame the
    * scope releases. */
  private[streaming] def decide(storePath: String, fps: DataFrame,
                                maxBandRows: Long = 1L << 21)
      : Scoped[(Set[Long], DataFrame)] = {
    require(maxBandRows >= 1, "maxBandRows must be >= 1")
    val spark = fps.sparkSession
    val (d, bc) = meta(spark, storePath)
    // C(d+bc, bc): band rows per fingerprint row
    val bandFactor = (0 until (d + bc)).combinations(bc).size.toLong
    Scoped.cached(withNp(fps)).map { bh =>
      val store =
        if (exists(spark, s"$storePath/hashes"))
          spark.read.parquet(s"$storePath/hashes")
        else bh.limit(0)
      // per-id part counts, batch-bounded: their total sizes the probe,
      // and an oversized batch packs them greedily into contiguous id
      // ranges (one slice in the common case)
      val idParts = bh.select("id", "np").distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      val sliceFrames: Seq[DataFrame] =
        if (idParts.map(_._2.toLong).sum * bandFactor <= maxBandRows) Seq(bh)
        else {
          val maxParts = (maxBandRows / bandFactor) max 1L
          val startIds = scala.collection.mutable.ArrayBuffer.empty[Long]
          var acc = 0L
          for ((id, np) <- idParts) {
            if (startIds.isEmpty || acc + np > maxParts) {
              startIds += id; acc = 0L
            }
            acc += np
          }
          val bounds = startIds.toSeq :+ Long.MaxValue
          bounds.sliding(2).map { case Seq(lo, hi) =>
            bh.where(col("id") >= lit(lo) &&
              (if (hi == Long.MaxValue) lit(true) else col("id") < lit(hi)))
          }.toSeq
        }
      // fold: slice i probes store + all earlier slices' rows (smaller
      // ids by construction), then its own smaller-id rows in-slice —
      // the union of the two is the unsplit gate's predicate exactly
      var prior: DataFrame = null
      val dropFrames = sliceFrames.map { bhI =>
        val storeSide = if (prior == null) store else store.unionByName(prior)
        val dropsStore = storeProbe(bhI, storeSide, d, bc)
        // vs smaller-id batch rows: the conservative first-wins cascade
        // (a dropped smaller-id record still drops its neighbors — the
        // IngestFuzzy batch rule, which is what makes slice folds exact)
        val bandB = Dedup.hammingBandRows(bhI, 64, d, bc,
          carry = Seq("p", "np"), hint = false)
        val dropsBatch = dropIds(bandB.as("x")
          .join(bandB.as("y"), alignOn && col("y.id") < col("x.id"), "inner"), d)
        prior = if (prior == null) bhI else prior.unionByName(bhI)
        dropsStore.unionByName(dropsBatch)
      }
      val drops = dropFrames.reduce(_.unionByName(_)).distinct()
        .collect().map(_.getLong(0)).toSet
      (drops, bh)
    }
  }

  /** Batch ids dropped by the STORE probe — the corpus-scale join.
    * The batch-side band rows are broadcast EXPLICITLY so the store's
    * band rows stream from parquet with no shuffle at any store size
    * (the IngestLinkage rule: static estimates on persisted batch
    * frames can't be trusted with this decision). Aligned-part match:
    * same band bucket, same part index, same part count, xor within
    * radius — a record drops iff ALL its np parts matched the SAME
    * store record. Exposed private[graft] for the plan-shape pin. */
  private[graft] def storeProbe(bh: DataFrame, store: DataFrame,
                                d: Int, bc: Int): DataFrame = {
    val bandB = Dedup.hammingBandRows(bh, 64, d, bc,
      carry = Seq("p", "np"), hint = false)
    val bandS = Dedup.hammingBandRows(store, 64, d, bc,
      carry = Seq("p", "np"), hint = false)
    dropIds(broadcast(bandB).as("x").join(bandS.as("y"), alignOn, "inner"), d)
  }

  private def alignOn: org.apache.spark.sql.Column =
    col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
      col("x.p") === col("y.p") && col("x.np") === col("y.np")

  // matched (x, y, p) triples (distinct across bands) → x ids whose
  // matched-part count against some single y reaches x's part count;
  // the aggregate runs on CANDIDATES only, never anything store-sized
  private def dropIds(joined: DataFrame, d: Int): DataFrame =
    matchPairs(joined, d).select("id").distinct()

  /** Start the streaming gate: `docs` carries doc_id + the payload
    * column(s) `fpFn` reads; pre-seed the store with `fpSave` (possibly
    * of an empty frame) to fix the banding layout. */
  def start(docs: DataFrame, storePath: String, outPath: String,
            checkpoint: String, fpFn: DataFrame => DataFrame,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, storePath, outPath, fpFn(batch))
        ()
      }
      .start()

  def compactKept(spark: SparkSession, outPath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, outPath, Seq("doc_id"))

  def compactStore(spark: SparkSession, storePath: String): Long = {
    if (exists(spark, s"$storePath/bands"))
      graft.core.Stores.rewriteDeduped(spark, s"$storePath/bands",
        Seq("id", "p", "band"), partitionCols = Seq("bb"))
    graft.core.Stores.rewriteDeduped(spark, s"$storePath/hashes",
      Seq("id", "p"))
  }

  // committed DATA files, recursing one level (the round-12 rule:
  // partitioned stores like bands/ keep them under partition dirs)
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
