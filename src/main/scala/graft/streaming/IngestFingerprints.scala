package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_count, broadcast, col, count, countDistinct, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.Scoped
import graft.core.Stores.hasData
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
  * Scale shape (the IngestLinkage rule): each batch's fingerprints are
  * collected once; the in-batch first-wins rule is decided on the
  * driver. The store side of the probe is the corpus and must STREAM
  * from parquet with no shuffle at any size, so the batch-side band
  * rows are broadcast EXPLICITLY from a local frame — one store scan
  * per probe, and only matched parts come back to the driver. Broadcast
  * volume is bounded in PARTS, not records (`gateBatch(maxBandRows)`):
  * batches whose fps rows × C(d+bc, bc) band rows exceed the bound
  * probe the store in id-ordered slices with bit-identical output, so
  * even a long-clip video batch never broadcasts more than a few tens
  * of MB. Per-batch cost is O(store scan + batch × matching band
  * keys); nothing store-sized is ever shuffled or exploded into a
  * shuffle. Banding is the SimHash pigeonhole (exact recall at the
  * radius, per aligned part).
  *
  * Records whose fingerprint fn yields NO parts (null / undecodable
  * payloads) match nothing and always survive — an accounting
  * decision, not a crash. Delivery matches the family: at-least-once
  * sinks, a replayed batch re-finds its own hashes at hamming 0 and
  * drops itself, crash between out write and store append duplicates
  * rows (never loses them), `compactKept`/`compactStore` reclaim offline. */
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
    require(hasData(spark, s"$path/meta"),
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
      val (drops, bh) = decide(storePath, fps, maxBandRows)
      val kept = without(b, drops)
      val nKept = kept.count()
      // out first, the store last: a crash between them duplicates
      // the batch on replay, never loses it
      kept.write.mode("append").parquet(outPath)
      appendRows(batch.sparkSession, storePath, without(bh, drops, "id"))
      nKept
    }

  /** Append already-gated fingerprints (id, p, h) to the store — each
    * id's parts complete in the frame. Public so a composed pipeline
    * can gate, fan out its sinks, and grow this store after them. If the optional bands/ serving index
    * exists (`bandsSave`), the batch's band rows append there too —
    * O(batch × C(d+bc, bc)) rows — so point probes never serve stale
    * results; replay duplicates collapse in `fpProbe`'s distinct. */
  def appendFps(spark: SparkSession, storePath: String,
                fps: DataFrame): Unit =
    appendRows(spark, storePath, withNp(fps))

  /** `appendFps` of rows that already carry their part count
    * (id, p, h, np) — the gate's own collected frame. */
  private[streaming] def appendRows(spark: SparkSession, storePath: String,
                                    np: DataFrame): Unit = {
    val (d, bc) = meta(spark, storePath)
    np.write.mode("append").parquet(s"$storePath/hashes")
    if (hasData(spark, s"$storePath/bands")) {
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
    * Delete-then-promote is deliberate, not the `Stores` rename-aside
    * swap: `appendRows` skips an absent bands/, so a healed-back
    * `.old` would silently miss those appends (a stale serving index).
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
      if (hasData(spark, s"$storePath/bands")) {
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
      } else if (hasData(spark, s"$storePath/hashes"))
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
    * fingerprint rows (id, p, h), a local frame of the collected
    * fingerprints, so the scope holds nothing. Nothing is written. Both
    * are filtered by the gate's driver-side drop-id set, so neither
    * reads the store; `batch` is read again by every consumer of the
    * kept frame, so pass a persisted one.
    * `fps` is the caller-computed fingerprint frame for THIS batch
    * ((id, p, h), ids = doc_id values, parts complete per id).
    *
    * Micro-batch sizing is in PARTS, not records: the broadcast probe
    * side is fps rows × C(d+bc, bc) band rows, so a 10⁴-clip video
    * batch of long clips (100+ frames × 20 bands) would broadcast
    * tens of millions of rows and blow the explicit-broadcast limits
    * with record-based sizing. Batches whose band-row volume exceeds
    * `maxBandRows` probe the store in id-ordered slices (ids never
    * split — the all-parts predicate needs a record whole), one store
    * scan each, so every broadcast stays bounded; the in-batch rule runs on
    * the driver over the whole batch, so the output is bit-identical
    * at any `maxBandRows` (IngestFingerprintsSpec parity pin). */
  def gateBatch(batch: DataFrame, storePath: String, fps: DataFrame,
                maxBandRows: Long = 1L << 21): Scoped[(DataFrame, DataFrame)] = {
    val (drops, bh) = decide(storePath, fps, maxBandRows)
    Scoped.pure((without(batch, drops), without(bh, drops, "id").select("id", "p", "h")))
  }

  /** The gate's decision: the ids to drop, and the batch's
    * (id, p, h, np) fingerprint rows as a local frame of the collected
    * rows. The fingerprints are collected in one action; the in-batch
    * first-wins rule runs on the driver over records sharing an aligned
    * band; the store is probed in one scan per slice (`storeProbe`) and
    * the all-parts rule applied on the driver to its matched parts. */
  private[streaming] def decide(storePath: String, fps: DataFrame,
                                maxBandRows: Long = 1L << 21): (Set[Long], DataFrame) = {
    require(maxBandRows >= 1, "maxBandRows must be >= 1")
    val spark = fps.sparkSession
    val (d, bc) = meta(spark, storePath)
    val rows = fps.select(col("id").cast("long"), col("p").cast("int"),
      col("h").cast("long")).collect()
    val np = rows.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.length }
    val bh = rows.map(r => Row(r.getLong(0), r.getInt(1), r.get(2), np(r.getLong(0))))
    def local(rs: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rs: _*),
      StructType(Seq(StructField("id", LongType), StructField("p", IntegerType),
        StructField("h", LongType), StructField("np", IntegerType))))
    val vsStore =
      if (rows.isEmpty || !hasData(spark, s"$storePath/hashes")) Set.empty[Long]
      else {
        val store = graft.core.Stores.readParquet(spark, s"$storePath/hashes")
        val matched = slices(np, (0 until (d + bc)).combinations(bc).size.toLong,
            maxBandRows).flatMap { ids =>
          storeProbe(local(bh.filter(r => ids(r.getLong(0))).toSeq), store, d, bc)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        }
        // a record drops when ALL its parts matched the same store record
        matched.groupBy(m => (m._1, m._2)).collect {
          case ((id, _), ms) if ms.map(_._3).distinct.length == np(id) => id
        }.toSet
      }
    (inBatchDrops(rows, np, d, bc) ++ vsStore, local(bh.toSeq))
  }

  /** The ids of each store-probe slice: one slice when the batch's band
    * rows fit `maxBandRows`, else contiguous id runs packed greedily by
    * part count. */
  private def slices(np: Map[Long, Int], bandFactor: Long,
                     maxBandRows: Long): Seq[Set[Long]] =
    if (np.values.map(_.toLong).sum * bandFactor <= maxBandRows) Seq(np.keySet)
    else {
      val maxParts = (maxBandRows / bandFactor) max 1L
      val out = scala.collection.mutable.ArrayBuffer(Set.empty[Long])
      var acc = 0L
      for ((id, n) <- np.toSeq.sortBy(_._1)) {
        if (out.last.nonEmpty && acc + n > maxParts) {
          out += Set.empty; acc = 0L
        }
        out(out.length - 1) += id
        acc += n
      }
      out.toSeq
    }

  /** The in-batch first-wins rule over the collected (id, p, h) rows: a
    * record drops when a smaller-id record has the same part count and
    * every aligned part within `d` bits (the conservative cascade — the
    * smaller record's own fate doesn't matter). Candidates share an
    * aligned band's block values (`Dedup.hammingBandBlocks`, the values
    * `hammingBandRows` hashes), so a pair within the radius always
    * shares one. Null hashes match nothing. */
  private def inBatchDrops(rows: Array[Row], np: Map[Long, Int],
                           d: Int, bc: Int): Set[Long] = {
    import scala.collection.mutable
    val bandBlocks = Dedup.hammingBandBlocks(64, d, bc)
    val parts = rows.filterNot(_.isNullAt(2))
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(r => (r.getInt(1), r.getLong(2))) }
    def matches(a: Long, b: Long) =
      parts(b).filter { case (p, h) =>
        parts(a).exists { case (q, g) => q == p && java.lang.Long.bitCount(g ^ h) <= d }
      }.map(_._1).distinct.length == np(b)
    val index = mutable.HashMap.empty[(Int, Int, Int, Seq[Long]), List[Long]]
    val dropped = mutable.Set.empty[Long]
    for (id <- parts.keys.toSeq.sorted) {
      val keys = for ((p, h) <- parts(id).toSeq; (vs, band) <- bandBlocks(h).zipWithIndex)
        yield (p, np(id), band, vs)
      if (keys.iterator.flatMap(index.getOrElse(_, Nil)).distinct
          .exists(a => a < id && matches(a, id)))
        dropped += id
      keys.foreach(k => index(k) = id :: index.getOrElse(k, Nil))
    }
    dropped.toSet
  }

  /** The store probe for one slice of batch rows `bh` (id, p, h, np) in
    * one plan: the store's band rows (derived in the scan stage)
    * inner-joined to the batch's band rows, which are broadcast
    * EXPLICITLY so the store streams from parquet with no shuffle at
    * any store size (the IngestLinkage rule: static estimates on batch
    * frames can't be trusted with this decision). Aligned-part match:
    * same band bucket, same part index, same part count, xor within
    * radius. Output: one (id, oid, p) row per matched band — the
    * all-parts rule runs over the collected rows. Exposed
    * private[graft] for the plan-shape pin. */
  private[graft] def storeProbe(bh: DataFrame, store: DataFrame,
                                d: Int, bc: Int): DataFrame = {
    val bandB = Dedup.hammingBandRows(bh, 64, d, bc,
      carry = Seq("p", "np"), hint = false)
    val bandS = Dedup.hammingBandRows(store, 64, d, bc,
      carry = Seq("p", "np"), hint = false)
    broadcast(bandB).as("x").join(bandS.as("y"), alignOn, "inner")
      .where(bit_count(col("x.h").bitwiseXOR(col("y.h"))) <= d)
      .select(col("x.id").as("id"), col("y.id").as("oid"), col("x.p").as("p"))
  }

  private def alignOn: org.apache.spark.sql.Column =
    col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
      col("x.p") === col("y.p") && col("x.np") === col("y.np")

  /** Start the streaming gate: `docs` carries doc_id + the payload
    * column(s) `fpFn` reads (e.g. `imageFps(_, imageCol)` for images);
    * pre-seed the store with `fpSave` or `IngestImages.dhashSave`
    * (possibly of an empty frame) to fix the banding layout.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, storePath: String, outPath: String,
            checkpoint: String, fpFn: DataFrame => DataFrame,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs, checkpoint, trigger) { (batch, _) =>
      processBatch(batch, storePath, outPath, fpFn(batch))
    }

  def compactStore(spark: SparkSession, storePath: String): Long = {
    if (hasData(spark, s"$storePath/bands"))
      graft.core.Stores.rewriteDeduped(spark, s"$storePath/bands",
        Seq("id", "p", "band"), partitionCols = Seq("bb"))
    graft.core.Stores.rewriteDeduped(spark, s"$storePath/hashes",
      Seq("id", "p"))
  }
}
