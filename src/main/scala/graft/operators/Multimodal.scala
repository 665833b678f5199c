package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Scoped

/** Media row: opaque binary payload + typed metadata. */
case class MediaMeta(width: Int, height: Int, durationMs: Long, codec: String)
case class MediaRow(media_id: Long, kind: String, content: Array[Byte], meta: MediaMeta)
case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                         features: Array[Float])
case class MediaFrame(media_id: Long, frame_idx: Int, offset_ms: Long)
/** Exact decode statistics for an image payload: dimensions + per-
  * channel pixel sums (exact longs — ratios are the caller's one
  * double division, the oracle convention). */
case class ImageStats(media_id: Long, width: Int, height: Int,
                      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

/** Multimodal columns for the training-data pipeline: image/audio/video
  * as opaque `binary` columns with typed metadata, processed by batched
  * executor-side functions.
  *
  * IMAGE decode is REAL: `javax.imageio` ships with the JDK (PNG, BMP,
  * GIF, JPEG — no external library), so `decodeImage`/`imageStats`
  * decode actual pixels and `resizePixels` is a deterministic
  * nearest-neighbor resampler (manual raster indexing, no AWT
  * rendering pipeline, so results are bit-stable across JVMs).
  * AUDIO decode is REAL (`decodeAudio` — PCM WAV/AIFF/AU via the
  * JDK's `javax.sound.sampled`, exact integer statistics) and VIDEO
  * is real for lossless payloads (`aviDemux` — uncompressed-AVI
  * demux + per-frame raster decode). Only COMPRESSED codecs
  * (H.264/VP9/AAC/MP3) remain a declared STUB (`decodeStub`) — the
  * offline JDK carries no codecs for them; everything around that
  * stub — schema, typed Dataset plumbing, partition-balanced batch
  * shape, the frame-sampling generator — is real, and swapping the
  * stub for a JNI/library call changes no plan shape.
  *
  * Scale notes: decode is embarrassingly parallel; `repartitionByBytes`
  * balances skewed payload sizes before the expensive step so no
  * executor gets all the 4K videos. mapPartitions keeps per-batch setup
  * (model load, library init) amortized across rows — the Scala analog
  * of pandas-batched UDFs.
  */
object Multimodal {

  /** Decode an image payload with the JDK's ImageIO (PNG/BMP/GIF/JPEG)
    * and fold it to exact per-channel sums. None for undecodable
    * bytes — the caller's accounting row, never an exception (crawl
    * payloads are hostile by default). */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var r = 0L; var g = 0L; var b = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
          x += 1
        }
        y += 1
      }
      Some((w, h, r, g, b))
    }
  }

  /** Batched REAL image decode over the image rows of a media table:
    * one `ImageIO` pass per payload inside mapPartitions (per-batch
    * reader reuse point), exact long channel sums out. Undecodable
    * payloads are dropped here — pair with a count of inputs for the
    * decode-failure rate. */
  def imageStats(ds: Dataset[MediaRow]): Dataset[ImageStats] = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap { m =>
        decodeImage(m.content).map { case (w, h, r, g, b) =>
          ImageStats(m.media_id, w, h, w.toLong * h, r, g, b)
        }
      }
    }
  }

  /** Deterministic nearest-neighbor resize of an image payload,
    * re-encoded as PNG. Manual raster indexing (src pixel at
    * (x·sw/tw, y·sh/th)) instead of AWT's Graphics2D scaling, so the
    * output bytes are identical on every JVM — resize-then-decode is
    * oracle-checkable. None for undecodable input. */
  def resizePixels(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val out = new java.awt.image.BufferedImage(tw, th,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val sw = img.getWidth
      val sh = img.getHeight
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          out.setRGB(x, y, img.getRGB(x * sw / tw, y * sh / th))
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", baos)
      Some(baos.toByteArray)
    }
  }

  /** 64-bit difference hash (dHash — the standard perceptual
    * fingerprint for image near-dup detection; Krawetz's "kind of like
    * that" construction): nearest-neighbor sample the image at 9×8,
    * integer luma (299r + 587g + 114b) div 1000, bit (y·8+x) set iff
    * gray(x, y) > gray(x+1, y). Horizontal gradient SIGNS survive
    * exactly the edits near-dup channels care about — brightness
    * shifts cancel in the difference, rescales ride the resample —
    * while unrelated images land ~32 bits apart. Same manual raster
    * indexing as `resizePixels` (src pixel at x·sw/9, y·sh/8), so the
    * hash is bit-stable across JVMs and, on closed-form synthetic
    * pixels, computable in oracle SQL. None for undecodable bytes. */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val sw = img.getWidth
      val sh = img.getHeight
      val g = Array.ofDim[Int](8, 9)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 9) {
          val p = img.getRGB(x * sw / 9, y * sh / 8)
          g(y)(x) = (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) +
            114 * (p & 0xFF)) / 1000
          x += 1
        }
        y += 1
      }
      var h = 0L
      y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (g(y)(x) > g(y)(x + 1)) h |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Some(h)
    }
  }

  /** Perceptual fingerprints of the image rows: (media_id, dhash) —
    * one decode per payload inside mapPartitions; undecodable payloads
    * drop here (pair with an input count for the failure rate). */
  def imageDHashes(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap(m => dHash64(m.content).map(h => (m.media_id, h)))
    }.toDF("media_id", "dhash")
  }

  /** Image near-duplicate pairs — the THIRD dedup channel (content →
    * MinHash, fuzzy keys → PassJoin, images → this): banded Hamming
    * join over the dHash fingerprints, exact recall at `maxHamming` by
    * the SimHash pigeonhole (maxHamming + blockChoose blocks — a pair
    * within the radius agrees on some blockChoose-subset), never an
    * all-pairs compare. Output (a, b, hamming), deterministic order. */
  def imageNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int,
                        blockChoose: Int = 3): Scoped[DataFrame] =
    Dedup.hammingPairs(
      imageDHashes(ds).select(col("media_id").as("id"), col("dhash").as("h")),
      64, maxHamming, blockChoose)

  /** The closure: every image labeled by its near-dup cluster's
    * smallest media_id (GraphX CC over verified pairs — the q72
    * discipline, components over the THRESHOLDED set only). */
  def imageDupComponents(ds: Dataset[MediaRow], maxHamming: Int): Scoped[DataFrame] = {
    import ds.sparkSession.implicits._
    imageNearDupPairs(ds, maxHamming)
      .flatMap(pairs => Dedup.nearDupComponents(
        ds.map(_.media_id).toDF("doc_id"), pairs.select("a", "b"), Long.MaxValue))
      .map(_.withColumnRenamed("doc_id", "media_id"))
  }

  /** Deterministic patterned PNG for the dHash oracle: every channel
    * carries the same value v(px, py) = (hex(md5("seed:px:py")[0..2])
    * mod 200) + bright — md5-nibble pixels are closed-form in DuckDB
    * (the q171 idiom), all-equal channels make luma = v exactly, and
    * `bright` shifts every pixel uniformly, which dHash cancels: the
    * brightness variant is a PLANTED hamming-0 duplicate. Values stay
    * ≤ 199 + bright, so no channel clamps for bright ≤ 56. */
  def pngPatternBytes(seed: Long, bright: Int, w: Int, h: Int): Array[Byte] = {
    require(bright >= 0 && bright <= 56, "bright must stay clamp-free")
    val md = java.security.MessageDigest.getInstance("MD5")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val hex = md.digest(s"$seed:$x:$y".getBytes("UTF-8"))
        val v = (((hex(0) >> 4) & 0xF) * 16 + (hex(0) & 0xF)) % 200 + bright
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        md.reset()
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** A media table of patterned PNGs from (media_id, seed, bright)
    * specs — generated in executors like `syntheticImages`. */
  def patternImages(spark: org.apache.spark.sql.SparkSession,
                    specs: Seq[(Long, Long, Int)],
                    w: Int, h: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.createDataset(specs).map { case (id, seed, bright) =>
      MediaRow(id, "image", pngPatternBytes(seed, bright, w, h),
        MediaMeta(w, h, 0L, "png"))
    }
  }

  /** Deterministic PNG payload for `syntheticImages`: a horizontal red
    * gradient × vertical green gradient with a seed-keyed blue plane —
    * closed-form channel sums, so decode tests pin exact values. */
  def pngBytes(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val blue = (seed % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((x * 255 / (w - 1)) << 16) |
          ((y * 255 / (h - 1)) << 8) | blue)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** A media table of REAL (synthesized, deterministic) PNG payloads —
    * generated in executors, so any scale costs no driver memory. */
  def syntheticImages(spark: org.apache.spark.sql.SparkSession, n: Long,
                      w: Int = 32, h: Int = 24): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, "image", pngBytes(id, w, h), MediaMeta(w, h, 0L, "png"))
    }
  }

  /** Decode a PCM audio payload (WAV/AIFF/AU — the JDK's own
    * `javax.sound.sampled`, no external library) to exact integer
    * statistics: frame count, channels, sample rate, and the sum of
    * absolute 16-bit sample values (an exact long — "loudness" without
    * a float in sight). None for undecodable or non-16-bit payloads. */
  def decodeAudio(bytes: Array[Byte]): Option[(Long, Int, Int, Long)] = {
    import javax.sound.sampled.AudioSystem
    try decodeAudioStream(AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }
  }

  /** Stream-level body of `decodeAudio` — separated so the frame-size
    * guard is testable: the JDK's own WAV/AIFF/AU readers always
    * compute a positive frame size, but `AudioFormat` admits
    * `NOT_SPECIFIED` (-1) and third-party SPI providers do return it. */
  private[graft] def decodeAudioStream(
      in: javax.sound.sampled.AudioInputStream): Option[(Long, Int, Int, Long)] = {
    try {
      val fmt = in.getFormat
      // getFrameSize can be AudioSystem.NOT_SPECIFIED (-1) or 0 on a
      // hostile/odd header — dividing by it would yield a negative
      // n_frames (or throw), not the documented None-for-undecodable
      if (fmt.getSampleSizeInBits != 16 || fmt.getFrameSize <= 0) {
        in.close(); None
      } else {
        val data = in.readAllBytes()
        in.close()
        val bb = java.nio.ByteBuffer.wrap(data).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        var sumAbs = 0L
        while (bb.remaining() >= 2) sumAbs += math.abs(bb.getShort.toLong)
        Some((data.length.toLong / fmt.getFrameSize, fmt.getChannels,
          fmt.getSampleRate.toInt, sumAbs))
      }
    } catch { case _: Exception => None }
  }

  /** Exact decode statistics for the audio rows of a media table —
    * the audio sibling of `imageStats`, REAL via the JDK. */
  def audioStats(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "audio").flatMap { m =>
      decodeAudio(m.content).map { case (frames, ch, rate, sumAbs) =>
        (m.media_id, frames, ch, rate, sumAbs)
      }
    }.toDF("media_id", "n_frames", "channels", "sample_rate", "sum_abs")
  }

  /** Deterministic 16-bit mono PCM WAV payload: a seed-keyed integer
    * triangle wave (exact arithmetic — no Math.sin floats), so decode
    * tests pin closed-form sums. */
  def wavBytes(seed: Long, nFrames: Int, sampleRate: Int = 16000): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val period = (seed % 50 + 2).toInt
    val raw = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nFrames) {
      bb.putShort(((i % period) * 1000 - period * 500).toShort)
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ain = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, nFrames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ain, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** 64-bit audio energy-difference hash — the PCM analog of
    * `dHash64`: decode 16-bit samples, fold |sample| into 65 equal
    * windows (exact longs), bit w set iff E(w) > E(w+1). Gradient
    * SIGNS of the loudness envelope survive exactly the edits an audio
    * near-dup channel cares about — uniform volume scaling cancels in
    * the comparison (the brightness analog), re-encodes of the same
    * PCM ride the decode — while unrelated clips land ~32 bits apart.
    * None for undecodable, non-16-bit, or < 65-sample payloads. */
  def audioAHash64(bytes: Array[Byte]): Option[Long] = {
    import javax.sound.sampled.AudioSystem
    try {
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getFrameSize <= 0) {
        in.close(); None
      } else {
        val data = in.readAllBytes()
        in.close()
        val bb = java.nio.ByteBuffer.wrap(data).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = data.length / 2
        if (n < 65) None
        else {
          val win = n / 65
          val e = new Array[Long](65)
          var i = 0
          while (i < win * 65) {
            e(i / win) += math.abs(bb.getShort.toLong); i += 1
          }
          var h = 0L
          var w = 0
          while (w < 64) { if (e(w) > e(w + 1)) h |= 1L << w; w += 1 }
          Some(h)
        }
      }
    } catch { case _: Exception => None }
  }

  /** Fingerprints of the audio rows: (media_id, ahash). */
  def audioAHashes(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "audio").mapPartitions { it =>
      it.flatMap(m => audioAHash64(m.content).map(h => (m.media_id, h)))
    }.toDF("media_id", "ahash")
  }

  /** Audio near-duplicate pairs — same banded Hamming machinery as the
    * image channel (`Dedup.hammingPairs`, exact recall at the radius),
    * over the energy-envelope fingerprints. */
  def audioNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int,
                        blockChoose: Int = 3): Scoped[DataFrame] =
    Dedup.hammingPairs(
      audioAHashes(ds).select(col("media_id").as("id"), col("ahash").as("h")),
      64, maxHamming, blockChoose)

  /** Deterministic triangle-wave WAV with an explicit amplitude —
    * sample(i) = ((i mod p)·2 − p)·amp, p = seed%50+2 (amp = 500
    * reproduces `wavBytes` exactly). Halving `amp` scales every
    * window energy exactly ×½, so the half-volume variant is a
    * PLANTED hamming-0 duplicate under `audioAHash64`, and the
    * closed-form samples make the hash computable in oracle SQL with
    * the amplitude dropped entirely. */
  def wavToneBytes(seed: Long, amp: Int, nFrames: Int,
                   sampleRate: Int = 16000): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    require(amp > 0 && amp.toLong * 52 <= Short.MaxValue,
      "amplitude must keep the wave inside 16 bits")
    val period = (seed % 50 + 2).toInt
    val raw = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nFrames) {
      bb.putShort((((i % period) * 2 - period) * amp).toShort)
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ain = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, nFrames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ain, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** A media table of toned WAVs from (media_id, seed, amp) specs. */
  def patternAudio(spark: org.apache.spark.sql.SparkSession,
                   specs: Seq[(Long, Long, Int)],
                   nFrames: Int = 1600): Dataset[MediaRow] = {
    import spark.implicits._
    spark.createDataset(specs).map { case (id, seed, amp) =>
      MediaRow(id, "audio", wavToneBytes(seed, amp, nFrames),
        MediaMeta(0, 0, nFrames.toLong * 1000 / 16000, "pcm_s16le"))
    }
  }

  /** A media table of REAL (synthesized, deterministic) WAV payloads —
    * executor-side generation, like `syntheticImages`. */
  def syntheticAudio(spark: org.apache.spark.sql.SparkSession, n: Long,
                     nFrames: Int = 1600): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, "audio", wavBytes(id, nFrames),
        MediaMeta(0, 0, nFrames.toLong * 1000 / 16000, "pcm_s16le"))
    }
  }

  // ---- REAL video: RIFF/AVI demux of uncompressed-DIB streams ----
  // AVI with BI_RGB (uncompressed 24-bit DIB) frames is a standard
  // container a ~60-line RIFF chunk walker fully demuxes — no codec
  // needed, so even VIDEO decode is real here. Compressed streams
  // (fourcc other than raw '00db'/'00dc'+BI_RGB) still need an
  // external codec; this path covers the lossless capture/intermediate
  // format, which is also what the synthesized fixtures use.

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Demux an AVI payload: (width, height, frame payloads) from the
    * BITMAPINFOHEADER in `strf` and the `00db`/`00dc` movi chunks.
    * None when the bytes are not RIFF/AVI or the stream is not
    * 24-bit BI_RGB (a compressed stream — needs a codec we don't
    * have; refusing beats decoding garbage). */
  def aviDemux(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] = {
    if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
    var w = 0; var h = 0; var bits = 0; var comp = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(from: Int, to: Int): Unit = {
      var o = from
      while (o + 8 <= to) {
        val id = fourcc(bytes, o)
        val sz = le32(bytes, o + 4)
        if (sz < 0 || o + 8 + sz > to) return // truncated chunk: stop
        if (id == "LIST") walk(o + 12, o + 8 + sz)
        else if (id == "strf" && sz >= 40) {
          w = le32(bytes, o + 8 + 4); h = le32(bytes, o + 8 + 8)
          bits = le32(bytes, o + 8 + 12) >>> 16 // biBitCount (u16 at +14 = hi half of the dword at +12)
          comp = le32(bytes, o + 8 + 16)
        } else if (id == "00db" || id == "00dc")
          frames += java.util.Arrays.copyOfRange(bytes, o + 8, o + 8 + sz)
        o += 8 + sz + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, bytes.length)
    if (w > 0 && h > 0 && bits == 24 && comp == 0 && frames.nonEmpty)
      Some((w, math.abs(h), frames.toSeq))
    else None
  }

  /** Exact decode statistics for the video rows of a media table —
    * REAL demux + raw-frame pixel sums (BGR rows, 4-byte stride,
    * handled exactly). One row per video: frame count + corpus-exact
    * channel sums across all frames. */
  def videoStats(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "video").flatMap { m =>
      aviDemux(m.content).map { case (w, h, frames) =>
        val stride = ((w * 3 + 3) / 4) * 4
        var r = 0L; var g = 0L; var b = 0L
        frames.foreach { f =>
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val o = y * stride + x * 3
              b += f(o) & 0xFF; g += f(o + 1) & 0xFF; r += f(o + 2) & 0xFF
              x += 1
            }
            y += 1
          }
        }
        (m.media_id, frames.length, w, h, r, g, b)
      }
    }.toDF("media_id", "n_frames", "width", "height",
      "sum_r", "sum_g", "sum_b")
  }

  /** One uncompressed 24-bit DIB frame: deterministic gradient keyed
    * by (seed, frame index) — closed-form channel sums for tests. */
  private def dibFrame(seed: Long, idx: Int, w: Int, h: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = y * stride + x * 3
        out(o) = ((seed + idx) % 256).toByte          // B
        out(o + 1) = (y * 255 / (h - 1)).toByte       // G
        out(o + 2) = (x * 255 / (w - 1)).toByte       // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** dHash of one demuxed DIB frame (bottom-up 24-bit BGR rows, the
    * `aviDemux` payload): same 9×8 NN sample and integer luma as the
    * image channel, with top-row y mapping to DIB row h−1−y. */
  private[graft] def frameDHash(dib: Array[Byte], w: Int, h: Int): Long = {
    val stride = ((w * 3 + 3) / 4) * 4
    val g = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val o = (h - 1 - (y * h / 8)) * stride + (x * w / 9) * 3
        g(y)(x) = (299 * (dib(o + 2) & 0xFF) + 587 * (dib(o + 1) & 0xFF) +
          114 * (dib(o) & 0xFF)) / 1000
        x += 1
      }
      y += 1
    }
    var hsh = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y)(x) > g(y)(x + 1)) hsh |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hsh
  }

  /** Per-frame fingerprints of the video rows: (media_id, frame_idx,
    * dhash) — one demux per payload, one dHash per frame. */
  def videoDHashes(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { m =>
        aviDemux(m.content).toSeq.flatMap { case (w, h, frames) =>
          frames.iterator.zipWithIndex.map { case (f, i) =>
            (m.media_id, i, frameDHash(f, w, h))
          }
        }
      }
    }.toDF("media_id", "frame_idx", "dhash")
  }

  /** Clip-level near-duplicates: two videos match iff EVERY aligned
    * frame pair is within `maxHamming` — per-frame banded Hamming
    * (frame index folded into the band id, so only aligned frames
    * meet) aggregated to clips whose matching-frame count equals BOTH
    * clips' frame counts. The frame fan-out keeps the banding exact
    * per frame; a clip pair differing in any one frame drops. Output
    * (a, b, n_frames), deterministic order. */
  def videoNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int,
                        blockChoose: Int = 3): DataFrame = {
    val fh = videoDHashes(ds)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit, the packing checks' throws included
    val (out, schema) = Scoped(fh)(fh.unpersist(blocking = false)).use { fh =>
      fh.count()
      val k = 4096L
      // Frame identity is packed as media_id*k + frame_idx and recovered
      // with pmod/div; a clip with >= k frames or a negative media_id
      // would silently alias into other clips (pmod is non-negative while
      // div truncates toward zero), so both fail loudly instead.
      val bounds = fh.agg(max(col("frame_idx")).as("mf"),
        min(col("media_id")).as("mi")).collect()
      if (bounds.nonEmpty && !bounds(0).isNullAt(0)) {
        val (mf, mi) = (bounds(0).getInt(0), bounds(0).getLong(1))
        require(mf < k, s"videoNearDupPairs: clip with ${mf + 1} frames " +
          s"exceeds the $k-frame packing limit; raise k or split clips")
        require(mi >= 0L, s"videoNearDupPairs: negative media_id $mi " +
          "breaks pmod/div clip recovery; remap ids to be non-negative")
      }
      val nf = fh.groupBy("media_id").agg(count(lit(1)).as("nf"))
      val enc = fh.select((col("media_id") * k + col("frame_idx")).as("id"),
        col("dhash").as("h"))
      // clip pairs: bounded by the near-dup set
      Dedup.hammingPairs(enc, 64, maxHamming, blockChoose).use { pairs =>
        val fp = pairs.where(pmod(col("a"), lit(k)) === pmod(col("b"), lit(k)))
        val res = fp.select(expr(s"a div $k").as("va"), expr(s"b div $k").as("vb"))
          .groupBy("va", "vb").agg(count(lit(1)).as("m"))
          .join(nf.select(col("media_id").as("va"), col("nf").as("na")), Seq("va"))
          .join(nf.select(col("media_id").as("vb"), col("nf").as("nb")), Seq("vb"))
          .where(col("m") === col("na") && col("na") === col("nb"))
          .select(col("va").as("a"), col("vb").as("b"),
            col("na").cast("int").as("n_frames"))
          .orderBy("a", "b")
        (res.collect(), res.schema)
      }
    }
    val spark = ds.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Patterned DIB frame for the video-dHash oracle: every channel
    * carries v(x, y) = (hex(md5("seed:f:x:y")[0..2]) mod 200) + bright
    * at TOP-row coordinates (written bottom-up as DIB requires) — the
    * `pngPatternBytes` construction per frame, so the per-frame hash
    * is closed-form in SQL and `bright` is a planted hamming-0 twin. */
  private[graft] def dibPatternFrame(seed: Long, f: Int, bright: Int,
                              w: Int, h: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    var r = 0
    while (r < h) {
      val y = h - 1 - r // top-row coordinate of DIB row r
      var x = 0
      while (x < w) {
        val hex = md.digest(s"$seed:$f:$x:$y".getBytes("UTF-8"))
        md.reset()
        val v = ((((hex(0) >> 4) & 0xF) * 16 + (hex(0) & 0xF)) % 200 +
          bright).toByte
        val o = r * stride + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      r += 1
    }
    out
  }

  /** A media table of patterned AVIs from (media_id, seed, bright)
    * specs — the standard container around `dibPatternFrame` frames. */
  def patternVideos(spark: org.apache.spark.sql.SparkSession,
                    specs: Seq[(Long, Long, Int)], nFrames: Int,
                    w: Int, h: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.createDataset(specs).map { case (id, seed, bright) =>
      MediaRow(id, "video", aviBytesOf(
        (0 until nFrames).map(f => dibPatternFrame(seed, f, bright, w, h)),
        w, h), MediaMeta(w, h, nFrames * 33L, "rawvideo"))
    }
  }

  /** Minimal standard AVI container around uncompressed DIB frames:
    * RIFF('AVI ' hdrl(avih, strl(strh,strf)) movi(00db…)). Players
    * and demuxers that accept index-less AVI read it; `aviDemux`
    * round-trips it exactly. */
  def aviBytes(seed: Long, nFrames: Int, w: Int, h: Int,
               fps: Int = 10): Array[Byte] =
    aviBytesOf((0 until nFrames).map(dibFrame(seed, _, w, h)), w, h, fps)

  /** Same container around CALLER-BUILT DIB frames (each stride·h
    * bytes, bottom-up BGR) — `patternVideos` feeds it. */
  def aviBytesOf(frames: Seq[Array[Byte]], w: Int, h: Int,
                 fps: Int = 10): Array[Byte] = {
    val nFrames = frames.size
    val bb = new java.io.ByteArrayOutputStream()
    def s4(s: String): Unit = bb.write(s.getBytes("US-ASCII"))
    def i4(v: Int): Unit = {
      bb.write(v & 0xFF); bb.write((v >> 8) & 0xFF)
      bb.write((v >> 16) & 0xFF); bb.write((v >> 24) & 0xFF)
    }
    def i2(v: Int): Unit = { bb.write(v & 0xFF); bb.write((v >> 8) & 0xFF) }
    val stride = ((w * 3 + 3) / 4) * 4
    val frameBytes = stride * h // stride is a multiple of 4 → chunks never need odd-byte padding
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val hdrlSize = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    s4("RIFF"); i4(riffSize); s4("AVI ")
    s4("LIST"); i4(hdrlSize); s4("hdrl")
    s4("avih"); i4(56)
    i4(1000000 / fps); i4(frameBytes * fps); i4(0); i4(0) // usec/frame, maxbps, pad, flags (no idx1 → HASINDEX off)
    i4(nFrames); i4(0); i4(1); i4(frameBytes)               // totalframes, initial, streams, bufsize
    i4(w); i4(h); i4(0); i4(0); i4(0); i4(0)                // dims + reserved
    s4("LIST"); i4(4 + (8 + 56) + (8 + 40)); s4("strl")
    s4("strh"); i4(56)
    s4("vids"); s4("DIB "); i4(0); i2(0); i2(0); i4(0)      // type, handler, flags, prio/lang, initial
    i4(1); i4(fps); i4(0); i4(nFrames)                      // scale, rate, start, length
    i4(frameBytes); i4(-1); i4(0); i2(0); i2(0)             // bufsize, quality, samplesize, rect
    i2(0); i2(0)
    s4("strf"); i4(40)
    i4(40); i4(w); i4(h); i2(1); i2(24); i4(0)              // BITMAPINFOHEADER, BI_RGB
    i4(frameBytes); i4(0); i4(0); i4(0); i4(0)
    s4("LIST"); i4(moviSize); s4("movi")
    frames.foreach { f =>
      require(f.length == frameBytes, "frame size must match w×h stride")
      s4("00db"); i4(frameBytes); bb.write(f)
    }
    bb.toByteArray
  }

  /** A media table of REAL (synthesized, deterministic) AVI payloads. */
  def syntheticVideos(spark: org.apache.spark.sql.SparkSession, n: Long,
                      nFrames: Int = 8, w: Int = 16, h: Int = 12): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, "video", aviBytes(id, nFrames, w, h),
        MediaMeta(w, h, nFrames.toLong * 100, "rawvideo"))
    }
  }

  /** Deterministic fake feature extractor — retained as the declared
    * fallback for COMPRESSED streams (H.264/VP9/AAC/MP3 need codecs
    * the JDK doesn't carry); the lossless forms of all three
    * modalities decode for real (`decodeImage`, `decodeAudio`,
    * `aviDemux`/`videoStats`). Folds the payload bytes into `dim`
    * float accumulators; exercises identical dataflow. */
  def decodeStub(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
    val acc = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      acc(i % dim) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    acc
  }

  /** Build a media table from the documents testdata (payload = utf-8
    * bytes; kind round-robins image/audio/video) — plumbing fixture. */
  def fromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("content"),
        struct(
          (col("n_chars") % 640).cast("int").as("width"),
          (col("n_chars") % 480).cast("int").as("height"),
          (col("n_chars") * 100).as("durationMs"),
          lit("fake").as("codec")).as("meta"))
      .as[MediaRow]
  }

  /** Rebalance so total payload bytes per partition are even — decode
    * cost follows bytes, not row counts (skew guard for the expensive
    * stage). */
  def repartitionByBytes(ds: Dataset[MediaRow], partitions: Int): Dataset[MediaRow] =
    ds.repartitionByRange(partitions, expr("length(content)"), expr("media_id"))

  /** Batched feature extraction: one pass per partition, library-init
    * cost amortized (the `libraryHandle` val stands where a real decoder
    * would be initialized once per batch). */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val libraryHandle = new Object // per-partition init point (stub)
      val _ = libraryHandle
      it.map { m =>
        MediaFeatures(m.media_id, m.kind, m.content.length,
          decodeStub(m.content))
      }
    }
  }

  /** Deterministic frame sampling for video rows: one frame every
    * `everyMs` of metadata duration (generator-shaped; no decode). */
  def sampleFrames(ds: Dataset[MediaRow], everyMs: Long): Dataset[MediaFrame] = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "video").flatMap { m =>
      val n = math.max(1L, m.meta.durationMs / everyMs)
      (0L until math.min(n, 64L)).map(i => MediaFrame(m.media_id, i.toInt, i * everyMs))
    }
  }

  /** Metadata-only resize: pure column transform, no payload touch. */
  def resizeMeta(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("meta", struct(
      lit(w).as("width"), lit(h).as("height"),
      col("meta.durationMs").as("durationMs"), col("meta.codec").as("codec")))
}
