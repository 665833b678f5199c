package graft

import graft.operators.{MediaMeta, MediaRow, Multimodal}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media(rows: (Long, String, String, Long)*) =
    rows.map { case (id, kind, payload, dur) =>
      MediaRow(id, kind, payload.getBytes("UTF-8"), MediaMeta(640, 480, dur, "fake"))
    }.toDS()

  test("extractFeatures: deterministic stub features, batch plumbing intact") {
    val ds = media((1L, "image", "abc", 0L), (2L, "audio", "abc", 0L))
    val out = Multimodal.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(out.length == 2)
    assert(out(0).features.toSeq == out(1).features.toSeq) // same payload → same features
    assert(out(0).n_bytes == 3)
    assert(out(0).features.length == 8)
  }

  test("sampleFrames: only video rows, deterministic offsets") {
    val ds = media((1L, "video", "x", 5000L), (2L, "image", "x", 5000L))
    val out = Multimodal.sampleFrames(ds, 1000L).collect()
    assert(out.forall(_.media_id == 1L))
    assert(out.map(_.offset_ms).toSeq == Seq(0L, 1000L, 2000L, 3000L, 4000L))
  }

  test("fromDocuments: schema has binary payload + typed metadata") {
    val docs = Seq((1L, "hello", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ds = Multimodal.fromDocuments(docs)
    val r = ds.collect().head
    assert(new String(r.content, "UTF-8") == "hello")
    assert(r.meta.codec == "fake")
    val resized = Multimodal.resizeMeta(ds.toDF(), 32, 32)
      .selectExpr("meta.width", "meta.height").collect().head
    assert(resized.getInt(0) == 32 && resized.getInt(1) == 32)
  }

  test("repartitionByBytes: partition count honored") {
    val ds = media((1L to 20L).map(i => (i, "image", "p" * i.toInt, 0L)): _*)
    assert(Multimodal.repartitionByBytes(ds, 4).rdd.getNumPartitions == 4)
  }

  // closed-form channel sums for pngBytes(seed, w, h) — same integer
  // arithmetic as the generator, independent of the ImageIO decode path
  private def expectedSums(seed: Long, w: Int, h: Int): (Long, Long, Long) = {
    val r = h.toLong * (0 until w).map(x => (x * 255 / (w - 1)).toLong).sum
    val g = w.toLong * (0 until h).map(y => (y * 255 / (h - 1)).toLong).sum
    val b = w.toLong * h * (seed % 256)
    (r, g, b)
  }

  test("decodeImage: real JDK PNG decode with exact closed-form sums; hostile bytes -> None") {
    val (er, eg, eb) = expectedSums(7L, 32, 24)
    val got = Multimodal.decodeImage(Multimodal.pngBytes(7L, 32, 24))
    assert(got.contains((32, 24, er, eg, eb)))
    assert(Multimodal.decodeImage("definitely not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
  }

  test("imageStats: distributed decode of synthesized PNGs matches the formula row-for-row") {
    val out = Multimodal.imageStats(Multimodal.syntheticImages(spark, 50))
      .collect().sortBy(_.media_id)
    assert(out.length == 50)
    out.foreach { s =>
      val (er, eg, eb) = expectedSums(s.media_id, 32, 24)
      assert((s.width, s.height, s.n_px) == ((32, 24, 768L)), s"id ${s.media_id}")
      assert((s.sum_r, s.sum_g, s.sum_b) == ((er, eg, eb)), s"id ${s.media_id}")
    }
    // audio/video rows never reach the image decoder
    val mixed = media((1L, "audio", "zz", 0L))
    assert(Multimodal.imageStats(mixed).count() == 0)
  }

  test("resizePixels: deterministic nearest-neighbor, pixel-exact against the source raster") {
    val src = Multimodal.pngBytes(3L, 32, 24)
    val r1 = Multimodal.resizePixels(src, 8, 6).get
    val r2 = Multimodal.resizePixels(src, 8, 6).get
    assert(r1.toSeq == r2.toSeq)              // bit-stable re-encode
    val st = Multimodal.decodeImage(r1).get
    assert(st._1 == 8 && st._2 == 6)
    // every target pixel is the source pixel at (x·sw/tw, y·sh/th)
    val er = 6L * (0 until 8).map(x => ((x * 32 / 8) * 255 / 31).toLong).sum
    val eg = 8L * (0 until 6).map(y => ((y * 24 / 6) * 255 / 23).toLong).sum
    val eb = 8L * 6L * 3L
    assert((st._3, st._4, st._5) == ((er, eg, eb)))
    assert(Multimodal.resizePixels("junk".getBytes, 4, 4).isEmpty)
  }

  test("decodeAudio: real JDK WAV decode with exact closed-form sums; hostile bytes -> None") {
    // triangle wave for seed 7: period 9, samples (i%9)*1000 - 4500
    val period = 9
    val expSum = (0 until 1600).map(i =>
      math.abs((i % period) * 1000L - period * 500L)).sum
    val got = Multimodal.decodeAudio(Multimodal.wavBytes(7L, 1600))
    assert(got.contains((1600L, 1, 16000, expSum)))
    assert(Multimodal.decodeAudio("not audio at all".getBytes).isEmpty)
  }

  test("decodeAudio: NOT_SPECIFIED frame size -> None (guard, not a negative n_frames)") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    // the JDK's own readers always compute a positive frame size, but
    // AudioFormat admits NOT_SPECIFIED (-1) and SPI providers return
    // it; without the guard, data.length / -1 yields a silently
    // NEGATIVE n_frames rather than the documented None
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 16000f, 16, 1,
      AudioSystem.NOT_SPECIFIED, 16000f, false)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](200)), fmt, 100L)
    assert(Multimodal.decodeAudioStream(in).isEmpty)
  }

  test("audioStats: distributed WAV decode matches the formula; non-audio rows skipped") {
    val out = Multimodal.audioStats(Multimodal.syntheticAudio(spark, 30))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4))).sortBy(_._1)
    assert(out.length == 30)
    out.foreach { case (id, frames, ch, rate, sumAbs) =>
      val period = (id % 50 + 2).toInt
      val exp = (0 until 1600).map(i =>
        math.abs((i % period) * 1000L - period * 500L)).sum
      assert((frames, ch, rate, sumAbs) == ((1600L, 1, 16000, exp)), s"id $id")
    }
    assert(Multimodal.audioStats(media((1L, "video", "x", 0L))).count() == 0)
  }

  // closed-form channel sums for one dibFrame(seed, idx, w, h)
  private def expectedFrameSums(seed: Long, idx: Int, w: Int, h: Int): (Long, Long, Long) = {
    val r = h.toLong * (0 until w).map(x => (x * 255 / (w - 1)).toLong).sum
    val g = w.toLong * (0 until h).map(y => (y * 255 / (h - 1)).toLong).sum
    val b = w.toLong * h * ((seed + idx) % 256)
    (r, g, b)
  }

  test("aviDemux: round-trips the standard AVI container; hostile/compressed bytes -> None") {
    val bytes = Multimodal.aviBytes(7L, 5, 16, 12)
    val got = Multimodal.aviDemux(bytes)
    assert(got.isDefined)
    val (w, h, frames) = got.get
    assert((w, h, frames.length) == ((16, 12, 5)))
    assert(frames.forall(_.length == 48 * 12)) // stride 48 (16·3 word-aligned) × height
    assert(Multimodal.aviDemux("definitely not a RIFF".getBytes).isEmpty)
    assert(Multimodal.aviDemux(Array.empty[Byte]).isEmpty)
    // tamper biCompression (strf payload +16) to a nonzero fourcc:
    // a compressed stream must be refused, never decoded as raw
    val strf = {
      var i = 12; var found = -1
      while (found < 0 && i + 8 < bytes.length) {
        if (new String(bytes, i, 4, "US-ASCII") == "strf") found = i
        i += 1
      }
      found
    }
    assert(strf > 0)
    val tampered = bytes.clone()
    tampered(strf + 8 + 16) = 1 // BI_RLE8
    assert(Multimodal.aviDemux(tampered).isEmpty)
  }

  test("videoStats: distributed AVI decode matches the per-frame formula; non-video rows skipped") {
    val nFrames = 8
    val out = Multimodal.videoStats(Multimodal.syntheticVideos(spark, 20,
        nFrames = nFrames, w = 16, h = 12))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    assert(out.length == 20)
    out.foreach { case (id, nf, w, h, sr, sg, sb) =>
      val exp = (0 until nFrames).map(expectedFrameSums(id, _, 16, 12))
      assert((nf, w, h) == ((nFrames, 16, 12)), s"id $id")
      assert((sr, sg, sb) == ((exp.map(_._1).sum, exp.map(_._2).sum, exp.map(_._3).sum)),
        s"id $id")
    }
    assert(Multimodal.videoStats(media((1L, "image", "x", 0L))).count() == 0)
  }

  // the closed-form dHash reference: same md5-nibble pixel formula as
  // pngPatternBytes, same 9×8 NN sample, same integer luma
  private def refDHash(seed: Long, w: Int, h: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def v(px: Int, py: Int): Int = {
      val d = md.digest(s"$seed:$px:$py".getBytes("UTF-8")); md.reset()
      (((d(0) >> 4) & 0xF) * 16 + (d(0) & 0xF)) % 200
    }
    var hsh = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (v(x * w / 9, y * h / 8) > v((x + 1) * w / 9, y * h / 8))
        hsh |= 1L << (y * 8 + x)
    hsh
  }

  test("dHash64: decode-side hash equals the closed-form formula; brightness cancels") {
    for (seed <- 0L until 6L) {
      val base = Multimodal.dHash64(Multimodal.pngPatternBytes(seed, 0, 36, 32))
      assert(base.contains(refDHash(seed, 36, 32)), s"seed $seed")
      // a uniform brightness shift changes every gray value but no
      // difference sign — the planted hamming-0 duplicate
      assert(Multimodal.dHash64(Multimodal.pngPatternBytes(seed, 40, 36, 32)) == base)
    }
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("dHash64: integer-multiple rescale through the real resize path preserves the hash") {
    // dHash's 9×8 NN sample composes with NN upscaling: a k× upscale
    // samples pixel (k·4x, k·4y) which replicates original (4x, 4y) —
    // the rescale-invariance the perceptual channel exists for,
    // exercised through resizePixels (decode → resample → re-encode)
    for (seed <- 0L until 4L) {
      val base = Multimodal.pngPatternBytes(seed, 0, 36, 32)
      val up2 = Multimodal.resizePixels(base, 72, 64).get
      val up3 = Multimodal.resizePixels(base, 108, 96).get
      assert(Multimodal.dHash64(up2) == Multimodal.dHash64(base), s"2x seed $seed")
      assert(Multimodal.dHash64(up3) == Multimodal.dHash64(base), s"3x seed $seed")
    }
  }

  test("image near-dup channel: banded pairs recover planted variants, closure labels them") {
    // 30 distinct base images + brightness variants of every 3rd: the
    // variant pairs are hamming 0 BY CONSTRUCTION; distinct md5
    // patterns sit ~32 bits apart, far outside maxHamming = 2
    val specs = (0L until 30L).map(i => (i, i, 0)) ++
      (0L until 30L by 3L).map(i => (i + 1000L, i, 40))
    val ds = Multimodal.patternImages(spark, specs, 36, 32)
    val pairs = Multimodal.imageNearDupPairs(ds, maxHamming = 2)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = (0L until 30L by 3L).map(i => (i, i + 1000L)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(got), s"missing ${planted -- got}")
    pairs.foreach { case (a, b, hm) =>
      assert(hm <= 2, s"($a,$b) hamming $hm leaked past the verify") }
    // closure: every variant labels back to its base id
    val comp = Multimodal.imageDupComponents(ds, 2)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 30L by 3L).foreach(i => assert(comp(i + 1000L) == comp(i)))
    assert(comp.size == specs.size)
  }

  test("audioAHash64: closed-form reference, volume invariance, hostile bytes") {
    // the closed-form reference: 65 windows of 24 over 1560 samples of
    // the integer triangle wave, amp dropped (it cancels in the sign)
    def ref(seed: Long): Long = {
      val p = (seed % 50 + 2).toInt
      val e = new Array[Long](65)
      for (i <- 0 until 1560) e(i / 24) += math.abs((i % p) * 2 - p).toLong
      (0 until 64).foldLeft(0L)((h, w) =>
        if (e(w) > e(w + 1)) h | (1L << w) else h)
    }
    for (seed <- 0L until 6L) {
      val full = Multimodal.audioAHash64(
        Multimodal.wavToneBytes(seed, 500, 1600))
      assert(full.contains(ref(seed)), s"seed $seed")
      // exact half-volume: every window energy scales ×1/2 exactly, so
      // the comparison vector — and the hash — is unchanged
      assert(Multimodal.audioAHash64(
        Multimodal.wavToneBytes(seed, 250, 1600)) == full)
      // wavBytes IS wavToneBytes at amp 500 — q149's payloads carry
      // the same fingerprint
      assert(Multimodal.audioAHash64(
        Multimodal.wavBytes(seed, 1600)) == full)
    }
    assert(Multimodal.audioAHash64("hostile".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioAHash64(
      Multimodal.wavToneBytes(1L, 500, 40)).isEmpty) // < 65 samples
  }

  test("audio near-dup pairs: planted half-volume variants recovered") {
    val specs = (0L until 20L).map(i => (i, i, 500)) ++
      (0L until 20L by 2L).map(i => (i + 1000L, i, 250))
    val pairs = Multimodal.audioNearDupPairs(
        Multimodal.patternAudio(spark, specs, 1600), maxHamming = 0)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 20L by 2L).map(i => (i, i + 1000L)).toSet
    assert(planted.subsetOf(pairs), s"missing ${planted -- pairs}")
  }

  test("video near-dup: all-frames rule, brightness twins, one tampered frame drops the clip") {
    // base clips + a full brightness twin of clip 0 (all 3 frames
    // hamming 0) + a twin of clip 1 whose LAST frame comes from a
    // different seed (two frames match, one does not → not a near-dup)
    val base = Multimodal.patternVideos(spark,
      (0L until 6L).map(i => (i, i, 0)), nFrames = 3, w = 36, h = 32)
    val twin = Multimodal.patternVideos(spark,
      Seq((1000L, 0L, 30)), nFrames = 3, w = 36, h = 32)
    import spark.implicits._
    val tampered = Seq(MediaRow(1001L, "video", Multimodal.aviBytesOf(
      Seq(Multimodal.dibPatternFrame(1L, 0, 30, 36, 32),
          Multimodal.dibPatternFrame(1L, 1, 30, 36, 32),
          Multimodal.dibPatternFrame(99L, 2, 30, 36, 32)),
      36, 32), MediaMeta(36, 32, 99L, "rawvideo"))).toDS()
    val ds = base.unionByName(twin).unionByName(tampered)
    val pairs = Multimodal.videoNearDupPairs(ds, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1000L)),
      s"pairs=${pairs.toSeq}")
    assert(pairs.head._3 == 3)
    // per-frame hashes themselves are brightness-invariant and
    // frame-distinct
    val fh = Multimodal.videoDHashes(ds)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    (0 until 3).foreach(f => assert(fh((0L, f)) == fh((1000L, f))))
    assert(fh((1001L, 2)) != fh((1L, 2)))
  }

  test("videoNearDupPairs: frame-packing guards fail loudly (>= 4096 frames, negative media_id)") {
    import spark.implicits._
    // a clip past the packing limit (frame_idx >= 4096) would silently
    // alias into other media_ids (media_id*4096 + frame_idx); throw
    val long = Seq(MediaRow(1L, "video", Multimodal.aviBytesOf(
      (0 until 4097).map(f => Multimodal.dibPatternFrame(1L, f, 0, 9, 8)),
      9, 8), MediaMeta(9, 8, 0L, "rawvideo"))).toDS()
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.videoNearDupPairs(long, maxHamming = 2) }
    assert(e1.getMessage.contains("4096"))
    // negative media_id breaks pmod/div clip recovery
    val neg = Seq(MediaRow(-5L, "video", Multimodal.aviBytesOf(
      Seq(Multimodal.dibPatternFrame(1L, 0, 0, 36, 32)), 36, 32),
      MediaMeta(36, 32, 0L, "rawvideo"))).toDS()
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.videoNearDupPairs(neg, maxHamming = 2) }
    assert(e2.getMessage.contains("media_id"))
  }

  // a 9×8 gray PNG whose pixels ARE the dHash sample grid — every
  // gradient comparison is controlled exactly
  private def gridPng(v: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val g = v(x, y)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("imageNearDupPairs: near-radius boundary sweep — planted k-bit collisions of DIFFERENT images") {
    // base: alternating columns, every comparison decisive. variant k
    // zeroes column 8 in rows 0..k-1, flipping EXACTLY bit y·8+7 per
    // row — four DIFFERENT images at pairwise hamming |ka − kb|. At
    // maxHamming = 2 the banding must report every pair within the
    // radius (including collisions between two non-identical images —
    // precision is the verify stage's bit_count) and nothing beyond.
    def base(x: Int, y: Int): Int = if (x % 2 == 0) 150 else 50
    val imgs = (0 to 3).map { k =>
      (k.toLong, gridPng((x, y) => if (x == 8 && y < k) 0 else base(x, y)))
    }
    import spark.implicits._
    val ds = imgs.map { case (id, png) =>
      MediaRow(id, "image", png, MediaMeta(9, 8, 0L, "png")) }.toDS()
    val hashes = imgs.map { case (id, png) =>
      id -> Multimodal.dHash64(png).get }.toMap
    // construction check: variant k sits exactly k bits from base
    (0 to 3).foreach { k =>
      assert(java.lang.Long.bitCount(hashes(0L) ^ hashes(k.toLong)) == k) }
    val got = Multimodal.imageNearDupPairs(ds, maxHamming = 2)
      .use(_.collect()).map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val want = (for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
      hm = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if hm <= 2
    } yield ((a, b), hm)).toMap
    assert(got == want,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    assert(got.contains((1L, 2L)) && got.contains((0L, 2L)) && // boundary
      !got.contains((0L, 3L))) // just past the radius
  }

  // minimal mono 16-bit PCM WAV around caller-chosen per-window
  // amplitudes: window w of audioAHash64 covers samples [24w, 24w+24),
  // all set to +amp(w), so E(w) = 24·amp(w) exactly — every energy
  // comparison is controlled
  private def windowWav(amp: Int => Int, nSamples: Int = 1600): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + nSamples * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + nSamples * 2)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(16000).putInt(32000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(nSamples * 2)
    (0 until nSamples).foreach(i => bb.putShort(amp(i / 24).toShort))
    bb.array()
  }

  test("audioNearDupPairs: near-radius boundary sweep — planted k-bit collisions of DIFFERENT clips") {
    // base: alternating window energies (every comparison decisive).
    // v1 zeroes the LAST window (flips exactly bit 63); v2 drops
    // window 62 below both neighbors (flips exactly bits 61+62); v3
    // does both. Four DIFFERENT clips with a full known hamming
    // matrix: at maxHamming = 2 the banding must report every pair
    // within the radius — including collisions between two
    // non-identical clips — and nothing beyond.
    def base(w: Int): Int = if (w % 2 == 0) 200 else 100
    val amps: Seq[Int => Int] = Seq(
      base,
      w => if (w == 64) 0 else base(w),
      w => if (w == 62) 50 else base(w),
      w => if (w == 64) 0 else if (w == 62) 50 else base(w))
    val clips = amps.zipWithIndex.map { case (a, i) => (i.toLong, windowWav(a)) }
    val hashes = clips.map { case (id, wav) =>
      id -> Multimodal.audioAHash64(wav).get }.toMap
    val wantD = Map((0L, 1L) -> 1, (0L, 2L) -> 2, (0L, 3L) -> 3,
      (1L, 2L) -> 3, (1L, 3L) -> 2, (2L, 3L) -> 1)
    wantD.foreach { case ((a, b), d) =>
      assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) == d,
        s"construction: d($a,$b)") }
    import spark.implicits._
    val ds = clips.map { case (id, wav) =>
      MediaRow(id, "audio", wav, MediaMeta(0, 0, 100L, "wav")) }.toDS()
    val got = Multimodal.audioNearDupPairs(ds, maxHamming = 2)
      .use(_.collect()).map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got == wantD.filter(_._2 <= 2),
      s"got=$got want=${wantD.filter(_._2 <= 2)}")
  }

  // a 9×8 DIB frame whose pixels ARE the dHash sample grid (the
  // gridPng construction for the video channel): v(x, y) in TOP-row
  // coordinates, written bottom-up, all channels equal so luma = v
  private def gridDib(v: (Int, Int) => Int): Array[Byte] = {
    val stride = ((9 * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * 8)
    for (r <- 0 until 8; x <- 0 until 9) {
      val g = v(x, 7 - r).toByte
      val o = r * stride + x * 3
      out(o) = g; out(o + 1) = g; out(o + 2) = g
    }
    out
  }

  test("videoNearDupPairs: near-radius boundary sweep — planted per-frame k-bit collisions") {
    // clip k = [shared base frame, variant-k frame]: the variant
    // zeroes column 8 in rows 0..k-1, flipping EXACTLY bit y·8+7 per
    // row, so clip pair (a, b) agrees on frame 0 and sits |a − b|
    // bits apart on frame 1. At maxHamming = 2 the all-frames rule
    // must report every pair whose WORST frame is within the radius —
    // including collisions between two non-identical clips — and
    // nothing beyond (clip 0 vs clip 3: frame 1 is 3 bits out).
    def base(x: Int, y: Int): Int = if (x % 2 == 0) 150 else 50
    def variant(k: Int): Array[Byte] =
      gridDib((x, y) => if (x == 8 && y < k) 0 else base(x, y))
    val fhash = (0 to 3).map(k => k.toLong ->
      Multimodal.frameDHash(variant(k), 9, 8)).toMap
    (0 to 3).foreach { k => // construction: variant k is k bits from base
      assert(java.lang.Long.bitCount(fhash(0L) ^ fhash(k.toLong)) == k) }
    import spark.implicits._
    val ds = (0 to 3).map { k =>
      MediaRow(k.toLong, "video",
        Multimodal.aviBytesOf(Seq(gridDib(base), variant(k)), 9, 8),
        MediaMeta(9, 8, 2L, "rawvideo"))
    }.toDS()
    val got = Multimodal.videoNearDupPairs(ds, maxHamming = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val want = (for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
      hm = java.lang.Long.bitCount(fhash(a) ^ fhash(b)) if hm <= 2
    } yield ((a, b), 2)).toMap
    assert(got == want,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    assert(got.contains((1L, 3L)) && !got.contains((0L, 3L))) // boundary
  }

  test("hammingPairs: exact recall at the radius on adversarial planted bit-flips") {
    import spark.implicits._
    // base fingerprint + every 1-flip and a 3-flip: radius 2 must find
    // ALL pairs within hamming 2 (pigeonhole recall is exact) and none
    // beyond (the bit_count verify)
    val base = 0x5a5a5a5a5a5a5a5aL
    val rows = Seq((0L, base)) ++
      (0 until 64).map(i => (i + 1L, base ^ (1L << i))) ++
      Seq((100L, base ^ 7L))
    val got = graft.operators.Dedup.hammingPairs(rows.toDF("id", "h"), 64, 2)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byPair = got.map(p => ((p._1, p._2), p._3)).toMap
    // brute-force reference over the 66-row set
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      hm = java.lang.Long.bitCount(ha ^ hb) if hm <= 2
    } yield ((ia, ib), hm)).toMap
    assert(byPair == want,
      s"missing=${want.keySet -- byPair.keySet} extra=${byPair.keySet -- want.keySet}")
  }
}
