package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.Dedup
import graft.streaming.{IngestDedup, IngestFingerprints, IngestFuzzy}

/** Each ingest gate's drop set against its batch-form operator on
  * planted data: the content gate against `Dedup.sketchDrops` (q97),
  * the key gate against `Dedup.fuzzyKeyGate` (q170), the fingerprint
  * gate against the all-parts rule evaluated pair by pair. The planted
  * cases sit exactly on each threshold (33 of 66 slots at 0.5, a
  * Levenshtein distance of exactly d, a Hamming distance of exactly d)
  * and one step past it, inside the batch and against the store; a
  * replayed batch drops itself after its append; null keys survive; and
  * every gate decides the same at every slice size. */
class IngestGateParitySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private val n = Dedup.NumPerms

  // ---- content gate ----

  private def sketchFrame(rows: Seq[(Long, Array[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, h) =>
      Row.fromSeq(id +: h.toSeq) }: _*),
      StructType(StructField("doc_id", LongType) +:
        (0 until n).map(p => StructField(s"h$p", LongType))))

  test("content gate: drop set equals sketchDrops at the 33/66 tie, in batch and vs the store, and on replay") {
    val rnd = new scala.util.Random(7)
    def fresh() = Array.fill(n)(rnd.nextLong())
    // b agrees with a on exactly the slots in `same`
    def agreeing(a: Array[Long], same: Range) = {
      val b = fresh(); same.foreach(p => b(p) = a(p)); b
    }
    val s1 = fresh(); val s2 = fresh()
    val b101 = agreeing(s1, 0 to 32)      // 33/66 vs store 1: tie → drop
    val b102 = agreeing(s2, 0 to 31)      // 32/66 vs store 2 → keep
    val b103 = agreeing(b101, 33 to 65)   // 33/66 vs 101 (itself dropped) → drop
    val b104 = agreeing(b102, 34 to 65)   // 32/66 vs 102 → keep
    val b105 = fresh()                    // novel → keep
    val storeRows = Seq(1L -> s1, 2L -> s2)
    val batchRows = Seq(101L -> b101, 102L -> b102, 103L -> b103, 104L -> b104, 105L -> b105)
    val store = tmp("par_sig")
    sketchFrame(storeRows).write.mode("overwrite").parquet(store)
    val batch = sketchFrame(batchRows)
    def operator(st: Seq[(Long, Array[Long])], t: Double): Set[Long] = {
      val b = batch.persist()
      try {
        val d = Dedup.sketchDrops(b, sketchFrame(st), t)
        try d.collect().map(_.getLong(0)).toSet finally d.unpersist()
      } finally b.unpersist()
    }
    for (t <- Seq(0.3, 0.5, 0.5 + 1e-9, 0.8); probeDocs <- Seq(1, 2, 5000))
      assert(IngestDedup.decideSketch(batch, store, t, probeDocs)._1 == operator(storeRows, t),
        s"threshold $t, probeDocs $probeDocs")
    val (drops, sigs) = IngestDedup.decideSketch(batch, store, 0.5)
    assert(drops == Set(101L, 103L))
    assert(IngestDedup.decideSketch(batch, store, 0.5 + 1e-9)._1.isEmpty)
    // the append, then the replay: every batch doc meets its own sketch
    sigs.where(!$"doc_id".isin(drops.toSeq: _*)).write.mode("append").parquet(store)
    val kept = batchRows.filterNot(r => drops(r._1))
    assert(IngestDedup.decideSketch(batch, store, 0.5)._1 ==
      batchRows.map(_._1).toSet)
    assert(operator(storeRows ++ kept, 0.5) == batchRows.map(_._1).toSet)
  }

  // ---- key gate ----

  test("key gate: drop set equals fuzzyKeyGate at distance exactly d, at every maxKeys, and on replay") {
    // d = 2, minSeg = 3: keys below 9 chars take the length band
    val storeKeys = Seq(1L -> "abcdefghijkl", 2L -> "wxyz", 3L -> "mnopqrstu")
    val batch = Seq[(Long, String)](
      10L -> "abXdefghiYkl",  // 2 substitutions from 1 → drop
      11L -> "aXcdeYghiZkl",  // 3 from 1 → keep
      12L -> "wx",            // 2 deletions from 2 (short band) → drop
      13L -> "mnopqrs",       // 2 deletions from 3 (short vs 9-char) → drop
      14L -> "qqqqqqqqqqqq",  // novel → keep
      15L -> "qqqqqqqqqqXY",  // 2 from 14 (kept) → in-batch drop
      16L -> "qqqqqqqqZZXY",  // 2 from 15 (itself dropped), 4 from 14 → drop
      17L -> "qqqqqqqCZZAB",  // 3 from 16, 5 from 14 and 15 → keep
      18L -> null,            // null key: matches nothing → survives
      19L -> "wzzz")          // 2 from 2 (short band) → drop
      .toDF("doc_id", "key")
    val storeFrame = storeKeys.toDF("id", "s")
    val keyed = batch.where($"key".isNotNull).select($"doc_id".as("id"), $"key".as("s"))
    val operatorKept = Dedup.fuzzyKeyGate(keyed, storeFrame, 2)
      .use(_.select("id").collect().map(_.getLong(0)).toSet)
    val want = keyed.select("id").collect().map(_.getLong(0)).toSet -- operatorKept
    assert(want == Set(10L, 12L, 13L, 15L, 16L, 19L))
    def gateDrops(store: String, maxKeys: Int): Set[Long] =
      (10L to 19L).toSet -- IngestFuzzy.gateBatch(batch, store, maxKeys = maxKeys)
        .use(_.select("doc_id").collect().map(_.getLong(0)).toSet)
    val store = tmp("par_fz")
    IngestFuzzy.fuzzySave(spark, storeFrame, store, maxDist = 2)
    for (m <- Seq(1, 7, 10000)) assert(gateDrops(store, m) == want, s"maxKeys $m")
    // the append, then the replay: every keyed row meets itself at 0
    assert(IngestFuzzy.processBatch(batch, store, tmp("par_fz_out")) == 4L)
    for (m <- Seq(1, 10000)) assert(gateDrops(store, m) == (10L to 19L).toSet - 18L)
  }

  test("key gate: drop set equals fuzzyKeyGate on document heads at every maxKeys") {
    val heads = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "substring(text, 1, 20) AS key")
    val storeFrame = heads.where($"doc_id" < 100).selectExpr("doc_id AS id", "key AS s")
    val batch = heads.where($"doc_id" >= 100 && $"doc_id" < 160)
    val keyed = batch.select($"doc_id".as("id"), $"key".as("s"))
    val want = keyed.select("id").collect().map(_.getLong(0)).toSet --
      Dedup.fuzzyKeyGate(keyed, storeFrame, 3)
        .use(_.select("id").collect().map(_.getLong(0)).toSet)
    assert(want.nonEmpty)
    val store = tmp("par_fz_heads")
    IngestFuzzy.fuzzySave(spark, storeFrame, store, maxDist = 3)
    val all = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    for (m <- Seq(1, 7, 10000))
      assert(all -- IngestFuzzy.gateBatch(batch, store, maxKeys = m)
        .use(_.select("doc_id").collect().map(_.getLong(0)).toSet) == want, s"maxKeys $m")
  }

  // ---- fingerprint gate ----

  /** The gate's rule pair by pair: `id` drops when a store record, or a
    * smaller batch id, has the same part count and every aligned part
    * within `d` bits; a null part matches nothing. */
  private def reference(store: Seq[(Long, Int, java.lang.Long)],
                        batch: Seq[(Long, Int, java.lang.Long)], d: Int): Set[Long] = {
    def recs(rs: Seq[(Long, Int, java.lang.Long)]) = rs.groupBy(_._1)
    val (st, bt) = (recs(store), recs(batch))
    def near(a: Seq[(Long, Int, java.lang.Long)], b: Seq[(Long, Int, java.lang.Long)]) =
      a.length == b.length && b.forall { case (_, p, h) =>
        h != null && a.exists { case (_, q, g) =>
          q == p && g != null && java.lang.Long.bitCount(g ^ h) <= d }
      }
    bt.collect { case (id, b) if st.values.exists(near(_, b)) ||
        bt.exists { case (a, ra) => a < id && near(ra, b) } => id }.toSet
  }

  test("fingerprint gate: drop set equals the all-parts rule at hamming exactly d, at every maxBandRows, and on replay") {
    val d = 2
    val x = 0x0123456789abcdefL; val y = 0x7edcba9876543210L
    val z = 0x00ff00ff00ff00ffL; val w = 0x5555aaaa5555aaaaL
    def flip(h: Long, bits: Int*) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val store = Seq[(Long, Int, java.lang.Long)](
      (1L, 0, x),                                // single-part
      (2L, 0, y), (2L, 1, z))                    // two-part
    val batch = Seq[(Long, Int, java.lang.Long)](
      (10L, 0, flip(x, 3, 60)),                  // 2 bits from 1 → drop
      (11L, 0, flip(x, 5, 30, 61)),              // 3 bits from 1, 5 from 10 → keep
      (12L, 0, flip(y, 1, 2)), (12L, 1, flip(z, 9, 50)),   // both parts at 2 → drop
      (13L, 0, flip(y, 1)), (13L, 1, flip(z, 20, 21, 22)), // one part at 3 → keep
      (14L, 0, y),                               // part-count mismatch with 2 → keep
      (15L, 0, w),                               // novel → keep
      (16L, 0, flip(w, 0, 63)),                  // 2 bits from 15 → in-batch drop
      (17L, 0, flip(w, 0, 63, 31, 32)),          // 2 from 16 (dropped), 4 from 15 → drop
      (18L, 0, null),                            // null part matches nothing → keep
      (19L, 0, flip(x, 3, 30, 60, 61)), (19L, 1, null))    // null second part → keep
    def frame(rs: Seq[(Long, Int, java.lang.Long)]) = rs.toDF("id", "p", "h")
    val want = reference(store, batch, d)
    assert(want == Set(10L, 12L, 16L, 17L))
    val path = tmp("par_fp")
    IngestFingerprints.fpSave(spark, frame(store), path, maxHamming = d)
    val docs = (10L to 19L).toDF("doc_id")
    def gateDrops(m: Long): Set[Long] =
      (10L to 19L).toSet -- IngestFingerprints.gateBatch(docs, path, frame(batch), m)
        .use(_._1.select("doc_id").collect().map(_.getLong(0)).toSet)
    for (m <- Seq(1L, 7L, 25L, 1L << 21)) assert(gateDrops(m) == want, s"maxBandRows $m")
    // the append, then the replay: every record with no null part meets itself
    assert(IngestFingerprints.processBatch(docs, path, tmp("par_fp_out"), frame(batch)) == 6L)
    assert(gateDrops(1L << 21) == (10L to 19L).toSet -- Set(18L, 19L))
    assert(gateDrops(1L) == gateDrops(1L << 21))
  }
}
