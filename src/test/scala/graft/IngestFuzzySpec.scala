package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Dedup
import graft.streaming.IngestFuzzy

/** Streaming fuzzy-key ingest gate over the persisted PassJoin segment
  * store: planted typo-duplicates across every boundary (vs pre-seeded
  * store, within a micro-batch, across micro-batches), empty-seed
  * bootstrap, replay idempotence, null-key passthrough, and parity with
  * the greedy sequential reference (the q170 NOT-EXISTS policy folded
  * batch over batch) — the property that the streaming path and a batch
  * backfill share one gate policy. */
class IngestFuzzySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def rows(rs: (Long, String)*) = rs.toDF("doc_id", "key")

  private def lev(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    m(a.length)(b.length)
  }

  /** The greedy sequential reference: per batch (ascending id), drop on
    * any store match or any smaller-id same-batch match; kept keys join
    * the store for the next batch. */
  private def greedyFold(seed: Seq[(Long, String)],
                         batches: Seq[Seq[(Long, String)]],
                         d: Int): Set[Long] = {
    var store = seed.toVector
    var kept = Set.empty[Long]
    for (b <- batches) {
      val sorted = b.sortBy(_._1)
      val surv = sorted.filter { case (id, s) =>
        !store.exists(t => lev(t._2, s) <= d) &&
          !sorted.exists(a => a._1 < id && lev(a._2, s) <= d)
      }
      kept ++= surv.map(_._1)
      store ++= surv
    }
    kept
  }

  test("stream gates against store, within batch, and across batches") {
    val (store, out, ckpt) = (tmp("fz_store"), tmp("fz_out"), tmp("fz_ckpt"))
    IngestFuzzy.fuzzySave(spark,
      Seq(1L -> "deduplication pipeline").toDF("id", "s"), store, maxDist = 2)

    val batchA = Seq(
      10L -> "deduplicaton pipeline",   // 1 edit from seeded 1 → drop vs store
      11L -> "spark native analytics",  // novel → keep
      12L -> "spark nativ analytics")   // 1 edit from 11 → within-batch drop
    val batchB = Seq(
      20L -> "spark native analytic",   // 1 edit from 11 (kept in A) → drop
      21L -> "parquet row group stats", // novel → keep
      22L -> "deduplication pipelines") // 1 edit from seeded 1 → drop vs store

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = IngestFuzzy.start(input.toDF().toDF("doc_id", "key"),
      store, out, ckpt)
    input.addData(batchA: _*)
    q.processAllAvailable()
    input.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 21L))

    // store state == seed + survivors, segments == direct recompute
    // (with the key string denormalized onto every seg row)
    val keys = spark.read.parquet(s"$store/keys")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(keys == Seq(1L -> "deduplication pipeline",
      11L -> "spark native analytics", 21L -> "parquet row group stats"))
    val segs = spark.read.parquet(s"$store/segs")
      .select("tid", "lt", "i", "seg", "s")
      .orderBy("tid", "i").collect().map(_.toSeq).toSeq
    val want = Dedup.edIndexSegs(
        keys.toDF("id", "s").selectExpr("id", "s", "length(s) AS len"),
        maxDist = 2, minSeg = 3, carryS = true)
      .select("tid", "lt", "i", "seg", "s")
      .orderBy("tid", "i").collect().map(_.toSeq).toSeq
    assert(segs == want)
    // the partition columns are the recorded layout's functions
    val layout = spark.read.parquet(s"$store/segs")
      .selectExpr("sb", "pmod(xxhash64(lt, i, seg), 64) AS want")
      .collect()
    assert(layout.forall(r => r.getInt(0) == r.getLong(1).toInt))
  }

  test("empty-seed bootstrap: first batch self-dedups, appends create files") {
    val (store, out) = (tmp("fz_boot_store"), tmp("fz_boot_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), store, maxDist = 1)
    val n = IngestFuzzy.processBatch(
      rows(5L -> "alpha beta gamma", 6L -> "alpha beta gamme",
           7L -> "something else entirely"), store, out)
    assert(n == 2L) // 6 drops within batch against 5
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(5L, 7L))
    // second batch probes the now-populated store
    val n2 = IngestFuzzy.processBatch(
      rows(8L -> "alpha beta gamma!", 9L -> "fresh wholly new key"), store, out)
    assert(n2 == 1L)
    assert(spark.read.parquet(s"$store/keys").count() == 3L)
  }

  test("replay of a fully-kept batch drops everything (idempotent gate)") {
    val (store, out) = (tmp("fz_rep_store"), tmp("fz_rep_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), store, maxDist = 2)
    val b = rows(1L -> "first unique key", 2L -> "second distinct entry")
    assert(IngestFuzzy.processBatch(b, store, out) == 2L)
    // at-least-once replay: every key re-matches itself at distance 0
    assert(IngestFuzzy.processBatch(b, store, out) == 0L)
    assert(spark.read.parquet(out).count() == 2L)
  }

  test("null keys match nothing and pass through with their columns") {
    val (store, out) = (tmp("fz_null_store"), tmp("fz_null_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq(1L -> "kept history key").toDF("id", "s"), store, maxDist = 2)
    val batch = Seq((30L, "kept history key!", "payload-a"),
        (31L, null: String, "payload-b"))
      .toDF("doc_id", "key", "extra")
    assert(IngestFuzzy.processBatch(batch, store, out) == 1L)
    val kept = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(kept == Seq(31L -> "payload-b"))
    // the null key never entered the store
    assert(spark.read.parquet(s"$store/keys").count() == 1L)
  }

  test("probing a non-store path throws the layout error, not a read error") {
    val e = intercept[IllegalArgumentException] {
      IngestFuzzy.processBatch(rows(1L -> "x"), tmp("fz_not_a_store"),
        tmp("fz_na_out"))
    }
    assert(e.getMessage.contains("fuzzySave"))
  }

  test("sequential fold equals the greedy reference on document heads") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "substring(text, 1, 24) AS key")
    val cuts = Seq(0L, 150L, 300L, Long.MaxValue)
    val batches = cuts.sliding(2).map { case Seq(lo, hi) =>
      all.where($"doc_id" >= lo && $"doc_id" < hi)
    }.toSeq

    val (store, out) = (tmp("fz_fold_store"), tmp("fz_fold_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), store, maxDist = 3)
    batches.foreach(b => IngestFuzzy.processBatch(b, store, out))
    val streamed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val ref = greedyFold(Seq.empty,
      batches.map(_.collect().map(r => (r.getLong(0), r.getString(1))).toSeq), 3)
    assert(streamed == ref)
    assert(streamed.nonEmpty && streamed.size < all.count())
    info(s"kept ${streamed.size} of ${all.count()} across ${batches.size} batches")
  }

  test("auto-split fold is bit-identical to the unsplit gate") {
    val batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"doc_id" < 400)
      .selectExpr("doc_id", "substring(text, 1, 24) AS key")
    def run(maxKeys: Int): (Set[Long], Seq[(Long, String)], Long) = {
      val (store, out) = (tmp(s"fz_split_s$maxKeys"), tmp(s"fz_split_o$maxKeys"))
      IngestFuzzy.fuzzySave(spark,
        Seq(1000000L -> "a pre seeded store key").toDF("id", "s"),
        store, maxDist = 3)
      IngestFuzzy.processBatch(batch, store, out, maxKeys = maxKeys)
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSet,
       spark.read.parquet(s"$store/keys").orderBy("id")
         .collect().map(r => (r.getLong(0), r.getString(1))).toSeq,
       spark.read.parquet(s"$store/segs").count())
    }
    val unsplit = run(1000000)
    val split = run(37) // ~11 id-ordered slices
    assert(split == unsplit)
    assert(unsplit._1.nonEmpty && unsplit._1.size < 400)
  }

  test("split fold honors the conservative cascade across a slice boundary") {
    // x drops against the store; k is within d of x but NOT of the
    // store key or any survivor. The first-wins rule drops k anyway
    // (the smaller key's fate doesn't matter) — a fold that only
    // remembered SURVIVORS would keep k. maxKeys=1 puts x and k in
    // different slices, so this pins the cross-slice cascade.
    val (store, out) = (tmp("fz_casc_store"), tmp("fz_casc_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq(100L -> "abcdefgh").toDF("id", "s"), store, maxDist = 2)
    val batch = rows(
      1L -> "abcdefgh12",   // lev 2 from store → drop
      2L -> "abcdefgh1234") // lev 2 from key 1, lev 4 from store → drop
    assert(Dedup.fuzzyKeyGate(batch.toDF("id", "s"),
      Seq(100L -> "abcdefgh").toDF("id", "s"), 2).use(_.count()) == 0L)
    assert(IngestFuzzy.processBatch(batch, store, out, maxKeys = 1) == 0L)
    assert(spark.read.parquet(s"$store/keys").count() == 1L)
  }

  test("split fold passes an all-null-key batch through untouched") {
    val (store, out) = (tmp("fz_nullsplit_store"), tmp("fz_nullsplit_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq(1L -> "some kept key").toDF("id", "s"), store, maxDist = 2)
    val batch = (100L until 125L).map(i => (i, null: String))
      .toDF("doc_id", "key")
    assert(IngestFuzzy.processBatch(batch, store, out, maxKeys = 10) == 25L)
    assert(spark.read.parquet(out).count() == 25L)
    assert(spark.read.parquet(s"$store/keys").count() == 1L) // nulls never enter
  }

  test("store with keys but zero segment files still gates (short keys)") {
    // every kept key shorter than minSeg*(d+1)-d cuts no segments, so
    // segs/ holds only _SUCCESS after the append — the gate must fall
    // back instead of dying on schema inference
    val (store, out) = (tmp("fz_shortseg_store"), tmp("fz_shortseg_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), store, maxDist = 1)
    assert(IngestFuzzy.processBatch(rows(1L -> "abc"), store, out) == 1L)
    assert(spark.read.parquet(s"$store/keys").count() == 1L)
    // next batch reads the segment-less store: the short-band path
    // still finds the d=1 match
    assert(IngestFuzzy.processBatch(rows(2L -> "abd"), store, out) == 0L)
    assert(IngestFuzzy.processBatch(rows(3L -> "a wholly different long key"),
      store, out) == 1L)
  }

  test("rebalance: gate decisions bit-equal across a geometry change; maintain growth-gates") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "substring(text, 1, 24) AS key")
    def freshStore(nB: Int): String = {
      val s = tmp(s"fz_rebal_$nB")
      IngestFuzzy.fuzzySave(spark,
        all.where($"doc_id" < 200).selectExpr("doc_id AS id", "key AS s"),
        s, maxDist = 3, nBuckets = nB)
      s
    }
    val batch = all.where($"doc_id" >= 200 && $"doc_id" < 300)
    def keptAt(store: String): Set[Long] = {
      IngestFuzzy.gateBatch(batch, store)
        .use(_.select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    val store = freshStore(4)
    val before = keptAt(store)
    assert(before.nonEmpty && before.size < 100)
    // co-prime re-bucket: full remap, decisions unchanged
    val rows = spark.read.parquet(s"$store/segs").count()
    assert(IngestFuzzy.fuzzyRebalance(spark, store, 61) == rows)
    assert(keptAt(store) == before)
    // and identical to a store BORN at the new geometry
    assert(keptAt(freshStore(61)) == before)
    // growth gate: generous target is a no-op, tiny target rebalances
    assert(IngestFuzzy.fuzzyMaintain(spark, store, 1000000L) == 61)
    val grown = IngestFuzzy.fuzzyMaintain(spark, store, 2L)
    assert(grown == ((rows + 1L) / 2L).toInt && grown != 61)
    assert(keptAt(store) == before)
  }

  test("probe plan: the segs read is partition-pruned to the probe's buckets") {
    // wide geometry vs a one-key probe: the probe's segment tuples hash
    // to a handful of buckets, so the isin prune must reach the scan as
    // a PARTITION filter (the q165 lexSearch pattern) and the pruned
    // read must return a strict subset of the store's seg rows
    val store = tmp("fz_prune")
    val seed = (0L until 200L)
      .map(i => (i, s"stored key number $i with tail ${i * 37}"))
    IngestFuzzy.fuzzySave(spark, seed.toDF("id", "s"), store,
      maxDist = 2, nBuckets = 128)
    val probe = Seq((9999L, "stored key number 7 with tail 259"))
      .toDF("id", "s").selectExpr("id", "s", "length(s) AS len")
    val plan = IngestFuzzy.storeProbe(spark, store, probe,
      IngestFuzzy.collectProbes(probe, 2, 3, 128).buckets, 2, 3, 128).queryExecution.sparkPlan
    val scans = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("segs")) => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "segs scan lost its partition filter")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/segs"))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("sb="))
    val read = scans.map(_.selectedPartitions.partitionCount).sum
    assert(read < dirs, s"pruned read ($read partitions) did not prune (store $dirs)")
    // and the pruned probe still finds the planted 1-edit duplicate
    IngestFuzzy.gateBatch(
      Seq((9999L, "stored key number 7 with tail 259x"))
        .toDF("doc_id", "key"), store).use { kept =>
      assert(kept.count() == 0L)
    }
  }

  test("compactStore restores 1 row/key after a duplicated store append") {
    val (store, out) = (tmp("fz_cmp_store"), tmp("fz_cmp_out"))
    IngestFuzzy.fuzzySave(spark,
      Seq(1L -> "only key here").toDF("id", "s"), store, maxDist = 2)
    // simulate the crash-between-writes replay artifact: the same keys
    // appended twice (bit-identical rows, the at-least-once contract)
    IngestFuzzy.appendKeys(spark, store,
      Seq(1L -> "only key here").toDF("id", "s"))
    assert(spark.read.parquet(s"$store/keys").count() == 2L)
    IngestFuzzy.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/keys").count() == 1L)
    assert(spark.read.parquet(s"$store/segs").count() ==
      Dedup.edIndexSegs(Seq(1L -> "only key here").toDF("id", "s")
        .selectExpr("id", "s", "length(s) AS len"), 2, 3).count())
    // gate still correct after compaction
    assert(IngestFuzzy.processBatch(rows(2L -> "only key hero"), store, out) == 0L)
  }
}
