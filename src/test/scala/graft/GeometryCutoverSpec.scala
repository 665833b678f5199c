package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Lexical, TextAnalysis}
import graft.operators.Linkage._
import graft.streaming.{IngestFuzzy, IngestLinkage}

/** Crash-injection pins for the ATOMIC geometry+data cutover (round
  * 13): every bucketed store's authoritative bucket count rides INSIDE
  * the data directory (`_GEOMETRY`, stamped into the staged `.rebal`
  * dir before the promote-rename), so no crash point of a rebalance —
  * including the old round-12 silent-miss window between the promote
  * and the meta write, and linkage's wider window between the members
  * and entities rebuckets — can leave data partitioned by one geometry
  * while probes prune it by another. Each test constructs a real
  * post-crash filesystem state and asserts the next probe/append is
  * bit-equal to the no-crash run. */
class GeometryCutoverSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def rmTree(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  // ---------------- fuzzy segment store ----------------

  private val fzSeed =
    (1L to 40L).map(i => (i, s"seeded fuzzy key number $i")).toDF("id", "s")
  private val fzProbe = Seq(
    100L -> "seeded fuzzy key number 7x",  // 1 edit from seed 7 → drop
    101L -> "completely novel key alpha",  // keep
    102L -> "completely novel key alphq")  // 1 edit from 101 → in-batch drop
    .toDF("doc_id", "key")

  test("fuzzy: crash before the meta write — probes, appends, and compaction all follow the stamped geometry") {
    val (store, out) = (tmp("geo_fz_store"), tmp("geo_fz_out"))
    IngestFuzzy.fuzzySave(spark, fzSeed, store, maxDist = 2, minSeg = 3,
      nBuckets = 4)
    val expect = IngestFuzzy.gateBatch(fzProbe, store)
      .use(_.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(expect == Set(101L))
    // rebalance to a co-prime geometry, then CRASH before the trailing
    // meta write: restore the old meta row (the round-12 silent-miss
    // state — segs/ partitioned at 7 while meta still says 4)
    IngestFuzzy.fuzzyRebalance(spark, store, 7)
    Seq((2, 3, 4)).toDF("max_dist", "min_seg", "n_buckets")
      .write.mode("overwrite").parquet(s"$store/meta")
    IngestFuzzy.gateBatch(fzProbe, store).use { k1 =>
      assert(k1.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
    }
    // appends in the crash state cut to the DIR geometry: a later
    // probe must re-find the just-appended key
    IngestFuzzy.processBatch(fzProbe, store, out)
    val dup = Seq(200L -> "completely novel key allpha").toDF("doc_id", "key")
    IngestFuzzy.gateBatch(dup, store).use { k2 =>
      assert(k2.count() == 0L)
    }
    // every segs partition carries the NEW geometry's bucket values
    val sbs = spark.read.parquet(s"$store/segs").select("sb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(sbs.nonEmpty && sbs.forall(_ < 7))
    // compaction preserves the stamped geometry across its own swap
    IngestFuzzy.compactStore(spark, store)
    assert(graft.core.Stores.readGeometry(spark, s"$store/segs")
      .contains(7))
    IngestFuzzy.gateBatch(dup, store).use { k3 =>
      assert(k3.count() == 0L)
    }
  }

  test("fuzzy: crash between the swap renames — the next probe heals segs.old back") {
    val store = tmp("geo_fz_heal")
    IngestFuzzy.fuzzySave(spark, fzSeed, store, maxDist = 2, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store/segs"),
      new org.apache.hadoop.fs.Path(s"$store/segs.old")))
    IngestFuzzy.gateBatch(fzProbe, store).use { k =>
      assert(k.select("doc_id").collect().map(_.getLong(0)).toSet == Set(101L))
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/segs")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$store/segs.old")))
  }

  // ---------------- lexical postings store ----------------

  private val lexTerms = Seq("spark", "merge", "dup")
  private def asSeq(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("lexical: crash before the meta write — searches and appends follow the stamped geometry") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmp("geo_lex")
    Lexical.lexSave(spark, docs.where($"doc_id" < 200), dir, nBuckets = 4)
    val before = asSeq(Lexical.lexSearch(spark, dir, lexTerms, 20))
    Lexical.lexRebalance(spark, dir, 7)
    Seq(4).toDF("n_buckets").write.mode("overwrite").parquet(s"$dir/meta")
    assert(asSeq(Lexical.lexSearch(spark, dir, lexTerms, 20)) == before)
    // an append in the crash state cuts to the dir geometry and the
    // incremental store still equals the one-shot scorer
    Lexical.lexAppendSave(spark, dir,
      docs.where($"doc_id" >= 200 && $"doc_id" < 300), 1L)
    assert(asSeq(Lexical.lexSearch(spark, dir, lexTerms, 20)) ==
      asSeq(TextAnalysis.bm25TopK(docs.where($"doc_id" < 300), lexTerms, 20)))
  }

  test("lexical: crash between the swap renames — the next search heals postings.old back") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmp("geo_lex_heal")
    Lexical.lexSave(spark, docs.where($"doc_id" < 200), dir, nBuckets = 4)
    val before = asSeq(Lexical.lexSearch(spark, dir, lexTerms, 20))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/postings"),
      new org.apache.hadoop.fs.Path(s"$dir/postings.old")))
    assert(asSeq(Lexical.lexSearch(spark, dir, lexTerms, 20)) == before)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings")))
  }

  // ---------------- linkage member/entity stores ----------------

  private type Rec = (Long, String, String, String, Long, String, Long)
  private val rules = Seq(LevRule("key", 2), ExactRule("src"))
  private val weights = Map("key" -> (600, -400), "src" -> (300, -200))
  private val threshold = 700
  private val merge = Seq(Longest("key"), PreferA("src"),
    Newest("note", "ts"))
  private def ldf(rs: Seq[Rec]): DataFrame =
    rs.toDF("doc_id", "block", "key", "src", "num", "note", "ts")

  private val lBatch1: Seq[Rec] = (0 until 12).map { b =>
    (b * 2 + 1L, s"blk$b", s"entity key number $b", "srcA", 10L,
      s"n${b * 2 + 1}", b * 2 + 1L)
  }
  private val lBatch2: Seq[Rec] =
    (0 until 12).map { b => // 1-edit twin of each batch-1 record → joins it
      (100L + b, s"blk$b", s"entity key number ${b}x", "srcA", 12L,
        s"n${100 + b}", 100L + b)
    } ++ Seq((200L, "blk3", "a wholly different key", "srcB", 5L, "n200", 200L))

  private def goldenSorted(path: String): Seq[String] =
    IngestLinkage.goldenLatest(spark, path)
      .orderBy("entity").collect().map(_.toString).toSeq

  test("linkage: crash between the members and entities rebuckets (meta stale) — resolution is unchanged") {
    val (store, out) = (tmp("geo_lk_store"), tmp("geo_lk_out"))
    val (ctrl, ctrlOut) = (tmp("geo_lk_ctrl"), tmp("geo_lk_ctrlout"))
    IngestLinkage.linkSave(spark, store, rules, weights, threshold, merge,
      nBuckets = 4)
    IngestLinkage.processBatch(ldf(lBatch1), store, out)
    // control = the no-crash store, frozen before the rebalance
    copyTree(store, ctrl)
    // crash state: members/ rebucketed to 7 (marker 7), entities/ and
    // meta/ still at the old geometry — the widest window linkRebalance
    // has (crash after the first rebucket, before the second and the
    // meta write)
    IngestLinkage.linkRebalance(spark, store, 7)
    rmTree(s"$store/entities")
    copyTree(s"$ctrl/entities", s"$store/entities")
    rmTree(s"$store/meta")
    copyTree(s"$ctrl/meta", s"$store/meta")
    assert(graft.core.Stores.readGeometry(spark, s"$store/members")
      .contains(7))
    assert(graft.core.Stores.readGeometry(spark, s"$store/entities")
      .contains(4))
    // batch 2 resolves identically on the crash-state store and the
    // untouched control — cross-batch matches via the members probe,
    // survivorship via the entities probe, both geometry-resolved
    // per-dir from the stamped markers
    IngestLinkage.processBatch(ldf(lBatch2), store, out)
    IngestLinkage.processBatch(ldf(lBatch2), ctrl, ctrlOut)
    // the control out dir holds only batch 2 (the store copy happened
    // after batch 1 landed in the main out) — compare batch-2 rows
    val entsMain = spark.read.parquet(out)
      .where($"doc_id" >= 100).select("doc_id", "entity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val entsCtrl = spark.read.parquet(ctrlOut)
      .where($"doc_id" >= 100).select("doc_id", "entity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(entsMain == entsCtrl)
    // every batch-2 twin joined its batch-1 record's entity
    (0 until 12).foreach { b =>
      assert(entsMain.contains((100L + b, b * 2 + 1L)))
    }
    assert(goldenSorted(store) == goldenSorted(ctrl))
  }
}
