package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Linkage._
import graft.streaming.IngestLinkage

/** Streaming entity resolution over the persisted linkage store:
  * fold parity (any id-ordered batch split == the one-batch run,
  * bit-for-bit, across assignments, members, and golden records),
  * agreement with the driver-side sequential reference model, the
  * incremental survivorship aggregates vs the pairwise goldenRecords
  * fold, replay idempotency, null-block passthrough, the golden
  * compaction gate, and the model guards at linkSave. */
class IngestLinkageSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  // (id, block, key, src, num, note, ts)
  private type Rec = (Long, String, String, String, Long, String, Long)

  private val rules = Seq(LevRule("key", 2), ExactRule("src"),
    BandRule("num", 5))
  private val weights = Map("key" -> (600, -400), "src" -> (300, -200),
    "num" -> (200, -100))
  private val threshold = 700 // key AND src must agree; num is optional
  private val merge = Seq(Longest("key"), PreferA("src"), Greatest("num"),
    Newest("note", "ts"))

  private def df(rs: Seq[Rec]): DataFrame =
    rs.toDF("doc_id", "block", "key", "src", "num", "note", "ts")

  private def lev(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    m(a.length)(b.length)
  }

  private def score(a: Rec, b: Rec): Int =
    (if (lev(a._3, b._3) <= 2) 600 else -400) +
      (if (a._4 == b._4) 300 else -200) +
      (if (math.abs(a._5 - b._5) <= 5) 200 else -100)

  /** The sequential reference: records in id order, each joins the
    * entity of its best-scoring prior (ties to the smallest prior id)
    * or founds its own. */
  private def seqResolve(rs: Seq[Rec]): Map[Long, Long] = {
    val sorted = rs.sortBy(_._1)
    var ent = Map.empty[Long, Long]
    for (r <- sorted) {
      val cand = sorted.filter(q => q._1 < r._1 && q._2 != null &&
        r._2 != null && q._2 == r._2 && score(q, r) >= threshold)
      val best = cand.sortBy(q => (-score(q, r), q._1)).headOption
      ent += r._1 -> best.map(q => ent(q._1)).getOrElse(r._1)
    }
    ent
  }

  /** The pairwise goldenRecords fold per entity, in id order —
    * (key, src, num, note, note_ts, ver). */
  private def goldenFold(rs: Seq[Rec], ent: Map[Long, Long])
      : Map[Long, (String, String, Long, String, Long, Long)] =
    rs.sortBy(_._1).groupBy(r => ent(r._1)).map { case (e, members) =>
      val g = members.tail.foldLeft(
        (members.head._3, members.head._4, members.head._5,
          members.head._6, members.head._7)) { case ((k, s, n, nt, nts), r) =>
        val k2 = if (k == null) r._3
          else if (r._3 != null && r._3.length > k.length) r._3 else k
        val n2 = if (r._5 > n) r._5 else n
        val (nt2, nts2) =
          if (nt == null) (r._6, r._7)
          else if (r._6 == null) (nt, nts)
          else if (r._7 > nts) (r._6, r._7) else (nt, nts)
        (k2, s, n2, nt2, nts2)
      }
      e -> (g._1, g._2, g._3, g._4, g._5, members.map(_._1).max)
    }

  private def freshStore(): (String, String) = {
    val (store, out) = (tmp("lk_store"), tmp("lk_out"))
    IngestLinkage.linkSave(spark, store, rules, weights, threshold, merge)
    (store, out)
  }

  private def runBatches(batches: Seq[Seq[Rec]])
      : (String, String) = {
    val (store, out) = freshStore()
    batches.foreach(b => IngestLinkage.processBatch(df(b), store, out))
    (store, out)
  }

  private def assignments(out: String): Map[Long, Long] =
    spark.read.parquet(out).select("doc_id", "entity").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def goldenRows(store: String): Set[Seq[Any]] =
    IngestLinkage.goldenLatest(spark, store)
      .collect().map(_.toSeq).toSet

  // planted corpus: three entities with variants, a chain, a loner, a
  // hot block, and a null block — ids interleave entities
  private val feed: Seq[Rec] = Seq(
    (1L, "en", "alpha data pipeline", "s1", 100L, "n-one", 10L),
    (2L, "en", "beta query engine", "s2", 200L, "n-two", 11L),
    (3L, "de", "gamma stream graph", "s1", 300L, null, 12L),
    (5L, "en", "alpha data pipelin", "s1", 102L, "n-five-longer", 14L),
    (7L, "en", "beta query enginee", "s2", 204L, "n-seven", 9L),
    (9L, null, "orphan block none", "s3", 400L, "n-nine", 15L),
    (10L, "en", "alpha data pipelineXL", "s1", 101L, null, 20L),
    (12L, "de", "gamma stream grap", "s1", 299L, "n-twelve", 8L),
    (14L, "en", "delta solo record", "s4", 500L, "n-fourteen", 7L),
    (16L, "en", "beta query engin", "s2", 199L, "n-sixteen", 30L),
    (18L, "de", "gamma stream graphi", "s1", 304L, "n-eighteen", 31L),
    (20L, "en", "alpha data pipelineX", "s1", 103L, "n-twenty", 2L))

  test("fold parity: any id-ordered split is bit-identical") {
    val sorted = feed.sortBy(_._1)
    val one = runBatches(Seq(sorted))
    val three = runBatches(Seq(sorted.take(4), sorted.slice(4, 8),
      sorted.drop(8)))
    val six = runBatches(sorted.grouped(2).toSeq)
    assert(assignments(one._2) == assignments(three._2))
    assert(assignments(one._2) == assignments(six._2))
    assert(goldenRows(one._1) == goldenRows(three._1))
    assert(goldenRows(one._1) == goldenRows(six._1))
    val mem = (s: String) => spark.read.parquet(s"$s/members")
      .collect().map(_.toSeq).toSet
    assert(mem(one._1) == mem(three._1))
    assert(mem(one._1) == mem(six._1))
  }

  test("assignments match the sequential reference model") {
    val (_, out) = runBatches(Seq(feed.sortBy(_._1).take(6),
      feed.sortBy(_._1).drop(6)))
    val got = assignments(out)
    val want = seqResolve(feed)
    assert(got == want, s"got=$got want=$want")
    // the planted structure actually resolved: alpha variants cluster
    assert(got(5L) == got(1L) && got(10L) == got(1L) && got(20L) == got(1L))
    assert(got(7L) == got(2L) && got(16L) == got(2L))
    assert(got(12L) == got(3L) && got(18L) == got(3L))
    // null block founds its own entity; so does the loner
    assert(got(9L) == 9L && got(14L) == 14L)
  }

  test("incremental survivorship equals the pairwise goldenRecords fold") {
    val (store, out) = runBatches(Seq(feed.sortBy(_._1).take(5),
      feed.sortBy(_._1).drop(5)))
    val ent = assignments(out)
    val want = goldenFold(feed, ent)
    val got = IngestLinkage.goldenLatest(spark, store).collect().map { r =>
      r.getLong(0) -> (r.getString(2), r.getString(3), r.getLong(4),
        r.getString(5), if (r.isNullAt(6)) -1L else r.getLong(6),
        r.getLong(1))
    }.toMap
    val wantAdj = want.map { case (e, (k, s, n, nt, nts, v)) =>
      e -> (k, s, n, nt, if (nt == null) -1L else nts, v) }
    assert(got == wantAdj, s"got=$got want=$wantAdj")
  }

  test("replay is idempotent: assignments and golden records unchanged") {
    val sorted = feed.sortBy(_._1)
    val (store, out) = runBatches(Seq(sorted.take(7), sorted.drop(7)))
    val (a1, g1) = (assignments(out), goldenRows(store))
    IngestLinkage.processBatch(df(sorted.drop(7)), store, out) // replay
    assert(assignments(out) == a1)
    assert(goldenRows(store) == g1)
    // compaction reclaims the duplicated rows
    graft.streaming.compactKept(spark, out)
    IngestLinkage.compactStore(spark, store)
    assert(assignments(out) == a1)
    assert(goldenRows(store) == g1)
    assert(spark.read.parquet(s"$store/members").count() == feed.size)
    // deeper reclaim: latest-version-only leaves the read view intact
    // and exactly one row per entity on disk
    IngestLinkage.compactGolden(spark, store)
    assert(goldenRows(store) == g1)
    assert(spark.read.parquet(s"$store/entities").count() ==
      a1.values.toSet.size)
  }

  test("store probe plan: the batch broadcasts, members never shuffle") {
    // the corpus-scale side of the probe is members/; it must stream
    // straight from parquet into the join — the batch side carries the
    // explicit broadcast hint, so the shape holds at any store size,
    // independent of static size estimates
    val (store, _) = runBatches(Seq(feed.sortBy(_._1).take(6)))
    val members = spark.read.parquet(s"$store/members")
    val batch = df(feed.sortBy(_._1).drop(6))
      .selectExpr("doc_id AS id", "block", "key", "src", "num")
    val probe = graft.operators.Linkage.fieldAgreements(members,
      org.apache.spark.sql.functions.broadcast(batch), rules)
    val p = probe.queryExecution.sparkPlan // pre-AQE, the planned shape
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val joins = p.collectWithSubqueries { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "probe lost its broadcast join")
    joins.foreach { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      assert(build.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.isEmpty, "the members scan sits on the broadcast build side")
    }
    // a broadcast join on the only join in the plan ⇒ members stream
    // straight from parquet, no shuffle anywhere on the probe
    assert(p.collectWithSubqueries { case j: SortMergeJoinExec => j }.isEmpty
      && p.collectWithSubqueries { case j: ShuffledHashJoinExec => j }.isEmpty,
      "the store probe plans a shuffle join")
  }

  test("probe reads prune to the batch's partitions; rebalance keeps every answer") {
    // geometry-independence: a store born at nBuckets=3, the same store
    // rebalanced to 97, and a store born at 97 all agree bit-for-bit
    def runAt(nB: Int, rebalTo: Option[Int]): (Map[Long, Long], Set[Seq[Any]]) = {
      val (store, out) = (tmp("lk_geo_store"), tmp("lk_geo_out"))
      IngestLinkage.linkSave(spark, store, rules, weights, threshold,
        merge, nBuckets = nB)
      val sorted = feed.sortBy(_._1)
      IngestLinkage.processBatch(df(sorted.take(6)), store, out)
      rebalTo.foreach(b => IngestLinkage.linkRebalance(spark, store, b))
      IngestLinkage.processBatch(df(sorted.drop(6)), store, out)
      (assignments(out), goldenRows(store))
    }
    val born3 = runAt(3, None)
    assert(runAt(3, Some(97)) == born3)
    assert(runAt(97, None) == born3)
    // the members/ partition filter reaches the scan: a one-block batch
    // against the default 64-bucket store reads a strict partition
    // subset (the q165 lexSearch pattern)
    val (store, out) = runBatches(Seq(feed.sortBy(_._1)))
    val cfg = IngestLinkage.readCfg(spark, store)
    val b0 = df(Seq(feed.head)).selectExpr("doc_id AS id", "block", "key",
      "src", "num")
    val buckets = b0.selectExpr(s"cast(pmod(xxhash64(block), ${cfg.nBuckets}) AS int) AS mb")
      .distinct().collect().map(_.getInt(0))
    assert(buckets.length == 1)
    val pruned = spark.read.parquet(s"$store/members")
      .where(org.apache.spark.sql.functions.col("mb")
        .isin(buckets.map(Integer.valueOf): _*))
    val scans = pruned.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "members scan lost its partition filter")
    assert(pruned.count() < spark.read.parquet(s"$store/members").count())
    // growth gate: generous target is a no-op
    assert(IngestLinkage.linkMaintain(spark, store) == cfg.nBuckets)
    // maintenance compaction reproduces the partition layout
    IngestLinkage.compactGolden(spark, store)
    val ents = spark.read.parquet(s"$store/entities")
    assert(ents.schema.fieldNames.contains("eb"))
    val after = runBatches(Seq(feed.sortBy(_._1)))
    assert(assignments(out) == assignments(after._2))
  }

  test("model guards at linkSave") {
    val p = tmp("lk_bad")
    intercept[IllegalArgumentException] { // weights below threshold
      IngestLinkage.linkSave(spark, p, rules, weights, 1200, merge)
    }
    intercept[IllegalArgumentException] { // PreferB rejected
      IngestLinkage.linkSave(spark, p, rules, weights, threshold,
        Seq(PreferB("key")))
    }
    intercept[IllegalArgumentException] { // weights must cover rules
      IngestLinkage.linkSave(spark, p, rules, weights - "src", threshold,
        merge)
    }
  }

  test("streaming loop matches the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (store, out) = freshStore()
    val (storeB, outB) = runBatches(Seq(feed.sortBy(_._1).take(6),
      feed.sortBy(_._1).drop(6)))
    val ms = MemoryStream[Rec]
    val q = IngestLinkage.start(
      ms.toDF().toDF("doc_id", "block", "key", "src", "num", "note", "ts"),
      store, out, tmp("lk_ckpt"))
    ms.addData(feed.sortBy(_._1).take(6): _*)
    q.processAllAvailable()
    ms.addData(feed.sortBy(_._1).drop(6): _*)
    q.processAllAvailable()
    q.stop()
    assert(assignments(out) == assignments(outB))
    assert(goldenRows(store) == goldenRows(storeB))
  }
}
