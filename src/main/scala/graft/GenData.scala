package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale runs beyond the
  * driver-provided sf0.1 (TESTDATA.md tops out at ~600 k lineitem; every
  * scale claim in the dedup/ANN family needs measurement at 10×+ that).
  * Emits the same 10-table star schema at any scale factor, writing one
  * `<table>.parquet` directory per table.
  *
  * Design: every column is a pure hash function of the row id
  * (xxhash64-derived), so generation is fully distributed (`spark.range`
  * → column expressions → parquet, no driver-side data), reproducible
  * run-to-run, and needs no random-number state. Row counts scale with
  * the driver's observed ratios (sf0.1 = 600 k lineitem, 5 k documents,
  * 2 k embeddings …).
  *
  * The documents table plants near-duplicates (2% of docs are copies of
  * an earlier doc with ~4% of tokens mutated) and exact duplicates (1%)
  * so the dedup family has real work; embeddings get 10 cluster centers
  * plus 2% near-duplicate vectors for the ANN/near-dup family.
  *
  * Usage: runMain graft.GenData <outDir> <sf> [tables] — e.g.
  * `graft.GenData /root/repo/testdata-gen/sf1 1.0`, or
  * `graft.GenData /root/repo/testdata-gen/sf100 100 embeddings,documents`
  * to generate only the vector/dedup tables at extreme SF without
  * paying for 600 M lineitem rows. `SPARK_GRAFT_VOCAB=zipf:<V>:<s>`
  * swaps the document vocabulary for a V-word Zipf(s) one (realistic
  * key/term entropy for the blocking and serving campaigns).
  */
object GenData {

  private def h(tag: String, cs: Column*): Column =
    xxhash64((lit(tag) +: cs): _*)
  /** Deterministic uniform in [0, 1) keyed by (tag, cols). */
  private def u01(tag: String, cs: Column*): Column =
    pmod(h(tag, cs: _*), lit(1000000L)).cast("double") / 1e6
  private def pick(tag: String, id: Column, vals: Seq[String]): Column =
    element_at(typedLit(vals), (pmod(h(tag, id), lit(vals.length)) + 1).cast("int"))

  private val Vocab: Seq[String] = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "vector", "query", "agg", "table", "hash",
    "group", "stream", "filter", "big", "merge", "join", "a", "the",
    "key", "customer", "slow", "shuffle", "broadcast", "window", "index",
    "cache", "plan", "stage", "task", "row", "schema", "parquet", "forest",
    "data")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def n(perSf: Long): Long = math.max(1L, (perSf * sf).toLong)
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nLine = n(6000000)
    val nEvents = n(1000000)
    val nDocs = n(50000)
    val nVecs = n(20000)

    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet
      else Set.empty
    def write(df: DataFrame, name: String): Unit =
      if (only.isEmpty || only(name)) {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[gendata] wrote $name")
      }
    def range(rows: Long): DataFrame =
      spark.range(0, rows, 1, math.min(64, math.max(4, rows / 100000)).toInt)
        .toDF("id")

    import spark.implicits._
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region")

    write(range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    write(range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h("cnat", col("id")), lit(25)).cast("int").as("c_nationkey"),
      round(u01("cbal", col("id")) * 10000, 2).as("c_acctbal"),
      pick("cseg", col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")), "customer")

    write(range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h("snat", col("id")), lit(25)).cast("int").as("s_nationkey"),
      round(u01("sbal", col("id")) * 10000, 2).as("s_acctbal")), "supplier")

    write(range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick("padj", col("id"), Seq("large", "hot", "blue", "green",
        "dark", "light", "small", "cold")), lit(" "),
        pick("pnoun", col("id"), Seq("ring", "bolt", "screw", "wire",
          "tube", "plate", "gear", "rod"))).as("p_name"),
      concat(lit("Brand#"),
        pmod(h("pbr", col("id")), lit(25)) + 1).as("p_brand"),
      pick("pty", col("id"), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")).as("p_type"),
      (pmod(h("psz", col("id")), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) * 0.1, 2)
        .as("p_retailprice")), "part")

    // order/ship dates span 1995-01-01..2001-08-01 like the driver data
    def dateCol(tag: String, id: Column, spanDays: Int): Column =
      date_add(lit("1995-01-01").cast("date"),
        pmod(h(tag, id), lit(spanDays)).cast("int")).cast("timestamp")

    write(range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(h("ocust", col("id")), lit(nCust)).as("o_custkey"),
      pick("ost", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(u01("otot", col("id")) * 450000 + 900, 2).as("o_totalprice"),
      dateCol("odate", col("id"), 2404).as("o_orderdate"),
      pick("opri", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")), "orders")

    write(range(nLine).select(
      pmod(h("lok", col("id")), lit(nOrders)).as("l_orderkey"),
      pmod(h("lpk", col("id")), lit(nPart)).as("l_partkey"),
      pmod(h("lsk", col("id")), lit(nSupp)).as("l_suppkey"),
      (pmod(h("lln", col("id")), lit(7)) + 1).cast("int").as("l_linenumber"),
      (pmod(h("lqt", col("id")), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u01("lep", col("id")) * 100000 + 900, 2).as("l_extendedprice"),
      round(pmod(h("ldc", col("id")), lit(11)).cast("double") * 0.01, 2)
        .as("l_discount"),
      round(pmod(h("ltx", col("id")), lit(9)).cast("double") * 0.01, 2)
        .as("l_tax"),
      pick("lrf", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick("lls", col("id"), Seq("F", "O")).as("l_linestatus"),
      dateCol("lsd", col("id"), 2498).as("l_shipdate")), "lineitem")

    // ts as int64 nanoseconds — the driver's events.parquet carries
    // TIMESTAMP(NANOS) which sessions read as long via nanosAsLong;
    // Tables.events rebuilds a second-truncated timestamp either way.
    val startNs = 1704067200L * 1000000000L // 2024-01-01 UTC
    val stepNs = 30L * 86400L * 1000000000L / math.max(1L, nEvents)
    val nUsers = math.max(10L, nEvents / 66)
    write(range(nEvents).select(
      col("id").as("event_id"),
      (lit(startNs) + col("id") * lit(stepNs) +
        pmod(h("jit", col("id")), lit(1000000000L))).as("ts"),
      pmod(h("eu", col("id")), lit(nUsers)).as("user_id"),
      pick("ety", col("id"), Seq("click", "error", "purchase", "signup",
        "view")).as("event_type"),
      round(u01("ev", col("id")) * 560, 2).as("value"),
      format_string("{\"k\": %d}",
        pmod(h("ek", col("id")), lit(100))).as("props")), "events")

    // documents: 2% near-dups (copy of an earlier doc, ~4% tokens
    // mutated → shingle-jaccard ≈ 0.8, above every family threshold),
    // 1% exact dups, rest independent word-salad over Vocab.
    val docId = col("id")
    val dupSel = pmod(h("dup", docId), lit(100))
    val isNear = dupSel < 2 && docId >= 10
    val isExact = dupSel === 2 && docId >= 10
    val baseId = when(isNear || isExact,
      docId - (pmod(h("back", docId), lit(9)) + 1)).otherwise(docId)
    val len = (pmod(h("len", baseId), lit(91)) + 10).cast("int")
    val vocabLit = typedLit(Vocab)
    // round-13 realistic-entropy dial: SPARK_GRAFT_VOCAB=zipf:<V>:<s>
    // swaps the adversarial 40-word vocabulary for a V-word Zipf(s)
    // vocabulary ("w<rank>", rank 1 most frequent) — the middle regime
    // between the worst case every blocking law is measured on (tiny
    // vocab, all terms corpus-frequent) and the planted best case (md5
    // keys / hand-planted selective terms). Words come from the
    // deterministic inverse CDF of the continuous power law on
    // [1, V+1]: rank = floor((1 + u·((V+1)^(1−s) − 1))^(1/(1−s)))
    // (s = 1 uses the log form), so generation stays a pure
    // hash-of-row-id column expression like every other column.
    val zipfCfg: Option[(Long, Double)] =
      sys.env.get("SPARK_GRAFT_VOCAB").map { v =>
        val p = v.split(":")
        require(p.length == 3 && p(0) == "zipf",
          s"SPARK_GRAFT_VOCAB must be zipf:<size>:<exponent>, got $v")
        (p(1).toLong, p(2).toDouble)
      }
    def word(seedTag: String, seed: Column, i: Column): Column =
      zipfCfg match {
        case None =>
          element_at(vocabLit,
            (pmod(xxhash64(lit(seedTag), seed, i), lit(Vocab.length)) + 1)
              .cast("int"))
        case Some((v, s)) =>
          val u = pmod(xxhash64(lit(seedTag), seed, i), lit(1000000000L))
            .cast("double") / 1e9
          val rank =
            if (math.abs(s - 1.0) < 1e-9)
              floor(exp(u * log(lit(v.toDouble + 1))))
            else
              floor(pow(lit(1.0) +
                u * (pow(lit(v.toDouble + 1), lit(1.0 - s)) - 1.0),
                lit(1.0 / (1.0 - s))))
          concat(lit("w"),
            greatest(lit(1L), least(rank.cast("long"), lit(v))))
      }
    val text = concat_ws(" ", transform(sequence(lit(1), len), i =>
      when(isNear && pmod(xxhash64(lit("sel"), docId, i), lit(25)) === 0,
        word("mut", docId, i)).otherwise(word("tok", baseId, i))))
    write(range(nDocs).select(
      docId.as("doc_id"),
      text.as("text"),
      pick("dlg", baseId, Seq("de", "en", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(h("dsrc", docId), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text"))), "documents")

    // embeddings: 10 gaussian-ish clusters (sum of three uniforms per
    // dim), 2% near-duplicate vectors (base vector + tiny jitter).
    // Cluster tightness is calibrated so same-cluster cosine ≈ 0.2 —
    // matching the driver data's near-dup pair density (its sf0.1 gives
    // ~222 cos ≥ 0.35 pairs per 2 k vectors; a first cut with 0.8-scale
    // centers made same-cluster cosine ≈ 0.77 and marked whole clusters
    // as "near-dups", 6 M pairs at 20 k vectors).
    val vecId = col("id")
    val vdupSel = pmod(h("dupv", vecId), lit(100))
    val vIsNear = vdupSel < 2 && vecId >= 50
    val vBase = when(vIsNear,
      vecId - (pmod(h("backv", vecId), lit(20)) + 1)).otherwise(vecId)
    val label = pmod(h("lbl", vBase), lit(10)).cast("int")
    def dim(d: Column): Column = {
      val center = (u01("c", label, d) - 0.5) * 0.22
      val noise = (u01("n1", vBase, d) + u01("n2", vBase, d) +
        u01("n3", vBase, d) - 1.5) * 0.25
      val jitter = when(vIsNear, (u01("nd", vecId, d) - 0.5) * 0.02)
        .otherwise(lit(0.0))
      (center + noise + jitter).cast("float")
    }
    write(range(nVecs).select(
      vecId.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => dim(d)).as("embedding"),
      label.as("label")), "embeddings")

    println(s"[gendata] done: sf=$sf at $outDir " +
      s"(lineitem=$nLine docs=$nDocs vecs=$nVecs vocab=" +
      zipfCfg.map { case (v, s) => s"zipf:$v:$s" }.getOrElse("default") + ")")
    spark.stop()
  }
}
