package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf, xxhash64}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale harness for the ingest chain: times each section's steps over
  * a (generated) SF dir, one JSON line per step. Three sections:
  *
  *  - `pipeline`: the composed `IngestPipeline` per-batch cost, with the
  *    batch's stage split (`timings`);
  *  - `fuzzyseed`: the fuzzy-key gate's store term, three batches held
  *    at 10 k keys (a quarter of a corpus of ≤ 30 k docs) against a
  *    store seeded with the rest of the corpus;
  *  - `fpseed`: the fingerprint gate's store term, 10 k-record batches
  *    against 1 M / 2 M / 5 M-fingerprint stores.
  *
  * Section names as arguments pick and order the sections; none runs
  * all three. SCALE.md records each section's rows per round, and which
  * commit last held the sections retired since.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.ScaleReport <sfDir> [section ...]
  */
object ScaleReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus)
      // plan STRINGS are re-rendered per job for the SQL-start event;
      // deep-union campaign plans made that render the bottleneck
      // (round 10) — cap it, display-only, never affects results
      .config("spark.sql.maxPlanStringLength", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.core.Tables
    import graft.operators.Similarity

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def timed(name: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      val persisted = spark.sparkContext.getPersistentRDDs.size
      release()
      println(f"""{"op":"$name","rows":$rows,"sec":$sec%.2f,"persisted_before_release":$persisted}""")
      rows
    }
    def tempDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString

    // extreme-SF dirs may carry only the vector tables (GenData's
    // table filter); only the sections that need docs fail on them
    val docsOpt = scala.util.Try(Tables.documents(spark, sfDir)).toOption
    lazy val docs = docsOpt.getOrElse(
      sys.error(s"no documents table under $sfDir"))
    val emb = Tables.embeddings(spark, sfDir)
    val nDocs = docsOpt.map(_.count()).getOrElse(0L); val nVecs = emb.count()
    println(s"""{"op":"corpus","docs":$nDocs,"vecs":$nVecs,"dir":"$sfDir"}""")
    // spill-aware partitioning: size shuffle partitions with the corpus
    // (docs, or vectors at ~30× a doc-key row) instead of pinning them to
    // the thread count, so shuffled-hash build maps fit the per-task
    // heap share of the ONE local-mode heap
    val shufflePartitions = math.max(cpus,
      math.max(nDocs / 4000, nVecs / 16000).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    println(s"""{"op":"conf","shuffle_partitions":$shufflePartitions}""")

    // The composed ingest (round 10 on): content gate → fuzzy-key gate
    // → image gate → land → vector index → lexical postings →
    // telemetry, every batch through ONE IngestPipeline.processBatch.
    // Cross-store interactions (the refreshByPath class of bug) only
    // surface in the composition, so this is the north-star measure.
    def pipeline(): Unit = {
      import graft.streaming.{IngestFuzzy, IngestImages, IngestPipeline}
      import graft.operators.Lexical
      val (sigsP, outP, teleP, idxP, lexP, fzP, imgP) = (tempDir("pl_sigs"),
        tempDir("pl_out"), tempDir("pl_tele"), tempDir("pl_idx"),
        tempDir("pl_lex"), tempDir("pl_fz"), tempDir("pl_img"))
      // the feed is docs ⋈ embeddings — its extent is the SMALLER
      // table (GenData ships fewer vectors than docs), so batch spans
      // must cover feedN, not nDocs (nDocs-based spans left batches
      // 2-4 EMPTY at sf1 and read as a kept cliff)
      val feedN = math.min(nDocs, nVecs)
      val seedN = math.max(256L, feedN / 10)
      // every record carries an executor-synthesized PNG; ~10 % are the
      // brightness twin of one earlier record (seed id−5 for ids ≡ 0
      // mod 10 — pair groups, never a hot hash), so the image gate does
      // real dropping work at every scale
      val mkPng = udf((id: Long) => {
        val seed = if (id % 10 == 0) id - 5 else id
        graft.operators.Multimodal.pngPatternBytes(
          seed, (id % 5).toInt * 3, 32, 24)
      })
      val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .selectExpr("doc_id", "text", "embedding",
          "substring(text, 1, 32) AS key")
        .withColumn("image", mkPng(col("doc_id")))
      // index/lex/fuzzy seeded from the first tenth; the sig and image
      // stores start empty — seed docs are exempt from every gate but
      // present in both serving stores
      timed("pipeline_seed") {
        val seedIdx = Similarity.ivfBuild(
          emb.where(col("vec_id") < seedN),
          math.max(8L, seedN / 256).toInt)
        Similarity.ivfSave(seedIdx, idxP)
        seedIdx.release()
        val seed = feed.where(col("doc_id") < seedN)
        Lexical.lexSave(spark, seed.selectExpr("doc_id", "text"), lexP)
        IngestFuzzy.fuzzySave(spark,
          seed.selectExpr("doc_id AS id", "key AS s"), fzP, 3)
        IngestImages.dhashSave(spark,
          spark.createDataFrame(spark.sparkContext
              .emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("id", LongType),
              StructField("h", LongType)))),
          imgP, maxHamming = 2)
        seedN
      }
      val nBatches = 5
      // the default spans are corpus fifths (the round-10 stress shape,
      // comparable rows at sf1/sf10); at sf100 one such batch spilled
      // 71 GB and filled the disk. SPARK_GRAFT_PIPE_SPAN (keys/batch)
      // runs the disciplined micro-batch shape at extreme SF instead.
      val spanEnv = sys.env.get("SPARK_GRAFT_PIPE_SPAN").map(_.toLong)
      val span = spanEnv.getOrElse(math.max(1L, (feedN - seedN) / nBatches))
      for (b <- 0 until nBatches) {
        val lo = seedN + b * span
        // default shape: the last fifth absorbs the remainder; an
        // overridden span keeps every batch the declared size
        val hi = if (b == nBatches - 1 && spanEnv.isEmpty) Long.MaxValue
                 else seedN + (b + 1) * span
        val batch = feed.where(col("doc_id") >= lo && col("doc_id") < hi)
        val m = scala.collection.mutable.Map.empty[String, Double]
        val t0 = System.nanoTime()
        val kept = IngestPipeline.processBatch(batch, b.toLong, sigsP, outP,
          idxP, teleP, 0.5, lexPath = Some(lexP), fuzzyStorePath = Some(fzP),
          imageStorePath = Some(imgP), timings = Some(m))
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        val stages = m.toSeq.sortBy(_._1)
          .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
        println(f"""{"op":"pipeline_batch","batch":$b,"kept":$kept,"sec":$sec%.2f,$stages}""")
      }
      val (nOut, nLex, nFz) = (spark.read.parquet(outP).count(),
        spark.read.parquet(s"$lexP/docstats").count(),
        spark.read.parquet(s"$fzP/keys").count())
      // every kept record past the seed carries exactly one decodable
      // PNG, so kept == fingerprints must hold (kept == indexed, for
      // the fourth store)
      val nImg = spark.read.parquet(s"$imgP/hashes").count()
      println(s"""{"op":"pipeline_total","out":$nOut,"lex_docs":$nLex,"fuzzy_keys":$nFz,"img_fps":$nImg,"feed":$feedN}""")
    }

    // The fuzzy gate's store term (round 12): batch size HELD CONSTANT
    // at 10 k keys, the store pre-seeded with the rest of the corpus, so
    // per-batch cost isolates the store probe from the in-batch
    // self-join (which dominates corpus-fraction batches).
    def fuzzyseed(): Unit = {
      import graft.streaming.IngestFuzzy
      val dir = tempDir("scale_fzseed")
      val out = tempDir("scale_fzsout")
      val keys = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key")
      val nB = 3L
      // 10 k-key batches; a corpus too small to seed a store beside
      // three of them (sf0.1) runs quarter-corpus batches instead
      val batchN = if (nDocs > 10000L * nB) 10000L else nDocs / (nB + 1)
      val seedCut = nDocs - batchN * nB
      timed("fuzzyseed_build") {
        IngestFuzzy.fuzzySave(spark,
          keys.where(col("doc_id") < seedCut)
            .selectExpr("doc_id AS id", "key AS s"), dir, 3)
        spark.read.parquet(s"$dir/keys").count()
      }
      for (b <- 0L until nB) {
        val batch = keys.where(col("doc_id") >= seedCut + b * batchN &&
          col("doc_id") < seedCut + (b + 1) * batchN)
        timed(s"fuzzyseed_batch$b")(IngestFuzzy.processBatch(batch, dir, out))
      }
    }

    // The fingerprint gate's store term (round 12): 10 k single-part
    // fingerprints per batch against stores pre-seeded at growing sizes.
    // The gate re-derives the store's band rows (C(d+bc, bc) = 20× at
    // d = bc = 3) every batch, so per-batch cost vs store size IS the law
    // measured. Fingerprints are xxhash64 of the id (uniform), so the
    // measured cost is the structural term: store scan + band explode +
    // broadcast probe. No corpus tables needed.
    def fpseed(): Unit = {
      import graft.streaming.IngestFingerprints
      val batchN = 10000L
      def fp(ids: DataFrame) =
        ids.select(col("id"), lit(0).as("p"), xxhash64(col("id")).as("h"))
      for (storeN <- Seq(1000000L, 2000000L, 5000000L)) {
        val dir = tempDir("scale_fpseed")
        val out = tempDir("scale_fpout")
        timed(s"fpseed_build_$storeN") {
          IngestFingerprints.fpSave(spark, fp(spark.range(storeN).toDF("id")),
            dir, 3, 3)
          spark.read.parquet(s"$dir/hashes").count()
        }
        for (b <- 0 until 3) {
          val ids = spark.range(storeN + b * batchN,
            storeN + (b + 1) * batchN).toDF("id")
          val batch = ids.select(col("id").as("doc_id"))
          timed(s"fpseed_store${storeN}_batch$b")(
            IngestFingerprints.processBatch(batch, dir, out, fp(ids)))
        }
      }
    }

    val sections: Seq[(String, () => Unit)] = Seq(
      "pipeline" -> pipeline _, "fuzzyseed" -> fuzzyseed _, "fpseed" -> fpseed _)
    val chosen = if (args.length > 1) args.toSeq.tail else sections.map(_._1)
    val byName = sections.toMap
    val unknown = chosen.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown section(s) ${unknown.mkString(",")}; " +
      s"known: ${sections.map(_._1).mkString(",")}")
    chosen.foreach(byName(_)())

    val leaked = spark.sparkContext.getPersistentRDDs.size
    println(s"""{"op":"persist_hygiene","leaked_after_release":$leaked}""")
    spark.stop()
  }
}
