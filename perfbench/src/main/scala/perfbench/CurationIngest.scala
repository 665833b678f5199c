package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Lexical, Similarity}
import graft.streaming.{IngestFuzzy, IngestImages, IngestPipeline}

/** The curation ingest: fixed-size micro-batches of a seeded feed through
  * `IngestPipeline.processBatch` with every optional store armed (fuzzy
  * key gate, image gate, lexical postings, vocabulary sketches, neighbour
  * mining). The stores are seeded from the feed's first slice the way
  * ScaleReport's `pipeline` section does it: IVF index, lexical store and
  * fuzzy key store from the seed docs, an empty image store, an empty
  * signature store. A pass runs `batches` micro-batches one after another,
  * as that section does, so the stores grow batch by batch; each pass
  * starts from a fresh copy of the seeded stores, so a pass is the same
  * work every time.
  *
  * Checks, batch by batch: the batch holds the planted classes the feed
  * promises (a retyped key in every batch; an exact duplicate, a near
  * duplicate and a brightness twin in every batch after the first), every
  * planted exact duplicate is dropped, and kept == landed == indexed ==
  * telemetry `n_docs` == lexical docs added. */
final class CurationIngest(seedDocs: Int = 200, batchDocs: Int = 40,
                           batches: Int = 2) extends Workload {
  val name = "curation_ingest"
  // one set-up costs ~20 s on 4 cores (~6 s when repeated warm); a second
  // and third would leave the run budget (README.md) no margin
  override val setupReps = 1

  private var gen: FeedGen = _
  private var feedPath: String = _
  private var template: File = _
  private var keptDocs = 0L
  private var keptInPass = 0L
  private var offered = 0L
  private var storeBytes = 0L

  private val Stores = Seq("sigs", "out", "tele", "idx", "lex", "fuzzy", "img", "vocab", "nbrs")

  def setup(b: Bench): Unit = {
    val spark = b.spark
    Dirs.deleteRecursively(new File(b.work, "ingest"))
    gen = new FeedGen(b.seed, seedDocs, batchDocs, batches)
    feedPath = new File(b.dir("ingest"), "feed").getPath
    val rows = gen.records.map(r => Row(r.docId, r.text, r.embedding.toSeq, r.key,
      gen.image(r), r.source))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), FeedSchema)
      .write.mode("overwrite").parquet(feedPath)
    template = b.dir("ingest/template")
    seedStores(spark, template)
  }

  private def feed(spark: SparkSession): DataFrame = spark.read.parquet(feedPath)

  private def seedStores(spark: SparkSession, root: File): Unit = {
    def p(s: String) = new File(root, s).getPath
    Stores.foreach(s => new File(root, s).mkdirs())
    val seed = feed(spark).where(col("doc_id") < seedDocs)
    val idx = Similarity.ivfBuild(
      seed.select(col("doc_id").as("vec_id"), col("embedding")), math.max(8, seedDocs / 256))
    Similarity.ivfSave(idx, p("idx"))
    idx.release()
    Lexical.lexSave(spark, seed.select("doc_id", "text"), p("lex"))
    IngestFuzzy.fuzzySave(spark, seed.selectExpr("doc_id AS id", "key AS s"), p("fuzzy"), 3)
    IngestImages.dhashSave(spark, spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType), StructField("h", LongType)))), p("img"),
      maxHamming = 2)
  }

  /** Rows of a parquet store; a store nothing was appended to yet is empty. */
  private def count(spark: SparkSession, path: String): Long =
    if (Option(new File(path).list()).exists(_.exists(n => !n.startsWith(".") && !n.startsWith("_"))))
      spark.read.parquet(path).count()
    else 0L

  def pass(b: Bench): Unit = {
    val spark = b.spark
    val root = new File(b.work, s"ingest/pass_${b.pass}")
    Dirs.copyTree(template, root)
    def p(s: String) = new File(root, s).getPath
    keptInPass = 0L
    val exactDups = gen.records.filter(_.planted == FeedGen.Exact).map(_.docId).toSet
    def storeRows() = Seq(count(spark, p("out")), count(spark, p("idx") + "/assigned"),
      count(spark, p("lex") + "/docstats"))
    // store rows before the batch: the previous batch's check leaves them
    var counted: Seq[Long] = Nil
    (0 until batches).foreach { bi =>
      val (lo, hi) = gen.batchRange(bi)
      val before = if (counted.nonEmpty) counted else storeRows()
      counted = Nil
      val batch = feed(spark).where(col("doc_id") >= lo && col("doc_id") < hi)
      val planted = gen.records.filter(r => r.docId >= lo && r.docId < hi).map(_.planted).toSet
      val missing = ((if (bi == 0) Nil else Seq(FeedGen.Exact, FeedGen.Near, FeedGen.Twin)) :+
        FeedGen.Retyped).filterNot(planted)
      b.op("batch", s"batch_$bi") {
        IngestPipeline.processBatch(batch, bi.toLong, p("sigs"), p("out"), p("idx"),
          p("tele"), 0.5, vocabPath = Some(p("vocab")), neighborsPath = Some(p("nbrs")),
          lexPath = Some(p("lex")), fuzzyStorePath = Some(p("fuzzy")),
          imageStorePath = Some(p("img")))
      } { kept =>
        offered += hi - lo
        keptDocs += kept
        keptInPass += kept
        val after = storeRows()
        counted = after
        val Seq(landed, indexed, lexAdded) = after.zip(before).map { case (a, c) => a - c }
        val tele = if (kept == 0) 0L else spark.read.parquet(p("tele"))
          .where(col("batch_id") === bi).select("n_docs").head().getLong(0)
        val keptIds = spark.read.parquet(p("out")).where(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val leaked = keptIds.intersect(exactDups)
        if (missing.nonEmpty) Some(s"batch holds no planted ${missing.mkString(", ")}")
        else if (leaked.nonEmpty) Some(s"planted exact duplicates kept: ${leaked.toSeq.sorted.take(5)}")
        else if (Set(kept, landed, indexed, tele, lexAdded).size != 1)
          Some(s"kept $kept landed $landed indexed $indexed telemetry $tele lexical $lexAdded")
        else None
      }
    }
    storeBytes = Stores.map(s => Dirs.bytesUnder(new File(root, s))).sum
    Dirs.deleteRecursively(root)
  }

  def report(b: Bench, passWalls: Seq[Double]): Seq[Metric] = {
    val docs = seedDocs + keptInPass
    Seq(
      Metric("docs_per_s", batches.toDouble * batchDocs / Stats.median(passWalls), "1/s", passWalls.length,
        s"feed docs offered per second of pass wall, $batches batches of $batchDocs"),
      Metric("store_bytes_per_doc", storeBytes.toDouble / docs, "B", 1,
        s"on-disk bytes of all stores after a pass over $docs docs (seed + kept)"))
  }

  def layers(b: Bench): Map[String, Double] = Map(
    "streaming.gate_drop_ratio" -> (if (offered == 0) 0.0 else 1.0 - keptDocs.toDouble / offered))

  private val FeedSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("key", StringType),
    StructField("image", BinaryType),
    StructField("source", StringType)))
}
