package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.core.Scoped

/** Similarity search over an embedding column (`Array[Float]`, 64-dim).
  *
  * Brute-force cosine top-k is the correctness baseline; the sign-LSH
  * bucketed variant is the scale path (bucket key = sign bits of leading
  * dimensions → candidates shuffle on bucket key, never a full cross
  * join). All arithmetic is promoted to double (`array<double>` casts)
  * so scores are bit-reproducible against the DuckDB oracle.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — same evaluation
    * order as DuckDB's `list_dot_product`, so results match bit-for-bit.
    * Native codegen expression (graft.functions.DotProduct); the
    * zip_with/aggregate HOF form is interpreted and ~10× slower. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** `(id, e, n)`: the vector promoted to double plus its L2 norm — the
    * float side of every exact cosine (queries, candidates, refine). */
  private def vecFrame(df: DataFrame, id: String, e: String, n: String): DataFrame =
    df.select(col("vec_id").as(id), asDouble(col("embedding")).as(e))
      .withColumn(n, sqrt(dot(col(e), col(e))))

  /** Cosine of two double-array columns from their precomputed norms. */
  private def cosine(a: String, na: String, b: String, nb: String): Column =
    dot(col(a), col(b)) / (col(na) * col(nb))

  /** Each query's best `n` rows by `by`, ties to the lower vid — the
    * candidate-pool form of `rankTop`; the rank lands in `rnk`. */
  private def rankPool(scored: DataFrame, n: Int, by: Column): DataFrame =
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(by, col("vid").asc)))
      .where(col("rnk") <= n)

  /** The ranking tail every search ends in: each query's top `k` by
    * `by` (ties to the lower vid, so ranks are deterministic) as
    * `(qid, rnk, vid, keep…)`, ordered by (qid, rnk). */
  private def rankTop(scored: DataFrame, k: Int,
                      by: Column = col("score").desc,
                      keep: Seq[String] = Nil): DataFrame =
    rankPool(scored, k, by)
      .select(("qid" +: "rnk" +: "vid" +: keep).map(col): _*)
      .orderBy("qid", "rnk")

  /** Brute-force cosine top-k: queries = vec_id < nQueries, candidates =
    * the rest. Emits (qid, rank, vid) — ranks are stable under a
    * deterministic (score desc, vid asc) order. One broadcast of the tiny
    * query set against a full scan of candidates: linear, no shuffle
    * until the per-query top-k. */
  def cosineTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = vecFrame(emb.where(col("vec_id") < nQueries), "qid", "qe", "qn")
    val c = vecFrame(emb.where(col("vec_id") >= nQueries), "vid", "ce", "cn")
    rankTop(c.crossJoin(broadcast(q))
      .select(col("qid"), col("vid"), cosine("qe", "qn", "ce", "cn").as("score")), k)
  }

  /** Sign-LSH bucket key: sign bits of the first `nBits` dimensions
    * packed into a long. Random-hyperplane LSH with axis-aligned planes
    * — adequate for gaussian-ish embeddings and fully deterministic. */
  /** Sign-LSH bucket key. `nBits = 0` folds to the single bucket 0 —
    * every pair becomes a candidate, i.e. the exhaustive dial (q144). */
  private def bucketKey(e: Column, nBits: Int): Column =
    (0 until nBits).map(i =>
      when(element_at(e, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .foldLeft(lit(0L))(_ bitwiseOR _)

  /** LSH-bucketed approximate nearest neighbors. At scale: candidates
    * shuffle on (bucket) — per-bucket work, no cross join. Recall
    * trades off with nBits; `probeRadius = 1` is the standard
    * multi-probe recall repair: each query ALSO searches the nBits
    * buckets at hamming distance 1 from its own (a near neighbor
    * sitting just across one sign boundary lands there), costing
    * (nBits+1)× query-side rows — queries are the tiny side — while
    * the corpus side stays untouched. */
  def annLshTopK(emb: DataFrame, nQueries: Int, k: Int, nBits: Int = 6,
                 probeRadius: Int = 0): DataFrame = {
    require(probeRadius <= 1, "probeRadius > 1 not implemented (nBits² probes)")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .withColumn("bucket", bucketKey(col("e"), nBits))
    val q0 = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"), col("bucket"))
    val q =
      if (probeRadius == 0) q0
      else q0.select(col("qid"), col("qe"), col("qn"),
        explode(array((col("bucket") +: (0 until nBits).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    val c = base.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("vid"), col("e").as("ce"), col("nrm").as("cn"), col("bucket"))
    // a candidate lives in exactly one bucket and probe buckets are
    // distinct, so each (qid, vid) pair scores at most once — no dedup
    rankTop(c.join(q, Seq("bucket"))
      .select(col("qid"), col("vid"), cosine("qe", "qn", "ce", "cn").as("score")), k)
  }

  /** A trained IVF index: broadcast-sized centroid frame + the corpus
    * assigned to inverted lists (persisted — the index is a long-lived
    * artifact searched many times). Train ONCE with `ivfBuild`, search
    * repeatedly with `ivfSearch` — the FAISS usage pattern that
    * amortizes the KMeans fit, which otherwise dominates every call
    * (q56's per-call fit is ~5× the search cost at bench scale).
    * Release with `release()` when done. The centroids are `(list_id,
    * centroid)` driver rows — nList rows of metadata. */
  final case class IvfIndex(centroids: Array[(Int, Array[Double])], assigned: DataFrame,
                            nList: Int) {
    def release(): Unit = assigned.unpersist(blocking = false)
  }

  /** Sample-bounded coarse-quantizer fit — the `pqFitBooks` pattern
    * applied to the IVF centroids: seeded driver-side Lloyd on a
    * hash-sampled bounded slice (`xxhash64(vec_id)`-keyed, raw
    * un-normalized vectors — the MLlib fit's space), via
    * `pqFitBooksLocal` with one "subspace" of width `dim`. Centroids
    * are statistics, not indexes (FAISS `Clustering` trains on
    * ≤ max_points_per_centroid·k sampled points for exactly this
    * reason), so the fit cost is O(sampleCap·nList·dim·iters) on the
    * driver INDEPENDENT OF CORPUS SIZE — this removes the N×nList×iters
    * distributed-KMeans term that dominated sf10 index builds
    * (SCALE_r07_knnfix). Deterministic bit-for-bit: seeded init,
    * lowest-index ties, empty clusters keep their previous center. */
  private[graft] def coarseFitSample(base: DataFrame, nList: Int,
                                     sampleCap: Int = 65536,
                                     maxIter: Int = 20): Array[Array[Double]] = {
    val pts = pqSamplePoints(base, sampleCap, normalize = false)
    require(pts.length >= nList,
      s"sample (${pts.length}) smaller than nList=$nList — lower nList or raise sampleCap")
    pqFitBooksLocal(pts, 1, nList, pts(0).length, maxIter)(0)
  }

  /** Nearest-list assignment as a codegen register scan: argmin‖x−c‖² =
    * argmax(x·c − ‖c‖²/2), so appending a constant-1 component to x
    * and a −‖c‖²/2 bias to each centroid turns Euclidean argmin into
    * exactly the max-dot/lowest-id-tie scan `NearestLists` implements.
    * No N×nList joined intermediate, no window — the same per-row
    * register scan as probe selection, one tie order (dist asc,
    * list_id asc) for the build, the IVF appends and the IVF,PQ
    * appends, so an append re-lands a replayed vector in the identical
    * list. Centroids are nList rows of driver metadata by contract. */
  private def nearestList(e: Column, cents: Array[(Int, Array[Double])]): Column = {
    val dim = if (cents.isEmpty) 0 else cents(0)._2.length
    val aug = cents.flatMap { case (_, c) => c :+ (-0.5 * c.map(v => v * v).sum) }
    explode(graft.functions.NearestLists(
      concat(e, array(lit(1.0d))), aug, cents.map(_._1), dim + 1, 1))
  }

  /** The IVF coarse layer shared by the float and PQ builds: fit the
    * centroids on `base` (`vec_id`, `e`) and tag every row with its
    * `list_id`. See `ivfBuild` for the two fits. */
  private def coarseLists(base: DataFrame, nList: Int, sampleFit: Boolean)
      : (Array[(Int, Array[Double])], DataFrame) =
    if (sampleFit) {
      val cents = coarseFitSample(base, nList).zipWithIndex.map(_.swap)
      (cents, base.withColumn("list_id", nearestList(col("e"), cents)))
    } else {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val vecs = base.withColumn("features", array_to_vector(col("e")))
      val model = new KMeans().setK(nList).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("list_id").fit(vecs)
      (model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) },
        model.transform(vecs))
    }

  /** Train the IVF coarse quantizer on `corpus` and assign every
    * corpus vector to its nearest list, the lists held in `codec`.
    *
    * `sampleFit = false` (default): seeded MLlib KMeans over the full
    * corpus — deterministic per build, but the fit is N×nList×maxIter
    * distributed distance evals, the super-unit scale term of the
    * sf1→sf10 campaign. `sampleFit = true`: `coarseFitSample` fits the
    * centroids on a bounded driver slice and the one unavoidable
    * N×nList pass left is the ASSIGNMENT, which runs as a codegen
    * register scan (`nearestList`) with no joined
    * intermediate. The exhaustive dial (scanFrac = 1.0 / nProbe =
    * nList) is invariant to the choice BY CONSTRUCTION — every list is
    * scanned either way, so results are bit-equal; probed recall
    * parity is measured in `SimilaritySpec`. Assignment is one
    * distributed pass either way; the result persists partitioned by
    * access pattern (list-id shuffle happens once, at first search).
    *
    * `codec` picks what the long-lived lists hold; the centroids stay
    * float either way. `ListCodec.Sq8` is the FAISS `IVF,SQ8`
    * composite: int8 codes, ~7× under the float lists in memory and
    * on disk. `ListCodec.Bin` holds d/8-byte sign codes (33× under the
    * float lists at 64 dims), ranked by integer Hamming; they are NOT
    * reconstructible, so `ivfRebalance` rejects them — rebuild from
    * the source corpus like the PQ tiers. `ivfSave`/`ivfLoad`,
    * `appendSave` and `ivfSearch` serve every codec. */
  def ivfBuild(corpus: DataFrame, nList: Int = 8, sampleFit: Boolean = false,
               codec: ListCodec = ListCodec.Float): IvfIndex = {
    val (cents, listed) = coarseLists(vecE(corpus), nList, sampleFit)
    IvfIndex(cents, codec.encode(listed.select(col("vec_id").as("vid"), col("e"),
      col("list_id")), "e").persist(MEMORY_AND_DISK), nList)
  }

  /** `(vec_id, e)`: the vector promoted to double — every build,
    * append and ADC query starts here. */
  private def vecE(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), asDouble(col("embedding")).as("e"))

  /** How an IVF index stores its list rows — float `ce`, SQ8 `qc` or
    * 1-bit sign `bc` — decided in ONE place (`ListCodec.of`) from the
    * list frame's columns. A codec knows its list columns, how to
    * encode `(vid, e, list_id)` rows into them, the query columns it
    * scores with (added to `(qid, qe, qn)`) and its candidate score:
    * cosine, descending; Hamming, ascending, for sign codes. Callers
    * choose one at build time (`ivfBuild`, `knnJoin`). */
  sealed abstract class ListCodec(val payload: Seq[String], val qCols: Seq[String]) {
    def encode(rows: DataFrame, e: String): DataFrame
    def query(q: DataFrame): DataFrame = q
    def score: Column
    def by: Column = col("score").desc
  }

  object ListCodec {
    case object Float extends ListCodec(Seq("vid", "ce", "cn"), Seq("qe", "qn")) {
      def encode(rows: DataFrame, e: String): DataFrame =
        rows.withColumn("cn", sqrt(dot(col(e), col(e))))
          .select(col("vid"), col(e).as("ce"), col("cn"), col("list_id"))
      def score: Column = cosine("qe", "qn", "ce", "cn")
    }

    /** int8 codes (`Sq8Encode`): the approximate dot over codes, with
      * the code norms `cn`/`qn8`. */
    case object Sq8 extends ListCodec(Seq("vid", "qc", "cn"), Seq("qq", "qn8")) {
      import graft.functions.{Sq8 => S}
      def encode(rows: DataFrame, e: String): DataFrame =
        rows.select(col("vid"), S.encode(col(e)).as("qc"), col("list_id"))
          .withColumn("cn", sqrt(S.dot(col("qc"), col("qc"))))
          .select("vid", "qc", "cn", "list_id")
      override def query(q: DataFrame): DataFrame =
        q.withColumn("qq", S.encode(col("qe")))
          .withColumn("qn8", sqrt(S.dot(col("qq"), col("qq"))))
      def score: Column = S.dot(col("qq"), col("qc")) / (col("qn8") * col("cn"))
    }

    /** d/8-byte sign codes ranked by integer Hamming distance — no
      * norm column, and not reconstructible. */
    case object Bin extends ListCodec(Seq("vid", "bc"), Seq("qb")) {
      import graft.functions.{Bin => B}
      def encode(rows: DataFrame, e: String): DataFrame =
        rows.select(col("vid"), B.encode(col(e)).as("bc"), col("list_id"))
      override def query(q: DataFrame): DataFrame = q.withColumn("qb", B.encode(col("qe")))
      def score: Column = B.hamming(col("qb"), col("bc"))
      override def by: Column = col("score").asc
    }

    def of(columns: Seq[String]): ListCodec =
      if (columns.contains("bc")) Bin else if (columns.contains("qc")) Sq8 else Float

    def of(index: IvfIndex): ListCodec = of(index.assigned.columns.toSeq)
  }

  /** The metadata tables a saved store keeps beside its data rows:
    * `centroids/` (list_id, centroid), `books/` (j, c, cent — one row
    * per subspace-j, code-c centroid, m·kSub rows) and `rot/` (i, row
    * — the row-major dim×dim OPQ rotation). Each table has one writer
    * (driver rows to one parquet file) and one reader, which goes
    * through `Stores.memoRows`: re-reading an unchanged table costs a
    * directory listing, not a Spark job. */
  private def writeMeta(rows: DataFrame, dir: String): Unit =
    rows.coalesce(1).write.mode("overwrite").parquet(dir)

  private def saveCentroids(spark: SparkSession, cents: Array[(Int, Array[Double])],
                            path: String): Unit = {
    import spark.implicits._
    writeMeta(cents.map { case (i, c) => (i, c.toSeq) }.toSeq.toDF("list_id", "centroid"),
      s"$path/centroids")
  }

  /** The coarse centroids as driver rows, list order. */
  private def loadCentroids(spark: SparkSession, path: String): Array[(Int, Array[Double])] =
    graft.core.Stores.memoRows(spark, s"$path/centroids")._2
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  private def saveBooks(spark: SparkSession, books: Array[Array[Array[Double]]],
                        path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (book, j) <- books.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield (j, c, cent.toSeq)
    writeMeta(rows.toSeq.toDF("j", "c", "cent"), s"$path/books")
  }

  /** The codebooks and their subspace width. */
  private def loadBooks(spark: SparkSession,
                        path: String): (Array[Array[Array[Double]]], Int) = {
    val rows = graft.core.Stores.memoRows(spark, s"$path/books")._2
    val books = Array.tabulate(rows.map(_.getInt(0)).max + 1) { j =>
      rows.filter(_.getInt(0) == j).sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }
    (books, books(0)(0).length)
  }

  private def saveRot(spark: SparkSession, rot: Array[Double], d: Int, path: String): Unit = {
    import spark.implicits._
    writeMeta((0 until d).map(i => (i, rot.slice(i * d, (i + 1) * d).toSeq)).toDF("i", "row"),
      s"$path/rot")
  }

  private def loadRot(spark: SparkSession, path: String): Array[Double] =
    graft.core.Stores.memoRows(spark, s"$path/rot")._2
      .sortBy(_.getInt(0)).flatMap(_.getSeq[Double](1))

  /** Write a store's data rows (`assigned/`, `codes/`, `bincodes/`).
    * Rows with a `list_id` are partitioned by it, whole lists clustered
    * into tasks first: without that every scan partition writes a
    * sliver into every list directory — up to partitions×nList files,
    * and with maintenance scaling nList to the store, save and append
    * cost turned superlinear (the 336 s rebalance of the round-8 sf10
    * campaign was mostly this). One balanced shuffle → one file per
    * touched list; a reloaded search's probe join then prunes to the
    * probed lists' files at the scan. */
  private def writeRows(rows: DataFrame, dir: String, mode: String): Unit =
    if (rows.columns.contains("list_id"))
      graft.core.Stores.writeLayout(rows, col("list_id")).write.mode(mode)
        .partitionBy("list_id").parquet(dir)
    else rows.write.mode(mode).parquet(dir)

  /** Every saved-store layout, told apart by its directory shape in ONE
    * place (`StoreLayout.at`), and the one store module: each case owns
    * its directory set and can `append` a batch under the store's
    * frozen quantizer, `open` it as a scoped search and `compact` its
    * data rows. `assigned/` = IVF (float, SQ8 or 1-bit lists — the `Ivf`
    * case carries the list frame it read, so its codec costs no second
    * scan); `books/` = the PQ family (`rot/` adds the OPQ rotation,
    * `centroids/` the IVF coarse layer); `bincodes/` = flat 1-bit. */
  private[graft] sealed abstract class StoreLayout(data: String, listed: Boolean) {
    /** Append `(vec_id, embedding)` rows: assigned and encoded against
      * the saved (frozen) quantizer — metadata reads only, no data scan,
      * O(batch) whatever the store size. */
    def append(spark: SparkSession, path: String, vecs: DataFrame): Unit

    /** The store loaded as a search `(queries, k, probe rule) → (qid,
      * rnk, vid)`; the scope releases what loading persisted. */
    def open(spark: SparkSession, path: String): Scoped[StoreLayout.Search]

    /** Offline compaction: drop the duplicate vid rows an at-least-once
      * replay appends. A replayed batch re-lands bit-identically under
      * the frozen quantizer (same list, same codes), so any survivor is
      * the row; searches already tolerate the duplicates, this reclaims
      * the space. Keeps the `list_id` partitioning; staged swap, run
      * offline (`core.Stores.rewriteDeduped`). Returns rows after. */
    def compact(spark: SparkSession, path: String): Long =
      graft.core.Stores.rewriteDeduped(spark, s"$path/$data", Seq("vid"),
        if (listed) Seq("list_id") else Nil)
  }

  private[graft] object StoreLayout {
    type Search = (DataFrame, Int, Int => Int) => DataFrame

    final case class Ivf(codec: ListCodec, schema: StructType)
        extends StoreLayout("assigned", listed = true) {
      /** One memoized centroid read plus a lazy scan over the assigned
        * lists (persisted, like `ivfBuild`'s: a search probes it), read
        * with the schema `at` found, so no schema-inference job runs. */
      def load(spark: SparkSession, path: String): IvfIndex = {
        val cents = loadCentroids(spark, path)
        // partitionBy moved list_id to the end and widened it; restore the
        // build-time column order and type so the index forms are
        // interchangeable frame-for-frame
        IvfIndex(cents, spark.read.schema(schema).parquet(s"$path/assigned")
          .select(codec.payload.map(col) :+ col("list_id").cast("int").as("list_id"): _*)
          .persist(MEMORY_AND_DISK), cents.length)
      }

      def append(spark: SparkSession, path: String, vecs: DataFrame): Unit =
        writeRows(assignToLists(loadCentroids(spark, path), vecs, codec),
          s"$path/assigned", "append")

      def open(spark: SparkSession, path: String): Scoped[Search] = {
        val idx = load(spark, path)
        Scoped(idx)(idx.release()).map[Search](idx => (q, k, probes) => {
          if (codec == ListCodec.Bin) requireBinDim(idx.assigned, q, path)
          probeSearch(idx, codec, q, k, probes(idx.nList))
        })
      }
    }

    final case class Pq(rotated: Boolean, listed: Boolean)
        extends StoreLayout("codes", listed) {
      /** Books, rotation and centroids: metadata reads only. */
      def tables(spark: SparkSession, path: String) =
        (loadBooks(spark, path), if (rotated) Some(loadRot(spark, path)) else None,
          if (listed) Some(loadCentroids(spark, path)) else None)

      /** The metadata plus a lazy, persisted scan of the codes. */
      def load(spark: SparkSession, path: String): PqIndex = {
        val ((books, sub), rot, cents) = tables(spark, path)
        val coded = spark.read.parquet(s"$path/codes")
          .select(Seq(col("vid"), col("codes")) ++
            cents.map(_ => col("list_id").cast("int").as("list_id")): _*)
          .persist(MEMORY_AND_DISK)
        PqIndex(books, sub, coded, rot, cents)
      }

      // the batch rides the frozen rotation, then lands in its nearest
      // frozen list (`nearestList`, the build's own metric and tie order)
      // encoded with the frozen books
      def append(spark: SparkSession, path: String, vecs: DataFrame): Unit = {
        val ((books, sub), rot, cents) = tables(spark, path)
        writeRows(vecE(inSpace(vecs, rot)).select(Seq(col("vec_id").as("vid"),
            pqEncode(books, sub)) ++ cents.map(nearestList(col("e"), _).as("list_id")): _*),
          s"$path/codes", "append")
      }

      def open(spark: SparkSession, path: String): Scoped[Search] = {
        val idx = load(spark, path)
        Scoped(idx)(idx.release()).map[Search](idx =>
          (q, k, probes) => pqSearch(idx, q, k, probes(idx.nList)))
      }
    }

    case object FlatBin extends StoreLayout("bincodes", listed = false) {
      def append(spark: SparkSession, path: String, vecs: DataFrame): Unit =
        writeRows(binCodes(vecs), s"$path/bincodes", "append")

      def open(spark: SparkSession, path: String): Scoped[Search] = {
        val idx = binLoad(spark, path)
        Scoped(idx)(idx.release()).map[Search](idx => (q, k, _) => {
          requireBinDim(idx.coded, q, path)
          binSearch(idx, q, k)
        })
      }
    }

    /** The layout saved at `path`; None when no save wrote it. Hadoop
      * FS, not java.io: stores live on the cluster filesystem
      * (HDFS/object store) in production. The IVF list codec comes from
      * one part file's footer (`Stores.footerSchema`), so telling the
      * layouts apart runs no Spark job. */
    def at(spark: SparkSession, path: String): Option[StoreLayout] = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val has = (d: String) => fs.exists(new org.apache.hadoop.fs.Path(root, d))
      if (has("assigned")) {
        val schema = graft.core.Stores.footerSchema(spark, s"$path/assigned",
            StructField("list_id", IntegerType))
          .getOrElse(spark.read.parquet(s"$path/assigned").schema)
        Some(Ivf(ListCodec.of(schema.fieldNames.toSeq), schema))
      }
      else if (has("rot") && has("centroids")) Some(Pq(rotated = true, listed = true))
      else if (has("books") && has("centroids")) Some(Pq(rotated = false, listed = true))
      else if (has("books") && has("rot")) Some(Pq(rotated = true, listed = false))
      else if (has("books")) Some(Pq(rotated = false, listed = false))
      else if (has("bincodes")) Some(FlatBin)
      else None
    }

    /** The layout at `path`; a directory no save wrote is rejected. */
    def of(spark: SparkSession, path: String): StoreLayout =
      at(spark, path).getOrElse(throw new IllegalArgumentException(
        s"$path is not an ivfSave/ivfPqSave/ivfOpqSave/opqSave/pqSave/binSave store"))

    def ivf(spark: SparkSession, path: String): Ivf = at(spark, path) match {
      case Some(ivf: Ivf) => ivf
      case _ => throw new IllegalArgumentException(
        s"$path is not an ivfSave store (expected an assigned/ directory)")
    }

    def pq(spark: SparkSession, path: String): Pq = at(spark, path) match {
      case Some(pq: Pq) => pq
      case _ => throw new IllegalArgumentException(
        s"$path is not a pqSave store (expected a books/ directory)")
    }

    /** A code store: any layout but the IVF lists `ivfCompact` owns. */
    def codes(spark: SparkSession, path: String): StoreLayout = at(spark, path) match {
      case Some(_: Ivf) => throw new IllegalArgumentException(
        s"$path holds an IVF 'assigned/' list store — use ivfCompact")
      case Some(layout) => layout
      case None => throw new IllegalArgumentException(
        s"$path is not a pqSave/opqSave/ivfPqSave/ivfOpqSave/binSave code store " +
          "(expected a codes/ or bincodes/ directory)")
    }
  }

  /** BinHamming min-clamps mismatched code lengths (the DotProduct
    * discipline), so a query dim that differs from the store's code
    * width would yield a truncated-but-plausible ranking with no error
    * anywhere — a misconfiguration on any serving path, so fail loudly
    * before searching. One limit-1 scan per side; skipped when either
    * side is empty. */
  private def requireBinDim(codes: DataFrame, queries: DataFrame, path: String): Unit = {
    val storeLen = codes.select(length(col("bc"))).limit(1).collect()
    val qDim = queries.select(size(col("embedding"))).limit(1).collect()
    if (storeLen.nonEmpty && qDim.nonEmpty) {
      val (sl, qd) = (storeLen(0).getInt(0), qDim(0).getInt(0))
      require((qd + 7) / 8 == sl,
        s"query embedding dim $qd encodes to ${(qd + 7) / 8}-byte sign " +
          s"codes but the store at $path holds $sl-byte codes — " +
          "store/query dimensionality mismatch")
    }
  }
  /** The one probe-count rule: with `scanFrac` (in (0, 1], checked
    * when the rule is made) a search probes ⌈nList·scanFrac⌉ lists, at
    * least one, of whatever nList the index has; without it, the fixed
    * `nProbe`. */
  private[graft] def probeRule(nProbe: Int, scanFrac: Option[Double]): Int => Int = {
    scanFrac.foreach(f => require(f > 0.0 && f <= 1.0, "scanFrac must be in (0, 1]"))
    nList => scanFrac.fold(nProbe)(f => math.max(1, math.ceil(nList * f).toInt))
  }

  /** Hybrid-retrieval fusion (Cormack et al. 2009 reciprocal rank
    * fusion): merge the DENSE candidate list (exact cosine top-2k per
    * query embedding) with the LEXICAL candidate list (BM25 top-2k for
    * the term set) by RRF points 1/(60 + rank), kept exact as
    * fixed-point ppm (1000000 div (60 + rank)) so the fused ranking is
    * BIGINT-exact against the oracle — no float accumulation anywhere.
    * Output (qid, rnk, vid, rrf_ppm): the top-k fused list per query.
    *
    * The lexical corpus is restricted to the dense corpus side
    * (doc_id ≥ nQueries) so both lists draw from the same candidate
    * pool. Shape for scale: both stages are the already-audited q39/
    * q107 shapes (broadcast query side; single-agg pivot); the fusion
    * itself aggregates ≤ nQueries·4k candidate rows — negligible. */
  def rrfFusion(emb: DataFrame, docs: DataFrame, terms: Seq[String],
                nQueries: Int, k: Int): DataFrame =
    rrfFuse(cosineTopK(emb, nQueries, 2 * k),
      TextAnalysis.bm25TopK(docs.where(col("doc_id") >= nQueries), terms, 2 * k), k)

  /** The fusion step of both RRF forms: a dense ranking
    * `(qid, rnk, vid)` and a query-independent lexical ranking
    * `(doc_id, score_ppm)` to each query's top `k` by summed points. */
  private def rrfFuse(dense: DataFrame, lexical: DataFrame, k: Int): DataFrame = {
    val d = dense.select(col("qid"), col("vid"),
      expr("1000000L div (60L + rnk)").as("pts"))
    val lex = lexical
      .withColumn("lrnk", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("doc_id").asc)))
      .select(col("doc_id").as("vid"),
        expr("1000000L div (60L + lrnk)").as("pts"))
    // the lexical list is query-independent: every query receives the
    // same contributions (bounded 2k-row crossJoin)
    val qids = d.select("qid").distinct()
    rankTop(d.unionByName(qids.crossJoin(lex))
      .groupBy("qid", "vid")
      .agg(sum(col("pts")).as("rrf_ppm")), k, col("rrf_ppm").desc, Seq("rrf_ppm"))
  }

  /** Hybrid retrieval over the PERSISTED stores — `rrfFusion`'s
    * serving face, tying the two store families together: the dense
    * ranking comes from an `ivfSave` store searched at the exhaustive
    * dial (nProbe = nList, bit-equal to brute — the q141/q156
    * discipline), the lexical ranking from the `lexSave` postings
    * store (bucket-pruned, q165), fused with the same fixed-point RRF
    * (Cormack et al. 2009; 10⁶ div (60 + rank)). The store round-trip
    * must not move a single rank: q167 hash-matches q108's oracle.
    * Result is bounded at queries×k rows — localized so both loaded
    * stores release deterministically. */
  def rrfFusionStores(spark: SparkSession,
                      vecPath: String, lexPath: String, queries: DataFrame,
                      terms: Seq[String], k: Int): DataFrame = {
    val idx = ivfLoad(spark, vecPath)
    Scoped(idx)(idx.release()).map { idx =>
      rrfFuse(ivfSearch(idx, queries, 2 * k, idx.nList),
        Lexical.lexSearch(spark, lexPath, terms, 2 * k), k)
    }.localize
  }

  /** Cluster-balanced diversity sampling — the embedding-space analog
    * of `TrainingData.quotaSample`: k-means the corpus with the IVF
    * coarse quantizer (seeded, deterministic), then keep up to
    * `perCluster` vectors per cluster by deterministic hash rank. A
    * pretraining mixture uses this to flatten semantic density:
    * over-represented regions contribute at most `perCluster` docs
    * each, regardless of how many near-identical variants exist.
    *
    * Shape for scale: the quota window shuffles once on list_id (same
    * partitioning the IVF search reuses); the hash rank needs no
    * global sort. Rows-only at the driver gate (seeded KMeans has no
    * DuckDB analog); `SimilaritySpec` pins determinism, the
    * per-cluster cap, and exact expected output size. */
  def diversitySample(emb: DataFrame, nClusters: Int,
                      perCluster: Int): Scoped[DataFrame] = {
    val idx = ivfBuild(emb, nClusters)
    val res = idx.assigned
      .withColumn("rk", row_number().over(
        Window.partitionBy("list_id").orderBy(xxhash64(col("vid")), col("vid"))))
      .where(col("rk") <= perCluster)
      .select(col("vid").as("vec_id"), col("list_id"), col("rk"))
      .orderBy("vec_id")
    Scoped(res)(idx.release())
  }

  /** Persist a trained IVF index: `centroids/` plus the `assigned/`
    * lists partitioned by `list_id` (`writeRows`), so later sessions
    * search without re-running the KMeans fit — the FAISS
    * write_index/read_index lifecycle, and an INDEX on disk rather than
    * a copy of the corpus. Float, SQ8 and 1-bit lists all round-trip. */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    saveCentroids(index.assigned.sparkSession, index.centroids, path)
    writeRows(index.assigned, s"$path/assigned", "overwrite")
  }

  /** Rebuild an index from `ivfSave` output: no fit, no assignment
    * (`StoreLayout.Ivf.load`). Search-after-reload equals
    * search-after-build (`SimilaritySpec` pins it). */
  def ivfLoad(spark: SparkSession, path: String): IvfIndex =
    StoreLayout.ivf(spark, path).load(spark, path)

  /** Append new vectors to whatever store is saved at `path`, ON DISK,
    * under its frozen quantizer (`StoreLayout.append`) — the FAISS
    * `index.add()` analog and the vector half of the incremental-ingest
    * story: IVF lists assigned by the quantizer's own metric (the list
    * `ivfBuild` would have chosen) and re-encoded in the store's own
    * codec, PQ codes through the saved rotation, lists and books, sign
    * codes as they are; refits happen only on drift. A later load sees
    * the union; per-batch cost is O(batch), independent of the store
    * size — the `IngestDedup.processBatch` contract for vectors. */
  def appendSave(spark: SparkSession, path: String, newVecs: DataFrame): Unit =
    StoreLayout.of(spark, path).append(spark, path, newVecs)

  /** Offline compaction of an `ivfSave`d list store
    * (`StoreLayout.compact`). */
  def ivfCompact(spark: SparkSession, path: String): Long =
    StoreLayout.ivf(spark, path).compact(spark, path)

  /** The same compaction for the code stores the at-least-once ingest
    * can duplicate: flat PQ/OPQ `codes/`, IVF,PQ and OPQ,IVF,PQ
    * `codes/` (list_id-partitioned) and the binary `bincodes/`. IVF
    * list stores and unrecognized directories are rejected by name
    * instead of surfacing a raw path-not-found mid-rewrite. */
  def codesCompact(spark: SparkSession, path: String): Long =
    StoreLayout.codes(spark, path).compact(spark, path)

  /** Per-list occupancy of `lists` (any frame with a `list_id`) over
    * the list ids `ids`, INCLUDING empty lists — a drift-skewed index
    * typically pairs one swollen list with several starved ones, and
    * the starved ones vanish from a bare groupBy. One hash aggregation
    * (on a saved store the partition column IS the group key, so the
    * scan never materializes payloads) + a left join from the ids. */
  private def listStats(lists: DataFrame, ids: Seq[Int]): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val counts = lists.groupBy(col("list_id").cast("int").as("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
    ids.toDF("list_id").join(counts, Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .orderBy("list_id")
  }

  /** (skew, total rows) of a `listStats` frame over `nList` lists —
    * one nList-row aggregation. Skew is max list size over mean list
    * size (1.0 = perfectly balanced, nList = everything in one list). */
  private def occupancy(stats: DataFrame, nList: Int): (Double, Long) = {
    val r = stats.agg(max(col("n_vecs")), sum(col("n_vecs"))).head()
    val total = if (r.isNullAt(1)) 0L else r.getLong(1)
    (if (total == 0L) 1.0 else r.getLong(0).toDouble / (total.toDouble / nList), total)
  }

  /** Per-list occupancy of an IVF index, empty lists included. */
  def ivfListStats(index: IvfIndex): DataFrame =
    listStats(index.assigned, index.centroids.map(_._1).toSeq)

  /** Occupancy skew of an IVF index. Probe cost per query tracks the
    * probed lists' sizes, so skew S means worst-case probes scan ~S×
    * what the balanced N·scanFrac cost model assumes — the operational
    * signal to retrain. */
  def ivfSkew(index: IvfIndex): Double = occupancy(ivfListStats(index), index.nList)._1

  /** Reconstruct `(vec_id, embedding)` from an index's stored truth
    * (its `assigned` lists, or gap rows read straight off a saved
    * store by `ivfReplayGap`): float lists return their vectors
    * verbatim; SQ8 lists dequantize `scale·code` (the codes ARE the
    * store — FAISS likewise retrains a quantized index on
    * reconstructions). SQ8 round-trips exactly: the max-magnitude code
    * is ±127 by construction, so re-encoding a reconstruction
    * regenerates the identical scale and codes (`IvfRebalanceSpec`
    * pins it bit-for-bit). */
  private def reconstruct(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val codec = ListCodec.of(assigned.columns.toSeq)
    require(codec != ListCodec.Bin,
      "binary (sign-code) lists are not reconstructible — rebuild from the source corpus (the PQ-tier rule)")
    if (codec == ListCodec.Sq8)
      assigned.select(col("vid"), col("qc")).as[(Long, Array[Byte])]
        .map { case (vid, qc) =>
          var bits = 0L
          var i = 0
          while (i < 8) { bits = (bits << 8) | (qc(i) & 0xffL); i += 1 }
          val scale = java.lang.Double.longBitsToDouble(bits)
          (vid, Array.tabulate(qc.length - 8)(j => qc(8 + j) * scale))
        }.toDF("vec_id", "embedding")
    else
      assigned.select(col("vid").as("vec_id"), col("ce").as("embedding"))
  }

  /** Close the append gap between two generations of an `ivfSave`d
    * store: any vid present in `srcPath` but absent from `dstPath`
    * (an at-least-once batch that landed on the old path after the
    * rebuild's `ivfLoad` snapshot) is reconstructed from the old
    * store's own truth (float rows verbatim; SQ8 dequantized — exact
    * round-trip, `IvfRebalanceSpec`) and appended to the new
    * generation via `appendSave`. Idempotent (anti-join by vid;
    * replay duplicates collapse first), so the supervisor can call it
    * again at reader-swap time to close the post-rebuild tail. Cost:
    * one vid anti-join over the old lists + O(gap) assignment —
    * never a quantizer refit. Returns the number of replayed
    * vectors. */
  def ivfReplayGap(spark: SparkSession,
                   srcPath: String, dstPath: String): Long = {
    val src = spark.read.parquet(s"$srcPath/assigned")
    val dstVids = spark.read.parquet(s"$dstPath/assigned").select("vid")
    val gap = reconstruct(
        src.join(dstVids, Seq("vid"), "left_anti").dropDuplicates("vid"))
      .persist(MEMORY_AND_DISK)
    val n = gap.count()
    if (n > 0) appendSave(spark, dstPath, gap)
    gap.unpersist(blocking = false)
    n
  }

  /** Retrain-on-drift — the maintenance half of the append story.
    * `appendSave` keeps per-batch cost O(batch) by freezing the
    * centroids, which is exactly what lets a drifted workload pile new
    * vectors into a few lists; once `ivfSkew` crosses the caller's
    * threshold, this refits the coarse quantizer on the index's
    * CURRENT contents and reassigns every vector (same cost as the
    * original build: one bounded KMeans fit + one corpus shuffle).
    * Works for float and SQ8 indexes alike via `reconstruct`.
    * Correctness is unchanged by construction — the exhaustive dial
    * (`scanFrac = 1.0` / nProbe = nList) scans every list either way —
    * rebalancing restores the even occupancy the fixed-nProbe cost and
    * recall models assume. The on-disk form, which writes a new
    * generation and replays the append gap, is
    * `IngestVectors.maintainIndex`. */
  def ivfRebalance(index: IvfIndex, nList: Int = 0,
                   sampleFit: Boolean = false): IvfIndex = {
    val k = if (nList > 0) nList else index.nList
    val rebuilt = ivfBuild(reconstruct(index.assigned), k, sampleFit, ListCodec.of(index))
    rebuilt.assigned.count() // materialize before releasing the source
    index.release()
    rebuilt
  }

  /** New-batch list assignment shared by the append paths: nearest
    * centroid by the quantizer metric (Euclidean argmin), then rows in
    * the index's list-frame layout (`codec`).
    *
    * The argmin runs as the same codegen register scan the build and
    * probe paths use (`nearestList`): the old broadcast crossJoin +
    * per-vid ranking window MATERIALIZED batch×nList rows, which turns
    * into a batch×(store/target) term once maintenance scales nList
    * with the store — measured as the dominant growth in the round-8
    * sf10 supervised pair-mining campaign (appends at nList 488 cost
    * more than the mining they feed). */
  private def assignToLists(cents: Array[(Int, Array[Double])], newVecs: DataFrame,
                            codec: ListCodec): DataFrame =
    codec.encode(newVecs
      .select(col("vec_id").as("vid"), asDouble(col("embedding")).as("e"))
      .withColumn("list_id", nearestList(col("e"), cents)), "e")

  /** Probe-list selection WITHOUT the N×nList ranking window: the
    * bounded centroid rows (nList) ride into codegen via `NearestLists`
    * (`addReferenceObj` — constant generated code regardless of nList),
    * and each query row computes its own top lists in registers.
    * Bit-equal to the old crossJoin+row_number form (same fold order,
    * same list-id tiebreak — see the expression's scaladoc); removes
    * the N²/targetClusterRows intermediate that made corpus-side
    * probing superlinear in the round-7 campaign. `q` must carry a
    * `qe` column; `keep` names the columns to carry through. */
  private def probeTopLists(q: DataFrame, keep: Seq[String],
                            cents: Array[(Int, Array[Double])],
                            nProbe: Int): DataFrame = {
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = if (ids.isEmpty) 0 else flat.length / ids.length
    q.select(keep.map(col) :+ explode(graft.functions.NearestLists(
        col("qe"), flat, ids, dim, nProbe)).as("list_id"): _*)
  }

  /** The probe-search every IVF list codec shares: each query probes
    * its `nProbe` nearest lists, joins them on list_id — a plain join,
    * the query side is the small one — and keeps its top `k` by the
    * codec's score. */
  private def probeSearch(index: IvfIndex, codec: ListCodec,
                          queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val q = codec.query(vecFrame(queries, "qid", "qe", "qn"))
    val probes = probeTopLists(q, "qid" +: codec.qCols, index.centroids, nProbe)
    rankTop(probes.join(index.assigned, Seq("list_id"))
      .select(col("qid"), col("vid"), codec.score.as("score")), k, codec.by)
  }

  /** Search a trained index: each query probes only the `nProbe` lists
    * whose centroids score highest (the centroid matrix rides into
    * codegen — nList rows), candidates shuffle on list id, no cross
    * join against the corpus. Candidates score in the index's own list
    * codec: float cosine, the int8 dot of SQ8 lists, or the Hamming
    * distance of 1-bit lists (ascending; distance then vid is the q157
    * integer ordering, list-scoped).
    *
    * `scanFrac` is the recall-STABLE dial (the one `probeRule`, shared
    * with `knnJoin`): when set, nProbe = max(1, ⌈nList·scanFrac⌉), so the
    * scanned share of the corpus — which recall tracks on weakly-
    * clustered data (SCALE.md round 6) — survives corpus-proportional
    * nList growth. A raw nProbe silently decays as maintenance scales
    * the geometry: measured 0.21 → 0.008 recall@10 across the
    * 2 M → 20 M decade at fixed nProbe = 8, where the held fraction
    * kept 13× that recall at identical search cost (SCALE.md round
    * 12). Prefer scanFrac for anything long-lived; scanFrac = 1.0 is
    * the exhaustive dial, bit-equal to brute force. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 2,
                scanFrac: Option[Double] = None): DataFrame =
    probeSearch(index, ListCodec.of(index), queries, k,
      probeRule(nProbe, scanFrac)(index.nList))

  /** The self-query form every one-shot top-k shares (the q56/q142/
    * q157 shape): vectors below `nQueries` query an index built on the
    * rest, `search(index, corpus, queries)`. The result is bounded at
    * nQueries × k rows by construction (the query slice is the tiny
    * side, `cosineTopK`'s broadcast contract), so it is localized and
    * the per-call index released deterministically instead of leaking
    * until cache eviction. Long-lived or large-query callers should
    * hold a built index and search it repeatedly instead of paying the
    * fit (and the localize) per call. */
  private def selfQuery[I](emb: DataFrame, nQueries: Int)(build: DataFrame => I)(
      release: I => Unit)(search: (I, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val corpus = emb.where(col("vec_id") >= nQueries)
    val index = build(corpus)
    Scoped(index)(release(index))
      .map(search(_, corpus, emb.where(col("vec_id") < nQueries))).localize
  }

  /** One-shot IVF top-k (the q56 driver query): build on the candidate
    * corpus, search the query slice, release (`selfQuery`). */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              nList: Int = 8, nProbe: Int = 2,
              sampleFit: Boolean = false): DataFrame =
    selfQuery(emb, nQueries)(ivfBuild(_, nList, sampleFit))(_.release())(
      (index, _, qs) => ivfSearch(index, qs, k, nProbe))

  /** The corpus-side candidate fan-out join every kNN-join rung runs
    * (probes ⋈ inverted lists on list_id), parallelism-pinned. Two
    * ways that join loses its width, both measured: (1) the list
    * frame dips under the broadcast threshold and the post-join
    * dot/ADC work strands on the probe side's scan partitions (the
    * round-7 shuffle_hash pin); (2) the join's OUTPUT is
    * N·nProbe·clusterRows rows — orders of magnitude above its INPUT
    * bytes — so AQE, which coalesces on input size and is blind to
    * fan-out (the skew-split blindness of round 10, in the coalescing
    * direction), merges the tiny-input shuffle down to a handful of
    * tasks (n=3–7 task stages carrying ~2 s of the q155/q160
    * exhaustive dials at sf0.1); parallelism is additionally capped by
    * list-key cardinality once nList < the shuffle width. When
    * nList < width, salt: probes key by pmod(xxhash64(qid), S), the
    * list frame replicates S ways (S = ⌈width/nList⌉ — 1 at scale,
    * where nList ∝ √N already exceeds any core count, so the at-scale
    * plan is byte-identical to before), both sides repartition by
    * (list_id, salt) at the pinned width (user-specified ⇒ exempt
    * from AQE coalescing), and the join emits the identical pair set
    * at full parallelism. */
  private def candJoin(probes: DataFrame, lists: DataFrame,
                       nList: Int): DataFrame = {
    val width = probes.sparkSession.conf
      .getOption("spark.sql.shuffle.partitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(200)
    val s = math.max(1, (width + nList - 1) / nList)
    if (s <= 1) probes.join(lists.hint("shuffle_hash"), Seq("list_id"))
    else {
      val ps = probes
        .withColumn("__sl",
          pmod(xxhash64(col("qid")), lit(s.toLong)).cast("int"))
        .repartition(width, col("list_id"), col("__sl"))
      val ls = lists
        .withColumn("__sl", explode(array((0 until s).map(lit): _*)))
        .repartition(width, col("list_id"), col("__sl"))
      ps.join(ls.hint("shuffle_hash"), Seq("list_id", "__sl")).drop("__sl")
    }
  }

  /** Corpus-wide k-nearest-neighbor JOIN: every vector's top-`k`
    * neighbors (self excluded) — the RAG pair-mining / hard-negative /
    * duplicate-triage primitive, and the generalization of `ivfSearch`
    * to a corpus-sized query side. IVF-blocked: probe selection is the
    * `NearestLists` codegen expression (centroid matrix in registers —
    * no N×nList joined intermediate; see its scaladoc for the
    * round-7 superlinearity it removed), candidates one equi-join on
    * list_id, so the pair volume is N·nProbe·targetClusterRows — never
    * N² — and the list count scales with the corpus (`autoK`) exactly
    * like SemDeDup's. The default fit keeps the FAISS
    * flat-coarse-quantizer cost profile (N×nList distance evals);
    * `sampleFit = true` bounds the fit to a driver sample and leaves
    * only the codegen assignment pass — the extreme-N build path. At
    * extreme N pass `targetClusterRows ∝ √N`: measured at sf100 (2 M
    * vectors, SCALE.md round 8), √N sizing is 8× cheaper to build, no
    * slower to search, and 10–26× better on fixed-nProbe recall than
    * the fixed-256 target — recall tracks the scan fraction
    * nProbe/nList, and corpus-proportional nList drives it to ~0.1 %.
    * Result is N·k rows and STAYS DISTRIBUTED (nothing collects);
    * the returned scope releases the index once the result is consumed
    * or materialized. Approximate by construction (probed
    * lists only): on clustered embeddings — the regime real encoders
    * produce — recall@5 ≥ 0.9 (`SimilaritySpec` planted-cluster pin);
    * on uniform-random vectors it degrades toward the scan fraction
    * (0.39 measured at 2/8 lists on the random driver testdata, the
    * q61 caveat), where no list structure exists to exploit. nProbe is
    * the recall/cost dial: at 20 k semi-structured vectors (78 lists),
    * nProbe 2 = 0.41 recall@10 in 10.5 s, nProbe 8 = 0.88 in 27.7 s
    * (SCALE.md round 6) — size it to the corpus's cluster structure.
    *
    * `scanFrac` is the recall-stable dial from the SCALE.md round-6
    * law: when set, nProbe = ⌈nList·scanFrac⌉ so the scanned share of
    * the corpus (and with it recall on weakly-clustered data) stays
    * constant as the list count grows with N — cost then scales
    * linearly in scanFrac·N per query. scanFrac = 1.0 probes every
    * list, which IS the exact brute-force join (pinned equal in
    * `SimilaritySpec`). Unset, the fixed `nProbe` gives cost-stable
    * scaling and recall rides the corpus's cluster structure.
    *
    * `codec` is the list codec `ivfBuild` holds the lists in. Float
    * lists score exact cosine. `ListCodec.Sq8` is the memory-wall
    * form: at 10⁹ vectors the float lists (512 B per 64-dim vector)
    * stop the hot set fitting in executor memory, int8 lists hold
    * 72 B. `ListCodec.Bin` is the cheapest-storage rung of the
    * corpus-side ladder (float → SQ8 → PQ/OPQ → 1-bit). Both score
    * candidates approximately (int8 dot, Hamming) and re-rank each
    * query's top k·`refine` pool with exact float cosine
    * (`knnDriver`); probe selection stays on the float centroids, so
    * the recall dials behave the same on every codec, and at
    * scanFrac = 1.0 with a corpus-covering refine the result IS the
    * brute ranking (q160, hash-green). */
  def knnJoin(emb: DataFrame, k: Int, nProbe: Int = 2,
              targetClusterRows: Long = 256,
              knownCount: Option[Long] = None,
              scanFrac: Option[Double] = None,
              sampleFit: Boolean = false,
              codec: ListCodec = ListCodec.Float,
              refine: Int = 4): Scoped[DataFrame] = {
    val index = ivfBuild(emb, autoK(emb, targetClusterRows, knownCount), sampleFit, codec)
    Scoped(index)(index.release()).map(knnJoinIndexed(emb, _, k, nProbe, scanFrac, refine))
  }

  /** `knnJoin` against a caller-owned index — the build-once /
    * join-repeatedly form (`ivfBuild` or an `ivfLoad`ed store): no
    * KMeans fit, no assignment pass; the caller releases the index.
    * The list codec comes from the index (`ListCodec.of`, as in
    * `ivfSearch`): float lists stay exact, SQ8 and 1-bit lists re-rank
    * a k·`refine` pool in float. The probe count resolves first, so a
    * bad `scanFrac` fails before any work. Join-after-reload equals
    * join-after-build (`SimilaritySpec`). */
  def knnJoinIndexed(emb: DataFrame, index: IvfIndex, k: Int,
                     nProbe: Int = 2,
                     scanFrac: Option[Double] = None,
                     refine: Int = 4): DataFrame = {
    val codec = ListCodec.of(index)
    val n = probeRule(nProbe, scanFrac)(index.nList)
    val q = codec.query(vecFrame(emb, "qid", "qe", "qn"))
    val probes = probeAll(q, (Seq("qid", "qe", "qn") ++ codec.qCols).distinct, n,
      index.centroids)
    knnDriver(emb, probes, index.assigned, index.nList, codec.score, codec.by, k,
      if (codec == ListCodec.Float) None else Some(refine))
  }

  /** Probe lists for a corpus-sized query side. At nProbe ≥ nList every
    * list is probed regardless of rank, so the exhaustive dial skips
    * the per-row probe scan: a broadcast cross join with the list ids
    * (the dial's only overhead gone; same candidate set, bit-identical
    * result). */
  private def probeAll(q: DataFrame, keep: Seq[String], nProbe: Int,
                       cents: Array[(Int, Array[Double])]): DataFrame =
    if (nProbe >= cents.length) {
      val spark = q.sparkSession
      import spark.implicits._
      q.crossJoin(broadcast(cents.map(_._1).toSeq.toDF("list_id")))
        .select((keep :+ "list_id").map(col): _*)
    } else probeTopLists(q, keep, cents, nProbe)

  /** The kNN-join driver behind every `knnJoin*Indexed`: `probes` ⋈
    * `lists` through the salted `shuffle_hash` `candJoin` (the
    * corpus-side fan-out, N·nProbe·clusterRows rows — kept at shuffle
    * parallelism even when the list frame dips under the broadcast
    * threshold: below ~19 k vectors for float lists, ~110 k for int8,
    * earlier still for sign codes; measured 2.5× on the packed-PQ
    * rung), self pairs dropped, then either each query's top `k` by
    * `score` (float lists: already exact) or a k·`refine` pool
    * re-ranked by exact float cosine from `emb` — the q101
    * `RefineFlat` contract lifted to the corpus-sized query side. The
    * refine joins the pool (N·k·refine rows) back to the corpus on vid:
    * pool-sized, never corpus×corpus. `probes` carries qid, qe, qn
    * and whatever `score` reads. */
  private def knnDriver(emb: DataFrame, probes: DataFrame, lists: DataFrame,
                        nList: Int, score: Column, by: Column, k: Int,
                        refine: Option[Int]): DataFrame = {
    val cand = candJoin(probes, lists, nList).where(col("qid") =!= col("vid"))
    refine match {
      case None =>
        rankTop(cand.select(col("qid"), col("vid"), score.as("score")), k, by)
      case Some(r) =>
        val pool = rankPool(cand.select(col("qid"), col("qe"), col("qn"),
          col("vid"), score.as("score")), k * r, by)
        rankTop(pool.join(vecFrame(emb, "vid", "ce", "cnf"), Seq("vid"))
          .select(col("qid"), col("vid"), cosine("qe", "qn", "ce", "cnf").as("score")), k)
    }
  }

  /** `knnJoin` over a PQ-CODED store — the deepest rung of the
    * corpus-side quantized ladder (float → SQ8 ~7× → PQ m BYTES per
    * vector): at 10⁹ vectors even int8 lists strain executor memory;
    * here the long-lived lists hold only the `PqPack`ed byte codes
    * (the build's `array<int>` store is released once the packed
    * lists materialize — UnsafeRow keeps int arrays at 4 B/code, so
    * packing is what makes the m-bytes claim true in memory, not just
    * in parquet), candidates are scored against the `PqDecodeBytes`
    * reconstruction (register work in the scan pipeline — the float
    * corpus never rematerializes), and
    * the top k·`refine` pool per query is re-ranked with exact float
    * cosine from the source frame, the same RefineFlat contract as
    * `knnJoin`'s SQ8 and 1-bit codecs. Probe selection shares
    * `NearestLists` (float centroids — tiny), so the `nProbe`/`scanFrac`
    * dials behave identically across every rung. Recall floors are the
    * PQ family's (q116/q119): size `m` by measured refined recall at
    * the target corpus, per the round-6 law.
    *
    * `opq = true` puts an OPQ rotation in front — the FAISS
    * `OPQ{m},IVF,PQ{m}` composite as a corpus-side join: an orthonormal
    * rotation fit by the `opqFitLocal` alternation (Ge et al. 2013,
    * `iters` rounds) decorrelates the subspaces BEFORE the codebooks
    * are fit, which is where PQ loses recall on vectors whose variance
    * isn't axis-aligned. Rotation preserves dot products and norms, so
    * the coarse lists, the ADC ordering and the float refine cosines
    * are the SAME quantities as the un-rotated path — only codebook
    * fidelity changes. */
  def knnJoinPq(emb: DataFrame, k: Int, nProbe: Int = 2,
                targetClusterRows: Long = 256, m: Int = 16,
                refine: Int = 4, scanFrac: Option[Double] = None,
                sampleFit: Boolean = false, opq: Boolean = false,
                iters: Int = 8): Scoped[DataFrame] = {
    val index = pqBuild(emb, m, 256, autoK(emb, targetClusterRows, None), opq, iters,
      sampleFit)
    // the packed lists are materialized eagerly inside Indexed, so the
    // build's array<int> store can drop immediately (the memory story)
    try knnJoinPqIndexed(emb, index, k, nProbe, refine, scanFrac)
    finally index.release()
  }

  /** `knnJoinPq` against a caller-owned IVF,PQ or OPQ,IVF,PQ index —
    * the build-once / join-repeatedly form (`pqBuild` with `nList > 0`
    * or a `pqLoad`ed store; the caller releases the index). Behind a
    * rotation the probe side rides it first (one codegen `MatVec` per
    * row) and everything else runs unchanged in rotated space; the
    * rotation is orthonormal, so the refine cosines are the same
    * quantities as the un-rotated path. The returned scope releases
    * only the internally-`PqPack`ed list frame. Join-after-reload
    * equals join-after-build (`SimilaritySpec`). */
  def knnJoinPqIndexed(emb: DataFrame, index: PqIndex, k: Int,
                       nProbe: Int = 2, refine: Int = 4,
                       scanFrac: Option[Double] = None): Scoped[DataFrame] = {
    import graft.functions.Pq
    val cents = index.centroids.getOrElse(throw new IllegalArgumentException(
      "knnJoinPqIndexed needs an IVF coarse layer (pqBuild with nList > 0)"))
    val rotated = inSpace(emb, index.rot)
    val n = probeRule(nProbe, scanFrac)(index.nList)
    val flat = index.books.flatMap(_.flatMap(_.toSeq))
    val ks = index.books.map(_.length)
    require(ks.forall(_ <= 256), s"kSub > 256 cannot pack to bytes")
    // the LONG-LIVED list state is the PqPack'd byte form (1 B/code —
    // the FAISS layout), materialized EAGERLY so callers that own the
    // index (build or loaded store) can release its array<int> codes
    // (4 B/code in UnsafeRow) right after this returns
    val packed = index.coded
      .select(col("vid"), col("list_id"), Pq.pack(col("codes")).as("pc"))
      .persist(MEMORY_AND_DISK)
    Scoped(packed)(packed.unpersist(blocking = false)).map { packed =>
      packed.count()
      val q = vecFrame(rotated, "qid", "qe", "qn")
      val probes = probeAll(q, q.columns.toSeq, n, cents)
      // candidates decode in the scan pipeline: the store stays bytes.
      // The packed frame is TINY (m B/vector) so the static planner
      // wants to broadcast it — but this join fans out to
      // N·nProbe·clusterRows rows whose decode+dot work then inherits
      // the probe side's SCAN partitioning (a handful of parquet
      // splits) instead of the shuffle width: measured 90 s → 207 s at
      // 200 k × nProbe 8. Same trap as the band joins (round-3 rule):
      // `knnDriver`'s `candJoin` pins shuffle_hash.
      val cand = packed
        .withColumn("cd", Pq.decodeBytes(col("pc"), flat, ks, index.sub))
        .withColumn("cnd", sqrt(dot(col("cd"), col("cd"))))
      knnDriver(rotated, probes, cand, index.nList, cosine("qe", "qn", "cd", "cnd"),
        col("score").desc, k, Some(refine))
    }
  }

  /** `(vec_id, embedding)` in an index's space: rotated by its
    * row-major dim×dim OPQ rotation (one codegen `MatVec` per row), as
    * is without one. */
  private def inSpace(vecs: DataFrame, rot: Option[Array[Double]]): DataFrame =
    rot.fold(vecs)(r => vecs.select(col("vec_id"), graft.functions.MatVecF(
      asDouble(col("embedding")), r, math.sqrt(r.length.toDouble).toInt).as("embedding")))

  /** Scalar-quantized (int8) brute-force cosine top-k — `cosineTopK`
    * over `Sq8Encode` codes (functions/Sq8Expressions.scala): 72 B per
    * 64-dim vector instead of 512 B of promoted doubles, the memory
    * ratio that decides whether a 10⁹-vector corpus's hot set fits in
    * executor memory at all. Same deterministic contract (score desc,
    * vid asc); scores are approximate, so ranks can differ from the
    * float path near ties — recall@k vs `cosineTopK` is pinned by
    * `Sq8Spec`, not asserted equal. Encode is a single codegen'd
    * projection (no second pass for norms: the approximate norm is
    * sq8_dot(code, code)). */
  def sq8TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import graft.functions.Sq8
    val base = emb.select(col("vec_id"),
        Sq8.encode(asDouble(col("embedding"))).as("qc"))
      .withColumn("nrm", sqrt(Sq8.dot(col("qc"), col("qc"))))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qc").as("qq"), col("nrm").as("qn"))
    val c = base.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("vid"), col("qc").as("cc"), col("nrm").as("cn"))
    rankTop(c.crossJoin(broadcast(q))
      .select(col("qid"), col("vid"),
        (Sq8.dot(col("qq"), col("cc")) / (col("qn") * col("cn"))).as("score")), k)
  }

  /** The 1-bit rung of the quantization ladder — FAISS
    * `IndexBinaryFlat` (+ `RefineFlat`) as frames: sign codes
    * (`functions.BinEncode`, d/8 bytes per vector — 64× under the
    * promoted float store at 64 dims) scanned by exact integer
    * HAMMING distance (`BinHamming`, popcount of the XOR), optionally
    * re-ranked in float for the top pool. No codebook, no training,
    * no scale header: the cheapest code that still orders candidates
    * by angle (Charikar 2002 sign-LSH, applied per-coordinate). The
    * query side is the bounded broadcast side by contract (the
    * `cosineTopK` discipline); corpus-side joins should quantize the
    * IVF lists instead (`knnJoin`'s codecs, `knnJoinPq`). */
  final case class BinIndex(coded: DataFrame) {
    def release(): Unit = coded.unpersist(blocking = false)
  }

  def binBuild(corpus: DataFrame): BinIndex = {
    val coded = binCodes(corpus).persist(MEMORY_AND_DISK)
    coded.count()
    BinIndex(coded)
  }

  /** `(vec_id, embedding)` → `(vid, bc)` sign codes. */
  private def binCodes(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("vid"),
      graft.functions.Bin.encode(asDouble(col("embedding"))).as("bc"))

  /** Hamming top-k over a built/loaded binary index: (qid, rnk, vid),
    * rank by distance asc then vid — the integer ordering the DuckDB
    * oracle reproduces exactly (q157 is hash-green: Hamming of sign
    * codes == count of per-dim sign disagreements, no bit packing
    * needed oracle-side). */
  def binSearch(index: BinIndex, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      graft.functions.Bin.encode(asDouble(col("embedding"))).as("qb"))
    rankTop(index.coded.crossJoin(broadcast(q))
      .select(col("qid"), col("vid"),
        graft.functions.Bin.hamming(col("qb"), col("bc")).as("score")),
      k, col("score").asc)
  }

  /** Self-contained query form (the q157/q158 shape, `selfQuery`):
    * vectors below `nQueries` query the rest. `refine = 0` returns the
    * raw Hamming ranking; `refine > 0` is `Binary,RefineFlat`: Hamming
    * retrieves `k × refine` candidates and the float store re-scores
    * only those (`exactRerank`). At `refine` covering the corpus the
    * float re-rank orders EVERY candidate, so the result is the exact
    * brute ranking through the binary plumbing (q158's hash-green
    * dial). */
  def binTopK(emb: DataFrame, nQueries: Int, k: Int,
              refine: Int = 0): DataFrame =
    selfQuery(emb, nQueries)(binBuild)(_.release()) { (index, corpus, qs) =>
      if (refine > 0)
        exactRerank(binSearch(index, qs, k * refine).select("qid", "vid"), corpus, qs, k)
      else binSearch(index, qs, k)
    }

  /** Persist / reload for the binary store — `bincodes/` is the layout
    * key `StoreLayout` recognizes; its append encodes and writes,
    * nothing refit (there is nothing TO refit — the code is the sign
    * pattern itself). */
  def binSave(index: BinIndex, path: String): Unit =
    writeRows(index.coded, s"$path/bincodes", "overwrite")

  def binLoad(spark: SparkSession, path: String): BinIndex =
    BinIndex(spark.read.parquet(s"$path/bincodes").persist(MEMORY_AND_DISK))

  /** Two-stage refine search over an SQ8-list index — the FAISS
    * `IVF,SQ8` + `RefineFlat` composite: stage 1 scans the int8 lists
    * for `k × refine` candidates per query (the cheap, 7×-smaller-IO
    * pass), stage 2 (`exactRerank`) re-scores ONLY those candidates
    * against the float store `emb` with the exact codegen dot product
    * and keeps the true top k. The refine join touches k·refine rows
    * per query — negligible next to the list scan — so quantization
    * rank error is repaired at ~zero marginal cost (`Sq8Spec` pins
    * parity with the all-float IVF search). */
  def ivfSearchSq8Refine(index: IvfIndex, emb: DataFrame, queries: DataFrame,
                         k: Int, nProbe: Int = 2, refine: Int = 4): DataFrame =
    exactRerank(ivfSearch(index, queries, k * refine, nProbe)
      .select("qid", "vid"), emb, queries, k)

  /** One-shot `IVF,SQ8 + RefineFlat` top-k (the q142 driver query):
    * build the quantized index on the candidate corpus, search the
    * query slice with a float re-rank pool, release (`selfQuery`). At
    * `nProbe = nList` and `refine ≥ ⌈n/k⌉` the ADC pool is the whole
    * corpus and the float re-rank IS the exact brute-force ranking —
    * the exhaustive dial that lets the quantized store hash-check
    * against the q39 oracle end-to-end (encode → store → probe → ADC →
    * refine). */
  def sq8RefineTopK(emb: DataFrame, nQueries: Int, k: Int,
                    nList: Int = 8, nProbe: Int = 2,
                    refine: Int = 4, sampleFit: Boolean = false): DataFrame =
    selfQuery(emb, nQueries)(ivfBuild(_, nList, sampleFit, ListCodec.Sq8))(_.release())(
      ivfSearchSq8Refine(_, _, _, k, nProbe, refine))

  /** Product-quantization top-k — the FAISS `PQ{m}` flat index with
    * asymmetric distance computation (ADC), completing the quantizer
    * ladder Flat → SQ8 → PQ (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011). The vector splits into `m`
    * subspaces; each subspace gets its own `kSub`-centroid codebook
    * (seeded KMeans over the candidate set), so a 64-dim float vector
    * compresses to `m` byte codes (default m=16, kSub=256 → 16 bytes
    * vs 256: 16× compression, far past SQ8's 4× — FAISS `PQ16`; m=8
    * halves storage again but needs a ~4× refine pool for the same
    * refined recall — measured at 20 k vectors, SCALE.md round 6).
    *
    * Cosine via L2-normalization (standard FAISS practice for inner-
    * product PQ): both sides are scaled to unit length BEFORE codebook
    * fit and encode, so the raw ADC inner product `q̂ · x̂` IS the
    * cosine estimate — no per-candidate norm division whose
    * reconstruction error would perturb the ranking. The normalization
    * never materializes a scaled array on the encode path: `(x/|x|)·c`
    * folds to `(x·c)/|x|`, one codegen'd DotProduct plus a scalar
    * divide.
    *
    * Search is ADC: each QUERY (tiny side) precomputes one flat lookup
    * table `lut[off_j + c] = q̂_j · centroid_{j,c}` — Σ|codebook_j|
    * doubles — and a candidate's approximate cosine is
    * `Σ_j lut[off_j + code_j]`: m array lookups + adds per
    * (query, candidate), no float vector ever touched on the big side.
    * Codebook sizes are taken from the fitted model (KMeans may return
    * fewer than kSub centers on degenerate data), so LUT offsets are
    * cumulative, not a fixed stride.
    *
    * 100 TB shape: codebooks are m·kSub centroids — driver-fit on a
    * sample, broadcast as literals into codegen; encoding is one
    * linear projection pass; the scored side carries only codes, so
    * the scan is ~64× less IO than the float baseline. Queries ride a
    * single broadcast with their LUTs inlined. Recall is pinned
    * honestly in `PqSpec`; `refine` re-ranks k·refine ADC candidates
    * against the float store exactly like `ivfSearchSq8Refine`. Fit,
    * encode and search are `pqBuild` + `pqSearch` behind `selfQuery`. */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int,
             m: Int = 16, kSub: Int = 256): DataFrame =
    selfQuery(emb, nQueries)(pqBuild(_, m, kSub))(_.release())(
      (index, _, qs) => pqSearch(index, qs, k))

  /** Codebook training: seeded Lloyd k-means per subspace over a
    * BOUNDED, deterministically-sampled slice of the L2-normalized
    * corpus, run on the driver (FAISS practice — `Clustering` trains
    * on ≤ max_points_per_centroid·k sampled points precisely because
    * codebooks are statistics, not indexes). The distributed
    * alternative (one MLlib fit per subspace) costs m·maxIter Spark
    * job launches — measured 15+ s of pure scheduling overhead at 5 k
    * vectors, for identical recall. Sampling is `xxhash64(vec_id)`-
    * keyed (deterministic, no order dependence); subspaces train in
    * parallel threads; ties and empty clusters resolve to
    * lowest-index/previous-center, so the result is reproducible
    * bit-for-bit. */
  /** Hash-sampled, L2-normalized driver-side slice of a candidate
    * frame — the bounded training set every statistics-sized model
    * (PQ codebooks, OPQ rotation) fits on. Deterministic: the slice is
    * keyed on `xxhash64(vec_id)`, not partition order. */
  private[graft] def pqSamplePoints(cand: DataFrame,
                                    sampleCap: Int = 16384,
                                    normalize: Boolean = true): Array[Array[Double]] = {
    val n = cand.count()
    val every = math.max(1L, n / sampleCap)
    val slice = if (every == 1L) cand
      else cand.where(pmod(xxhash64(col("vec_id")), lit(every)) === 0)
    slice.select(col("e")).collect()
      .map { r =>
        val e = r.getSeq[Double](0).toArray
        if (!normalize) e
        else {
          val n0 = math.sqrt(e.map(x => x * x).sum)
          val nrm = if (n0 > 0) n0 else 1.0
          e.map(_ / nrm)
        }
      }
  }

  private[graft] def pqFitBooks(cand: DataFrame, m: Int, kSub: Int,
                                sub: Int, sampleCap: Int = 16384,
                                maxIter: Int = 20): Array[Array[Array[Double]]] =
    pqFitBooksLocal(pqSamplePoints(cand, sampleCap), m, kSub, sub, maxIter)

  /** Seeded per-subspace Lloyd fit over an in-memory (already
    * normalized) point set — split from `pqFitBooks` so the OPQ
    * alternation can refit codebooks against re-rotated points without
    * re-collecting the sample; `coarseFitSample` runs it as one
    * subspace of full width. Subspaces train in parallel and each
    * ASSIGNMENT pass runs in point chunks, both on the caller's
    * fork-join pool (the common pool from a plain thread), so a single
    * full-width subspace is multi-core too. Bit-reproducible
    * whatever the parallelism: a point's argmin reads only its own
    * row (no floating-point sum crosses points) and the center UPDATE
    * accumulates sequentially in point order. */
  private[graft] def pqFitBooksLocal(pts: Array[Array[Double]], m: Int,
                                     kSub: Int, sub: Int,
                                     maxIter: Int = 20): Array[Array[Array[Double]]] = {
    val chunk = 1024
    def fitSub(j: Int): Array[Array[Double]] = {
      val xs = pts.map(p => java.util.Arrays.copyOfRange(p, j * sub, (j + 1) * sub))
      val k = math.min(kSub, xs.length)
      val rnd = new scala.util.Random(42L + j)
      val cents = Array.tabulate(k)(_ => new Array[Double](sub))
      // seeded init: k distinct sample indices
      val idx = rnd.shuffle(xs.indices.toVector).take(k)
      for (c <- 0 until k) System.arraycopy(xs(idx(c)), 0, cents(c), 0, sub)
      val assign = new Array[Int](xs.length)
      // assign points [lo, lo + chunk) to their nearest center; 1 when one moved
      def assignChunk(lo: Int, first: Boolean, cN2: Array[Double]): Int = {
        var moved = 0
        var i = lo
        val hi = math.min(xs.length, lo + chunk)
        while (i < hi) {
          val x = xs(i)
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var dotXC = 0.0
            var t = 0
            while (t < sub) { dotXC += x(t) * cents(c)(t); t += 1 }
            val d = cN2(c) - 2.0 * dotXC
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          if (assign(i) != best || first) { assign(i) = best; moved = 1 }
          i += 1
        }
        moved
      }
      var iter = 0
      var moved = true
      while (iter < maxIter && moved) {
        val first = iter == 0
        val cN2 = cents.map(c => c.map(v => v * v).sum)
        // sum, not anyMatch: every chunk must run
        moved = java.util.stream.IntStream.range(0, (xs.length + chunk - 1) / chunk).parallel()
          .map(ch => assignChunk(ch * chunk, first, cN2)).sum() > 0
        if (moved) {
          val sums = Array.tabulate(k)(_ => new Array[Double](sub))
          val counts = new Array[Int](k)
          var i = 0
          while (i < xs.length) {
            val c = assign(i); counts(c) += 1
            var t = 0
            while (t < sub) { sums(c)(t) += xs(i)(t); t += 1 }
            i += 1
          }
          var c = 0
          while (c < k) {
            if (counts(c) > 0) {
              var t = 0
              while (t < sub) { cents(c)(t) = sums(c)(t) / counts(c); t += 1 }
            } // empty cluster: keep the previous center (deterministic)
            c += 1
          }
        }
        iter += 1
      }
      cents
    }
    val books = new Array[Array[Array[Double]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach(j => books(j) = fitSub(j))
    books
  }

  /** One query's ADC lookup table: lut[off_j + c] =
    * (q_j · centroid_{j,c}) / |q|, so a candidate's Σ_j lut[off_j +
    * code_j] (`adcScore`) estimates the cosine directly. */
  private def pqLut(qe: Array[Double], books: Array[Array[Array[Double]]],
                    sub: Int): Seq[Double] = {
    val n0 = math.sqrt(qe.map(x => x * x).sum)
    val nrm = if (n0 > 0) n0 else 1.0
    for (j <- books.indices; c <- books(j).indices) yield {
      var s = 0.0
      var t = 0
      while (t < sub) { s += qe(j * sub + t) * books(j)(c)(t); t += 1 }
      s / nrm
    }
  }

  /** Σ_j lut[off_j + codes_j]: m array lookups + adds per candidate.
    * Codebook sizes come from the fitted books, so offsets are
    * cumulative, not a fixed stride. */
  private def adcScore(books: Array[Array[Array[Double]]]): Column = {
    val offs = books.map(_.length).scanLeft(0)(_ + _)
    books.indices.map(j =>
      element_at(col("lut"),
        element_at(col("codes"), j + 1) + lit(offs(j)) + 1)).reduce(_ + _)
  }

  /** A built or loaded PQ-family index — FAISS `index_factory` in one
    * value: the driver-held codebooks plus the distributed codes frame
    * `(vid, codes: array<int>[, list_id])` (the corpus never appears in
    * float form after the encode pass), with two optional layers:
    *   - `rot`, an OPQ pretransform (row-major dim×dim) every vector
    *     and query rides before it touches the books;
    *   - `centroids`, an IVF coarse layer (`IVF{n},PQ{m}`, Jégou 2011
    *     §IV, FAISS's workhorse for billion-vector corpora): each
    *     vector routes to an inverted list and a search probes
    *     `nProbe` lists, running ADC inside them — the scan touches
    *     nProbe/nList of the corpus at m bytes per row. Codes are
    *     global-codebook (the FAISS `by_residual=false` inner-product
    *     configuration — residual coding helps L2, not cosine).
    * `sub` is the subspace width (recoverable from any centroid,
    * carried for convenience). */
  final case class PqIndex(books: Array[Array[Array[Double]]], sub: Int, coded: DataFrame,
                           rot: Option[Array[Double]],
                           centroids: Option[Array[(Int, Array[Double])]]) {
    def dim: Int = books.length * sub
    def nList: Int = centroids.fold(0)(_.length)
    def release(): Unit = coded.unpersist(blocking = false)
  }

  /** Fit + encode a corpus `(vec_id, embedding)` into a `PqIndex` —
    * FAISS `train` + `add`, with the factory string spelled as
    * arguments: `PQ{m}` by default, `opq = true` for `OPQ{m},PQ{m}`,
    * `nList > 0` for `IVF{nList},PQ{m}`, both for OPQ,IVF,PQ. The
    * rotation comes from the `opqFitLocal` alternation on a bounded
    * driver sample (`iters` rounds). A flat OPQ index keeps the
    * alternation's books; every other form fits its books on the
    * (rotated) corpus sample — with an IVF layer the alternation's
    * books are only its fitting scaffold. `sampleFit` picks the coarse
    * fit exactly as in `ivfBuild` (same tradeoff and dial-invariance
    * argument); the codebooks fit on a driver sample either way. */
  def pqBuild(vecs: DataFrame, m: Int = 16, kSub: Int = 256, nList: Int = 0,
              opq: Boolean = false, iters: Int = 8,
              sampleFit: Boolean = false): PqIndex = {
    val base = vecE(vecs)
    val dim = base.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val fitted = if (opq) Some(opqFitLocal(pqSamplePoints(base), m, kSub, sub, iters)) else None
    val space = vecE(inSpace(vecs, fitted.map(_._1)))
    val books = fitted match {
      case Some((_, opqBooks)) if nList == 0 => opqBooks
      case _ => pqFitBooks(space, m, kSub, sub)
    }
    val (cents, listed) =
      if (nList > 0) { val (c, l) = coarseLists(space, nList, sampleFit); (Some(c), l) }
      else (None, space)
    val coded = listed.select(Seq(col("vec_id").as("vid"), pqEncode(books, sub)) ++
        cents.map(_ => col("list_id")): _*)
      .persist(MEMORY_AND_DISK)
    coded.count()
    PqIndex(books, sub, coded, fitted.map(_._1), cents)
  }

  /** `PqEncode` over the `e` column: one tight generated loop per row,
    * independent of kSub (a struct-array-sort formulation at kSub=256
    * would exceed codegen method limits and fall back interpreted). */
  private def pqEncode(books: Array[Array[Array[Double]]], sub: Int): Column =
    graft.functions.Pq.encode(col("e"), books.flatMap(_.flatMap(_.toSeq)),
      books.map(_.length), sub).as("codes")

  /** Persist a PQ-family index — `books/` (m·kSub rows, metadata-sized),
    * `rot/` and `centroids/` when it has those layers, and the `codes/`
    * table that IS the index, partitioned by `list_id` under an IVF
    * layer for probe-time partition pruning (`writeRows`). The FAISS
    * write_index analog; the directory set is how `StoreLayout`
    * recognizes the tier. */
  def pqSave(index: PqIndex, path: String): Unit = {
    val spark = index.coded.sparkSession
    saveBooks(spark, index.books, path)
    index.rot.foreach(saveRot(spark, _, index.dim, path))
    index.centroids.foreach(saveCentroids(spark, _, path))
    writeRows(index.coded, s"$path/codes", "overwrite")
  }

  /** Rebuild a `PqIndex` from `pqSave` output (`StoreLayout.Pq.load`):
    * bounded metadata reads, the codes scan lazy + persisted.
    * Search-after-reload equals search-after-build (`PqSpec` pins it). */
  def pqLoad(spark: SparkSession, path: String): PqIndex =
    StoreLayout.pq(spark, path).load(spark, path)

  /** Mean squared reconstruction error of `books` over an in-memory
    * normalized point set — the quantity the Lloyd fit minimizes,
    * reported per point (sum across the m subspaces). */
  private def pqDistortionOf(books: Array[Array[Array[Double]]], sub: Int,
                             pts: Array[Array[Double]]): Double = {
    val m = books.length
    var total = 0.0
    pts.foreach { p =>
      var j = 0
      while (j < m) {
        val off = j * sub
        var best = Double.PositiveInfinity
        books(j).foreach { c =>
          var d = 0.0
          var t = 0
          while (t < sub) { val df = p(off + t) - c(t); d += df * df; t += 1 }
          if (d < best) best = d
        }
        total += best
        j += 1
      }
    }
    total / pts.length
  }

  /** Driver-side points rotated by a row-major `rot`; as is without one. */
  private def rotatePts(rot: Option[Array[Double]],
                        pts: Array[Array[Double]]): Array[Array[Double]] =
    rot.fold(pts) { r =>
      val dim = math.sqrt(r.length.toDouble).toInt
      pts.map(x => Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += r(i * dim + j) * x(j); j += 1 }
        s
      })
    }

  /** Codebook distortion of an index on a vector frame: MSE of the
    * books' reconstructions (behind the index's rotation) over a
    * deterministic bounded sample, L2-normalized like the fit itself,
    * so the number is scale-free and comparable across corpora and
    * batches. Driver-side on ≤ sampleCap points — the audit costs what
    * the fit costs, never anything corpus-sized. */
  def pqDistortion(index: PqIndex, vecs: DataFrame,
                   sampleCap: Int = 2048): Double = {
    val pts = pqSamplePoints(vecE(vecs), sampleCap)
    require(pts.nonEmpty, "pqDistortion needs a non-empty vector frame")
    pqDistortionOf(index.books, index.sub, rotatePts(index.rot, pts))
  }

  /** The one drift rule for every PQ-family store: distortion of the
    * FROZEN books (behind the frozen rotation, if any) on a sample of
    * a recent batch, over the distortion a fresh fit at the store's own
    * (m, kSub) achieves on the same sample — fresh books, or the whole
    * `opqFitLocal` alternation for a rotated store. ≈1 while the
    * distribution the books were trained on still holds; grows as the
    * feed drifts — the PQ tiers' `ivfSkew` (IVF drift shows up as list
    * occupancy, PQ drift as quantization error: the codebooks are a
    * density model of the feed). The sample must hold more points than
    * kSub: a fresh fit takes min(kSub, points) centroids from distinct
    * picks, so on a smaller sample it memorises every point, its
    * distortion is 0 and no ratio means anything. Bounded: metadata
    * reads + one sample fit, nothing corpus-sized. */
  def pqDriftRatio(spark: SparkSession, path: String, recent: DataFrame,
                   sampleCap: Int = 2048): Double = {
    val ((books, sub), rot, _) = StoreLayout.pq(spark, path).tables(spark, path)
    val (m, kSub) = (books.length, books.map(_.length).max)
    val pts = pqSamplePoints(vecE(recent), sampleCap)
    require(pts.length > kSub, s"drift sample of ${pts.length} points is not larger " +
      s"than the store's kSub = $kSub: fresh books would memorise it")
    val frozen = pqDistortionOf(books, sub, rotatePts(rot, pts))
    val fresh = rot match {
      case None => pqDistortionOf(pqFitBooksLocal(pts, m, kSub, sub), sub, pts)
      case Some(_) =>
        val (fRot, fBooks) = opqFitLocal(pts, m, kSub, sub)
        pqDistortionOf(fBooks, sub, rotatePts(Some(fRot), pts))
    }
    if (fresh <= 0.0) { if (frozen <= 0.0) 1.0 else Double.PositiveInfinity }
    else frozen / fresh
  }

  /** Refit-on-drift for every PQ-family store. PQ codes are LOSSY
    * (unlike IVF lists, which `ivfRebalance` reconstructs exactly), so
    * retraining on reconstructions would compound quantization error:
    * the rebuild re-encodes from the caller's SOURCE corpus, the system
    * of record every training pipeline keeps anyway, at the store's own
    * (m, kSub), rotation and coarse layer. It fires when the drift rule
    * (`pqDriftRatio` on `recent`) exceeds `maxRatio` or, for stores
    * with an IVF layer, on either occupancy signal: skew above
    * `maxSkew` (a drifted feed skews the lists AND degrades the books,
    * but either alone warrants the rebuild — a within-region density
    * shift moves distortion without touching occupancy), or growth —
    * with `targetClusterRows` set, mean occupancy past 2× the target
    * (the `maintainIndex` rule: frozen nList means probe cost grows
    * with the store), the new generation then getting
    * nList = ⌈store / targetClusterRows⌉. The cheap occupancy gates
    * run first. On a rebuild the generation lands at `dstPath` (a new
    * path: the reader-swap contract of `IngestVectors.maintainIndex`)
    * and the result is true; otherwise nothing is written. */
  def pqMaintainIfDrifted(spark: SparkSession, path: String, recent: DataFrame,
                          corpus: DataFrame, maxRatio: Double, dstPath: String,
                          maxSkew: Double = Double.PositiveInfinity,
                          targetClusterRows: Long = 0L,
                          sampleFit: Boolean = false): Boolean = {
    require(path != dstPath,
      "refit writes a new generation; src and dst must differ")
    val ((books, _), rot, cents) = StoreLayout.pq(spark, path).tables(spark, path)
    val nList = cents.fold(0)(_.length)
    val (skew, rows) =
      if (nList > 0) occupancy(ivfPqListStats(spark, path), nList) else (1.0, 0L)
    val target = nList > 0 && targetClusterRows > 0L
    val grown = target && rows.toDouble / nList > 2.0 * targetClusterRows
    if (grown || skew > maxSkew || pqDriftRatio(spark, path, recent) > maxRatio) {
      val k =
        if (target) math.max(nList, math.ceil(rows.toDouble / targetClusterRows).toInt)
        else nList
      val idx = pqBuild(corpus, books.length, books.map(_.length).max, k,
        opq = rot.isDefined, sampleFit = sampleFit)
      try pqSave(idx, dstPath) finally idx.release()
      true
    } else false
  }

  /** ADC top-k over a PQ-family index for an external query frame
    * `(vec_id, embedding)` — the serving half of the lifecycle. Queries
    * are the bounded tiny side by contract (the `cosineTopK`
    * discipline): they ride the index's rotation and the driver
    * computes each one's lookup table (`pqLut`). Flat, every code
    * scores against every query (one broadcast). With an IVF layer each
    * query probes its `nProbe` nearest lists (`probeTopLists`: max
    * query·centroid, ties to the lower list id) and only those lists'
    * codes join the broadcast probes on `list_id` — nothing but probed
    * lists' codes is ever read. A candidate's score is m LUT lookups +
    * adds (`adcScore`). */
  def pqSearch(index: PqIndex, queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val spark = index.coded.sparkSession
    import spark.implicits._
    val q = vecE(inSpace(queries, index.rot)).orderBy("vec_id").collect().toSeq
      .map { r =>
        val qe = r.getSeq[Double](1)
        (r.getLong(0), qe, pqLut(qe.toArray, index.books, index.sub))
      }.toDF("qid", "qe", "lut")
    val cand = index.centroids.fold(index.coded.crossJoin(broadcast(q.drop("qe"))))(cents =>
      index.coded.join(broadcast(probeTopLists(q, Seq("qid", "lut"), cents, nProbe)),
        Seq("list_id")))
    rankTop(cand.select(col("qid"), col("vid"), adcScore(index.books).as("score")), k)
  }

  // ---------------------------------------------------------------- OPQ

  /** OPQ rotation fit (Ge et al., CVPR 2013, the non-parametric
    * alternation; FAISS `OPQ{m}` pretransform): alternate (a) PQ
    * codebook fit on the rotated sample with (b) an orthogonal
    * Procrustes solve aligning the rotated points to their PQ
    * reconstructions. Column convention: the returned row-major `A`
    * is the transform actually applied, `y = A·x`; the Procrustes
    * step maximizes `tr(A·B)` with `B = Σ x·x̂ᵀ`, so `A = V·Uᵀ` from
    * `B = U·S·Vᵀ` (breeze SVD on a dim×dim matrix — driver-trivial).
    * Everything is seeded/deterministic like `pqFitBooksLocal`.
    *
    * Returns the rotation and the codebooks fitted against the FINAL
    * rotation, ready for `PqEncode` over `MatVec`-rotated vectors. */
  private[graft] def opqFitLocal(pts: Array[Array[Double]], m: Int,
                                 kSub: Int, sub: Int, iters: Int = 8,
                                 maxIter: Int = 20)
      : (Array[Double], Array[Array[Array[Double]]]) = {
    val dim = m * sub
    var a: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    def applyA(x: Array[Double]): Array[Double] = {
      val y = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0; var j = 0
        while (j < dim) { s += a(i)(j) * x(j); j += 1 }
        y(i) = s; i += 1
      }
      y
    }
    // nearest-centroid reconstruction of one rotated point (the
    // driver-side mirror of PqEncode + decode)
    def recon(books: Array[Array[Array[Double]]], x: Array[Double]): Array[Double] = {
      val y = new Array[Double](dim)
      var j = 0
      while (j < m) {
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < books(j).length) {
          val cent = books(j)(c)
          var d = 0.0; var t = 0
          while (t < sub) {
            val dv = x(j * sub + t) - cent(t); d += dv * dv; t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        System.arraycopy(books(j)(best), 0, y, j * sub, sub)
        j += 1
      }
      y
    }
    var books: Array[Array[Array[Double]]] = null
    // alternation steps only need codebooks good enough to steer the
    // Procrustes solve — run them at a third of the Lloyd budget and
    // spend the full budget once, on the final fit (FAISS OPQ trains
    // its intermediate ProductQuantizers with reduced niter the same
    // way); measured 8.7 s → ~4 s per 16 k-sample fit at equal recall
    val innerIter = math.max(4, maxIter / 3)
    // per-point work (rotation apply, nearest-centroid reconstruction)
    // parallelizes across the sample with one array slot per index —
    // no reduction, so results are BIT-IDENTICAL to the sequential
    // loop; the B accumulation below stays sequential because its
    // floating-point sum order is part of the deterministic contract
    def parTab(n: Int)(f: Int => Array[Double]): Array[Array[Double]] = {
      val out = new Array[Array[Double]](n)
      java.util.stream.IntStream.range(0, n).parallel()
        .forEach(i => out(i) = f(i))
      out
    }
    var it = 0
    while (it < iters) {
      val rot = parTab(pts.length)(i => applyA(pts(i)))
      books = pqFitBooksLocal(rot, m, kSub, sub,
        if (it < iters - 1) innerIter else maxIter)
      if (it < iters - 1) {
        val bks = books
        val xhs = parTab(pts.length)(i => recon(bks, rot(i)))
        val b = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        var n = 0
        while (n < pts.length) {
          val x = pts(n)
          val xh = xhs(n)
          var i = 0
          while (i < dim) {
            val xi = x(i)
            if (xi != 0.0) {
              var j = 0
              while (j < dim) { b(i, j) += xi * xh(j); j += 1 }
            }
            i += 1
          }
          n += 1
        }
        val svd = breeze.linalg.svd(b)
        val aNew = svd.Vt.t * svd.U.t // A = V·Uᵀ maximizes tr(A·B)
        a = Array.tabulate(dim, dim)((i, j) => aNew(i, j))
      }
      it += 1
    }
    (a.flatten, books)
  }

  /** One-call OPQ top-k on an `(vec_id, embedding)` frame — the OPQ
    * counterpart of `pqTopK` (queries = ids below `nQueries`,
    * `selfQuery`). */
  def opqTopK(emb: DataFrame, nQueries: Int, k: Int, m: Int = 16,
              kSub: Int = 256, iters: Int = 8): DataFrame =
    selfQuery(emb, nQueries)(pqBuild(_, m, kSub, opq = true, iters = iters))(_.release())(
      (index, _, qs) => pqSearch(index, qs, k))

  def opqTopKRefine(emb: DataFrame, nQueries: Int, k: Int, m: Int = 16,
                    kSub: Int = 256, refine: Int = 8,
                    iters: Int = 8): DataFrame =
    exactRerank(opqTopK(emb, nQueries, k * refine, m, kSub, iters)
      .select("qid", "vid"), emb, emb.where(col("vec_id") < nQueries), k)

  /** One-shot IVF,PQ top-k (the driver-query form, `selfQuery`): build
    * on the candidate corpus, search the query slice, release. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, nList: Int = 8,
                nProbe: Int = 2, m: Int = 16, kSub: Int = 256): DataFrame =
    selfQuery(emb, nQueries)(pqBuild(_, m, kSub, nList))(_.release())(
      (index, _, qs) => pqSearch(index, qs, k, nProbe))

  /** PQ + exact re-rank: ADC retrieves `k × refine` candidates, the
    * float store re-scores only those (the `PQ8,RefineFlat` composite).
    * Same repair economics as `ivfSearchSq8Refine` — the refine join
    * touches k·refine rows per query. */
  def pqTopKRefine(emb: DataFrame, nQueries: Int, k: Int,
                   m: Int = 16, kSub: Int = 256, refine: Int = 8): DataFrame =
    exactRerank(pqTopK(emb, nQueries, k * refine, m, kSub).select("qid", "vid"),
      emb, emb.where(col("vec_id") < nQueries), k)

  /** List occupancy of a saved IVF,PQ or OPQ,IVF,PQ store, empty lists
    * included — `ivfListStats` read straight off the partitioned codes
    * (the partition column IS the group key). */
  def ivfPqListStats(spark: SparkSession, path: String): DataFrame =
    listStats(spark.read.parquet(s"$path/codes"), loadCentroids(spark, path).map(_._1).toSeq)


  /** Shared RefineFlat second stage: exact float cosine over the
    * bounded (qid, vid) candidate frame — k·refine rows per query, one
    * equi-join to the float store, one broadcast of the query side. */
  private def exactRerank(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int): DataFrame =
    rankTop(cand.join(vecFrame(corpus, "vid", "ve", "vn"), Seq("vid"))
      .join(broadcast(vecFrame(queries, "qid", "qe", "qn")), Seq("qid"))
      .select(col("qid"), col("vid"), cosine("qe", "qn", "ve", "vn").as("score")), k)

  /** LSH-bucketed embedding near-duplicate pairs — the scale path for
    * `cosineNearDupPairs`: pairs form only within sign-LSH buckets
    * (shuffle on bucket key), then the exact cosine threshold verifies.
    * Recall bounded by bucket collisions of true near-dups (near-dup
    * vectors agree on most sign bits).
    *
    * Scale guidance: size `nBits ≈ log2(N) − log2(targetBucketRows)` so
    * the per-bucket self-join stays linear — 6 bits suits the 5k-row
    * testdata; a 10⁹-vector corpus wants ~20 bits (or multi-table
    * probing for recall, the simhashPairs block-combination pattern). */
  def lshNearDupPairs(emb: DataFrame, threshold: Double, nBits: Int = 6): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .withColumn("bucket", bucketKey(col("e"), nBits))
    val a = base.select(col("bucket"), col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
    val b = base.select(col("bucket"), col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .select("a", "b")
      .orderBy("a", "b")
  }

  /** SemDeDup-style cluster-scoped embedding near-duplicate pairs
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means cluster the
    * corpus, then compare pairs ONLY within a cluster — the all-pairs
    * join shrinks from N²/2 to Σ|cluster|²/2, and at scale each
    * cluster's self-join is an independent shuffle partition (join key
    * = list_id). Reuses the IVF coarse quantizer (`ivfBuild`, seeded
    * KMeans → deterministic), so the clustering cost is shared with
    * the ANN index when both are needed.
    *
    * Recall is bounded by true near-dup pairs straddling a cluster
    * boundary; semantically near-identical vectors (the high-threshold
    * regime SemDeDup targets) quantize to the same centroid almost
    * always — `SemDedupSpec` pins measured recall against the exact
    * all-pairs baseline (`cosineNearDupPairs`). Size nClusters ≈
    * N/targetClusterRows; a pathologically hot cluster can recurse
    * (re-cluster its members) without changing the interface.
    *
    * Cluster sizing is THE scale knob: candidates ≈ nAssign² × N ×
    * targetClusterRows / 2, linear in N for fixed cluster rows.
    * Measured at sf1 (20 k planted-cluster vectors): clusterRows=2000
    * left 77.4 M candidates (only 2.6× under all-pairs) where
    * clusterRows=200 gives 9.3 M (21.5× under) and a 2.9× faster pair
    * scan. Finer clustering loses boundary PAIRS (0.60 pair-level vs
    * the coarse run) but barely any DROPPED DOCS — drop-set agreement
    * measured 0.980, because a duplicate doc is caught via any
    * surviving pair (SCALE.md "Round 4: curation family + SemDeDup
    * cluster sizing" records both). Target a few hundred
    * rows/cluster at corpus scale, never thousands.
    *
    * The per-call index is released in `finally`: the returned frame
    * stays correct (the plan re-derives assignments from the
    * driver-held fit model — a cheap projection; the KMeans FIT never
    * re-runs), it just isn't served from cache. Long-lived callers
    * should hold an `ivfBuild` index and pass it to the 2-arg form. */
  def semDedupPairs(emb: DataFrame, nClusters: Int, threshold: Double): DataFrame = {
    val index = ivfBuild(emb, nClusters)
    try semDedupPairs(index, threshold)
    finally index.release()
  }

  /** Corpus-adaptive sizing: nClusters = max(8, N / targetClusterRows),
    * so the candidate volume stays ≈ nAssign² × N × targetClusterRows/2
    * at ANY corpus size instead of silently degrading toward all-pairs
    * as the corpus outgrows a hardcoded cluster count (the measured
    * failure mode: 8 clusters over 20 k vectors left 77 M candidates —
    * 2.6× under all-pairs — where N/200 sizing gives 21.5× under with
    * drop-set agreement 0.98). Costs one `count()` of the corpus.
    *
    * Past the flat form's plan-width boundary the call switches to the
    * product-key blocking automatically: a single k=1000 KMeans plus a
    * 1000-column assignment projection measured 131 s at 200 k vectors
    * where two k=32 fits with 64 columns give the same ~1,000 cells —
    * so k > `widthCap` routes to `semDedupPairsPQ(kPerHalf = ⌈√k⌉)`. */
  def semDedupPairsAuto(emb: DataFrame, threshold: Double,
                        targetClusterRows: Long = 200L,
                        widthCap: Int = 512,
                        knownCount: Option[Long] = None): DataFrame = {
    val k = autoK(emb, targetClusterRows, knownCount)
    if (k <= widthCap) semDedupPairs(emb, k, threshold)
    else semDedupPairsPQ(emb, threshold,
      kPerHalf = math.ceil(math.sqrt(k.toDouble)).toInt)
  }

  /** Corpus-adaptive cluster count; `knownCount` lets callers that
    * already hold the corpus size (repeated-call drivers; the sizing
    * campaign in SCALE.md "Round 4: curation family + SemDeDup cluster
    * sizing") skip the sizing `count()` scan. */
  private def autoK(emb: DataFrame, targetClusterRows: Long,
                    knownCount: Option[Long]): Int =
    math.max(8L, knownCount.getOrElse(emb.count()) / targetClusterRows).toInt

  /** Cluster-scoped near-dup pairs over an already-built index.
    *
    * `nAssign = 2`: each vector joins its 2 nearest clusters, not just
    * its own — the standard recall repair for pairs straddling a
    * cluster boundary (the same idea as `ivfSearch`'s nProbe, applied
    * symmetrically to the corpus). Measured on the driver testdata at
    * threshold 0.4: single-assignment recall 0.50 vs exact all-pairs;
    * nAssign=2 recovers the boundary pairs (SemDedupSpec pins ≥ 0.8).
    * Cost: 2× candidate rows, same per-cluster join shape.
    *
    * The 2nd-nearest centroid is computed as a PROJECTION: per-row
    * distances to every centroid unroll into codegen'd DotProduct
    * columns (centroids are driver-held and tiny — the KMeans model
    * itself is a driver object), then one small array_sort picks the
    * top `nAssign`. No N×nClusters row blow-up, no extra shuffle —
    * the alternative (cross-join against the centroid frame + window
    * per vid) would shuffle nClusters× the corpus. For very large
    * nClusters (≳10³) recurse hierarchically instead of widening the
    * plan. */
  def semDedupPairs(index: IvfIndex, threshold: Double, nAssign: Int = 2): DataFrame =
    pairsFromCells(flatCells(index, nAssign), threshold)

  /** Cell assignment for the flat (single-quantizer) form: each vector
    * lands in its `nAssign` nearest clusters → (gid, vid, e, nrm) rows,
    * nAssign per vector. See `semDedupPairs(index, ...)` for the
    * projection-not-join rationale. */
  private def flatCells(index: IvfIndex, nAssign: Int): DataFrame = {
    val cents: Array[(Int, Seq[Double])] =
      index.centroids.map { case (i, c) => (i, c.toSeq) }
    val ranked = cents.map { case (i, c) =>
      val cArr = typedLit(c)
      val c2 = c.map(x => x * x).sum
      // euclidean d2 = |x|² − 2·x·c + |c|²; struct ordering sorts by
      // d2 first, centroid id breaks exact ties deterministically
      struct((col("cn") * col("cn") - lit(2.0) * dot(col("ce"), cArr) + lit(c2)).as("d2"),
        lit(i).as("cl"))
    }
    index.assigned
      .withColumn("s", explode(slice(array_sort(array(ranked.toIndexedSeq: _*)), 1, nAssign)))
      .select(col("s.cl").as("gid"), col("vid"), col("ce").as("e"), col("cn").as("nrm"))
  }

  /** All verified within-cell pairs: the within-cell self-join with the
    * exact full-vector cosine check. A pair can share both of its ends'
    * assigned cells — `distinct` emits it once. */
  private def pairsFromCells(cells: DataFrame, threshold: Double): DataFrame = {
    val a = cells.select(col("gid"), col("vid").as("a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = cells.select(col("gid"), col("vid").as("b"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("gid"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .select("a", "b").distinct()
      .orderBy("a", "b")
  }

  /** Two-level SemDeDup blocking — the path past the flat form's
    * plan-width boundary (k ≳ 10³ unrolled distance columns): the cell
    * key is the PRODUCT of two independent coarse quantizers fit on
    * the two halves of the embedding, giving k² effective cells for
    * only 2k unrolled columns (k=32 → 1,024 cells from 64 columns;
    * k=1024 → a million cells from 2,048 — enough that a 10⁹-vector
    * corpus keeps ~10³-row cells without a driver-side loop of
    * per-cell re-clustering). Near-identical vectors quantize
    * identically in BOTH halves, so true near-dup pairs stay
    * co-celled; `nAssign` nearest cells PER HALF repairs boundary
    * pairs (a pair escapes only if it straddles in a half where
    * neither end's second-nearest covers it). Precision stays 1.0 —
    * every candidate passes the exact full-vector cosine check.
    * Each vector lands in nAssign² cells (4 at the default), the
    * same candidate multiplier as the flat form's nAssign=2.
    *
    * The per-half argmin drops the |h|² term: it is constant per row,
    * so ranking by −2·h·c + |c|² picks the same centroid with one
    * fewer dot product per column. */
  def semDedupPairsPQ(emb: DataFrame, threshold: Double, kPerHalf: Int = 32,
                      nAssign: Int = 2): DataFrame =
    pairsFromCells(pqCells(emb, kPerHalf, nAssign), threshold)

  /** Cell assignment for the product-key form: two independent
    * per-half quantizers; gid = cl₁ × kPerHalf + cl₂; each vector lands
    * in nAssign² cells. See `semDedupPairsPQ` for the width rationale. */
  private def pqCells(emb: DataFrame, kPerHalf: Int, nAssign: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val dim = base.select(size(col("e"))).head().getInt(0)
    val half = dim / 2
    def fitHalf(lo: Int, len: Int, seed: Long): Array[Seq[Double]] = {
      val vecs = base.select(slice(col("e"), lo, len).as("h"))
        .withColumn("features", array_to_vector(col("h")))
      new KMeans().setK(kPerHalf).setSeed(seed).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("cl").fit(vecs)
        .clusterCenters.map(_.toArray.toSeq)
    }
    val cents1 = fitHalf(1, half, 42L)
    val cents2 = fitHalf(half + 1, dim - half, 43L)
    def rankedCells(cents: Array[Seq[Double]], h: Column): Column = {
      val structs = cents.zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(h, typedLit(c))).as("d2"),
          lit(i).as("cl"))
      }
      slice(array_sort(array(structs.toIndexedSeq: _*)), 1, nAssign)
    }
    base
      .withColumn("s1", explode(rankedCells(cents1, slice(col("e"), 1, half))))
      .withColumn("s2", explode(rankedCells(cents2, slice(col("e"), half + 1, dim - half))))
      .select((col("s1.cl") * kPerHalf + col("s2.cl")).as("gid"),
        col("vec_id").as("vid"), col("e"), col("nrm"))
  }

  /** Embedding-cosine near-duplicate pairs over a bounded id range
    * (correctness slice; the scale path is `lshNearDupPairs`). The
    * scope releases the persisted normalized vectors both join sides
    * read. */
  def cosineNearDupPairs(emb: DataFrame, maxId: Long,
                         threshold: Double): Scoped[DataFrame] = {
    val base = emb.where(col("vec_id") < maxId)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .persist(MEMORY_AND_DISK)
    val a = base.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
    Scoped(a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .select("a", "b")
      .orderBy("a", "b"))(base.unpersist(blocking = false))
  }
}
