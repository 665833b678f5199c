package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Offline maintenance for the at-least-once parquet stores the
  * streaming ingest loops grow (kept docs, IVF lists, signature
  * stores): a replayed micro-batch appends rows that are BIT-IDENTICAL
  * to the originals (deterministic gates, frozen quantizers), so
  * compaction is "keep one row per key" — any survivor is THE row.
  *
  * The rewrite is staged: write the deduped store to `<path>.compact`,
  * verify its row count, then delete-and-rename. A reader never sees a
  * half-written store; a crash between delete and rename leaves the
  * complete `<path>.compact` on disk for recovery (the same documented
  * crash window as the CMS store's generation prune — on an object
  * store, swap via its own atomic rename/copy primitive). Run it
  * offline, not concurrently with ingest: an append landing mid-swap
  * would be dropped with the old generation.
  */
object Stores {

  /** Rewrite `path` keeping one row per `keyCols` combination.
    * `partitionCols` reproduces the store's directory layout (e.g. the
    * IVF lists' `list_id`). Returns the row count after compaction. */
  def rewriteDeduped(spark: SparkSession, path: String,
                     keyCols: Seq[String],
                     partitionCols: Seq[String] = Nil): Long =
    rewriteWith(spark, path, _.dropDuplicates(keyCols), partitionCols)

  /** Rewrite `path` keeping, per `keyCols` combination, only the row
    * with the greatest `verCol` — the space reclaim for append-only
    * VERSIONED stores whose readers take the latest row anyway
    * (IngestLinkage's golden records). Ties keep one arbitrary row,
    * which is safe exactly when equal-version rows are bit-identical
    * (the replay contract). Keyed window, corpus-parallel. */
  def rewriteLatest(spark: SparkSession, path: String,
                    keyCols: Seq[String], verCol: String,
                    partitionCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    rewriteWith(spark, path, df =>
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(verCol).desc)))
        .where(col("__rn") === 1).drop("__rn"),
      partitionCols)
  }

  /** Keyed repartition for `partitionBy` store writes, with the
    * partition count PINNED to the session's shuffle width: a bare
    * `repartition(col)` is fair game for AQE partition coalescing,
    * which on a small batch merges the shuffle down to ONE task that
    * then creates every partition dir/file SERIALLY (measured 2.5 s of
    * a 6.5 s store rebalance at 251 buckets, round 13 — the write was
    * single-threaded, not the shuffle slow). An explicit count is
    * user-specified partitioning, exempt from coalescing, and equals
    * the pre-AQE width this code always assumed; hash partitioning
    * still lands each key in exactly one task — one file per key,
    * never tasks × cardinality slivers (the round-8 rule). */
  def writeLayout(df: org.apache.spark.sql.DataFrame,
                  cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame =
    Layout.pinWidth(df, cols: _*) // one home for session-width resolution

  /** `writeLayout` with the partition count capped by the KNOWN key
    * cardinality (`maxParts` = nBuckets / nList — every bucketed store
    * knows its geometry driver-side). Hash partitioning puts each key
    * in exactly one partition, so at most `maxParts` reducers are ever
    * non-empty: capping to it keeps the identical one-file-per-key
    * layout and identical active parallelism while dropping the
    * (width − K) EMPTY task launches a full-width pin pays on every
    * micro-batch append (round-13 verdict: ~0.2-0.4 s drift on the
    * tiny-write queries). Full-width `writeLayout` stays the right
    * call where cardinality is unknown or corpus-scale. */
  def writeLayout(df: org.apache.spark.sql.DataFrame, maxParts: Int,
                  cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame =
    df.repartition(
      math.max(1, math.min(Layout.sessionWidth(df), maxParts)), cols: _*)

  /** The most directories `memoRows` holds at once: past it the least
    * recently read entry is dropped (and re-read on its next use). */
  private[graft] val MemoDirs = 64

  // (dir → (listing stamp, schema, rows)) in access order — see
  // memoRows; every access holds the map's lock
  private val rowMemo = new java.util.LinkedHashMap[
      String, (String, org.apache.spark.sql.types.StructType,
               Array[org.apache.spark.sql.Row])](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (String,
        org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]): Boolean =
      size() > MemoDirs
  }

  /** Whether `memoRows` holds `dir` right now. */
  private[graft] def memoHolds(dir: String): Boolean =
    rowMemo.synchronized(rowMemo.containsKey(dir))

  private def listingStamp(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
  }

  /** Collect a TINY parquet dir (model meta / rules tables) with a
    * driver-side memo keyed on the dir's file listing (name:len:mtime —
    * parquet part names carry a fresh UUID per write, so ANY rewrite
    * invalidates). Per-micro-batch re-reads of an unchanged meta dir
    * then cost three filesystem calls instead of 2-3 Spark jobs each
    * (the round-14 job profile: meta bookkeeping was ~a third of the
    * per-batch actions in every store gate). Statistics-sized dirs
    * only — the rows stay on the driver until `MemoDirs` more recently
    * read dirs push them out. */
  def memoRows(spark: SparkSession, dir: String)
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) = {
    val stamp = listingStamp(spark, dir)
    val hit = rowMemo.synchronized(rowMemo.get(dir))
    // clone on every return: the memo'd array must never alias a
    // caller's copy (an in-place sort would silently corrupt every
    // later read of the cached entry)
    if (hit != null && hit._1 == stamp) return (hit._2, hit._3.clone())
    val df = spark.read.parquet(dir)
    val rows = df.collect()
    rowMemo.synchronized(rowMemo.put(dir, (stamp, df.schema, rows)))
    (df.schema, rows.clone())
  }

  /** Stamp the bucket-partition geometry INSIDE the data directory it
    * describes (`<dir>/_GEOMETRY`, a tiny text file Spark's file index
    * ignores like `_SUCCESS`). This is what makes a store re-bucket an
    * ATOMIC geometry+data cutover: the rebalancers write the marker
    * into the staged `.rebal` directory BEFORE the promote-rename, so
    * the one rename that swaps the data in also swaps the geometry in
    * — there is no window where probes prune new-geometry data with
    * old-geometry bucket ids (the round-12 silent-miss window). meta/
    * keeps an n_buckets for BOOTSTRAP only (the geometry of a store
    * whose data dir does not exist yet); once data exists, the marker
    * is authoritative and readers resolve marker-first. */
  def stampGeometry(spark: SparkSession, dir: String, nBuckets: Int): Unit = {
    val p = new Path(s"$dir/_GEOMETRY")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The geometry stamped inside `dir`, if any (absent for stores
    * created before their first stamp — callers fall back to meta/,
    * which is exactly the geometry such data was written with). */
  def readGeometry(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(s"$dir/_GEOMETRY")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](32)
        val n = in.read(buf)
        Some(new String(buf, 0, n, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Heal the rename-aside crash window on the READ path: a leftover
    * `<path>.old` with `<path>` missing means a staged swap crashed
    * between its two renames — the `.old` IS the store; rename it back
    * before probing. (The rebalancers heal this themselves on rerun;
    * healing here too means an append or probe landing before the
    * rerun sees the complete old store instead of an empty dir — and,
    * for appends, never creates a fresh dir that a later heal would
    * have to lose.) A stale `.old` alongside a live `<path>` is left
    * for the next rebalance to clear — probes stay read-mostly. */
  def healAside(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val old = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old) && !fs.exists(p))
      require(fs.rename(old, p), s"self-heal rename $old -> $p failed")
  }

  /** Read ONLY the named partition directories of a `colName=`-
    * partitioned store (`basePath` keeps the partition column in the
    * schema). A bare `read.parquet(dir)` lists ALL nBuckets partition
    * dirs before pruning — driver-side listing + footer work that
    * dominates a small probe once maintenance scales the geometry with
    * the corpus (measured 3× the whole search at 7,500 buckets,
    * SCALE.md round 12). Falls back to the full-listing read only when
    * the probe covers every bucket (equivalent, never worse). When NO
    * named dir exists (nothing hashed to the probed buckets) the read
    * stays cheap too: one top-level listStatus finds any one existing
    * partition dir and reads just it — the caller's bucket filter then
    * yields the empty result without paying the full listing the
    * function exists to avoid. Callers keep their `isin` bucket
    * filter: it is the partition filter the plan pins audit, and it
    * guards the fallback paths. */
  def bucketRead(spark: SparkSession, dir: String, colName: String,
                 buckets: Seq[Int],
                 nBuckets: Int): org.apache.spark.sql.DataFrame = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = buckets.distinct
    val reader = schemaReader(spark, dir, StructField(colName, IntegerType))
    if (want.size >= nBuckets) return reader.parquet(dir)
    val dirs = want.map(b => s"$dir/$colName=$b")
      .filter(d => fs.exists(new Path(d)))
    if (dirs.nonEmpty)
      reader.option("basePath", dir).parquet(dirs: _*)
    else {
      // none of the probed buckets has a dir: one flat listing of the
      // root (names only — no recursion, no footers) finds a stand-in
      // partition dir whose rows the caller's isin filter drops
      val one = fs.listStatus(new Path(dir)).collectFirst {
        case st if st.isDirectory &&
          st.getPath.getName.startsWith(s"$colName=") => st.getPath.toString
      }
      one match {
        case Some(d) => reader.option("basePath", dir).parquet(d)
        case None    => spark.read.parquet(dir) // no partition dirs at all
      }
    }
  }

  /** `spark.read.parquet(dir)` without its schema-inference job (one
    * Spark job per read, whatever the store size): the schema comes
    * from `footerSchema`, the inferring read is the fallback. `parts`
    * are the partition columns, as in `footerSchema`. */
  def readParquet(spark: SparkSession, dir: String, parts: StructField*)
      : org.apache.spark.sql.DataFrame =
    schemaReader(spark, dir, parts: _*).parquet(dir)

  private def schemaReader(spark: SparkSession, dir: String,
                           parts: StructField*): DataFrameReader =
    footerSchema(spark, dir, parts: _*).fold(spark.read)(spark.read.schema(_))

  /** The schema `spark.read.parquet(dir)` infers, read on the driver
    * from ONE part file's footer (Spark writes its row schema there, and
    * inference without schema merging reads one footer too), with the
    * partition columns `parts` appended — they live in directory names,
    * not in the files, so the caller names them and their type. Data
    * files are searched one directory level per partition column. None
    * when no Spark-written part file is found. */
  def footerSchema(spark: SparkSession, dir: String,
                   parts: StructField*): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    firstFile(spark, dir, parts.length).flatMap { file =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      val json = try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      json.map(j => StructType(DataType.fromJson(j).asInstanceOf[StructType].fields ++ parts))
    }
  }

  /** Whether `dir` holds committed data: a parquet part file at top
    * level or one partition dir down. Hidden entries do not count, so a
    * dir holding only `_SUCCESS` (an empty committed write), or only a
    * killed write's `_temporary/` leftovers, is no store yet — reading
    * it would fail schema inference. */
  def hasData(spark: SparkSession, dir: String): Boolean =
    firstFile(spark, dir, 1).isDefined

  // the first visible parquet file under `dir`, `depth` levels down,
  // listing directories lazily and stopping at the first hit
  private def firstFile(spark: SparkSession, dir: String, depth: Int): Option[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def walk(d: Path, depth: Int): Option[Path] =
      fs.listStatus(d).iterator.filter(st => visible(st.getPath)).flatMap { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) Iterator(st.getPath)
        else if (st.isDirectory && depth > 0) walk(st.getPath, depth - 1).iterator
        else Iterator.empty
      }.nextOption()
    if (fs.exists(root)) walk(root, depth) else None
  }

  // staged swap with every filesystem boolean CHECKED and the old
  // store renamed ASIDE before the promote (the lexRebalance
  // hardening): no crash window — or silent rename failure — leaves
  // the path without a complete readable copy somewhere (<path>,
  // <path>.old, or <path>.compact)
  private def rewriteWith(spark: SparkSession, path: String,
                          f: org.apache.spark.sql.DataFrame =>
                            org.apache.spark.sql.DataFrame,
                          partitionCols: Seq[String]): Long = {
    val p = new Path(path)
    val tmp = new Path(path + ".compact")
    val old = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old)) {
      // A leftover .old is only stale if the promote completed (path
      // exists). After a crash between rename(p->old) and rename(tmp->p)
      // the .old IS the store — heal by renaming it back instead of
      // destroying the sole complete copy.
      if (!fs.exists(p))
        require(fs.rename(old, p), s"self-heal rename $old -> $p failed")
      else
        require(fs.delete(old, true), s"could not clear stale $old")
    }
    val df0 = f(spark.read.parquet(path))
    // one balanced shuffle → one file per partition key, never
    // tasks × cardinality slivers (the round-8 partitionBy rule;
    // matters once stores carry bucket-partition columns)
    val df =
      if (partitionCols.nonEmpty)
        writeLayout(df0, partitionCols.map(
          org.apache.spark.sql.functions.col): _*)
      else df0
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    // a compaction keeps the rows' existing bucket column values, so
    // the store's stamped geometry must ride into the staged copy —
    // losing the marker would silently revert probes to meta's
    // bootstrap value after the swap
    readGeometry(spark, path).foreach(g =>
      stampGeometry(spark, tmp.toString, g))
    val n = spark.read.parquet(tmp.toString).count()
    require(fs.rename(p, old), s"rename $p -> $old failed")
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed " +
      s"(old store preserved at $old — rename back to recover)")
    require(fs.delete(old, true), s"could not delete $old")
    n
  }
}
