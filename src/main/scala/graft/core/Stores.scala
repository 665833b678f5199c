package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

/** Offline maintenance for the at-least-once parquet stores the
  * streaming ingest loops grow (kept docs, IVF lists, signature
  * stores): a replayed micro-batch appends rows that are BIT-IDENTICAL
  * to the originals (deterministic gates, frozen quantizers), so
  * compaction is "keep one row per key" — any survivor is THE row.
  *
  * Every rewrite of a store in place — compaction and the bucketed
  * stores' re-bucket — runs one staged swap (`stagedSwap`): write the
  * new store beside the old one, verify its row count, rename the old
  * store aside, promote, delete the aside copy. A reader never sees a
  * half-written store, and no crash point leaves the path without a
  * complete copy (`rebucket` walks the crash windows). This module is
  * also the one home of the bucketed stores' geometry lifecycle: the
  * `_GEOMETRY` marker, its lookup, the re-bucket and the growth rule.
  * Run rewrites offline, not concurrently with ingest: an append
  * landing mid-swap would be dropped with the old generation.
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
    * before probing. (Every staged swap heals it first on rerun;
    * healing on the read path too means an append or probe landing
    * before the rerun sees the complete old store instead of an empty
    * dir — and, for appends, never creates a fresh dir that a later
    * heal would have to lose.) A stale `.old` alongside a live `<path>` is left
    * for the next staged swap to clear — probes stay read-mostly. */
  def healAside(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val old = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old) && !fs.exists(p))
      require(fs.rename(old, p), s"self-heal rename $old -> $p failed")
  }

  /** The bucket count in force for the bucketed store `dir`: heal the
    * rename-aside crash window (`healAside`), then the `_GEOMETRY`
    * marker inside the data dir, else `bootstrap` (meta/'s n_buckets —
    * the geometry of a dir with no marker yet). Probe and append bucket
    * ids MUST come from here: the marker is atomic with the data. */
  private[graft] def geometry(spark: SparkSession, dir: String,
                              bootstrap: => Int): Int = {
    healAside(spark, dir)
    readGeometry(spark, dir).getOrElse(bootstrap)
  }

  /** Stamp `nBuckets` into `dir` unless it carries a marker already: a
    * first append creates the dir, so it records the geometry it was
    * cut with and later lookups never depend on meta/ staying in step. */
  private[graft] def stampIfAbsent(spark: SparkSession, dir: String,
                                   nBuckets: Int): Unit =
    if (readGeometry(spark, dir).isEmpty) stampGeometry(spark, dir, nBuckets)

  /** Read ONLY the named partition directories of a `colName=`-
    * partitioned store (`basePath` keeps the partition column in the
    * schema). A bare `read.parquet(dir)` lists ALL nBuckets partition
    * dirs before pruning — driver-side listing + footer work that
    * dominates a small probe once maintenance scales the geometry with
    * the corpus (measured 3× the whole search at 7,500 buckets,
    * SCALE.md round 12). A probe that covers every bucket reads every
    * partition dir, found by one listing of the root. Either way the
    * read is ONE scan whose dirs are listed here on the driver
    * (`listedRead`): Spark lists more paths than its
    * `parallelPartitionDiscoveryThreshold` (32) in a distributed job,
    * which cost a 64-task job per 64-bucket probe, more than the probe
    * itself. When NO named dir exists (nothing hashed to the probed
    * buckets) the read stays cheap too: the same root listing finds any
    * one existing partition dir and reads just it — the caller's bucket
    * filter then yields the empty result without paying the full
    * listing the function exists to avoid. Callers keep their `isin`
    * bucket filter: it is the partition filter the plan pins audit, and
    * it guards the fallback paths. */
  def bucketRead(spark: SparkSession, dir: String, colName: String,
                 buckets: Seq[Int],
                 nBuckets: Int): org.apache.spark.sql.DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = buckets.distinct
    // every partition dir under the root (names only — no recursion,
    // no footers)
    lazy val listed = fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(s"$colName=") => st.getPath
    }
    val dirs =
      if (want.size >= nBuckets) listed
      else want.map(b => fs.makeQualified(new Path(root, s"$colName=$b"))).filter(fs.exists)
    // none of the probed buckets has a dir: a stand-in partition dir,
    // whose rows the caller's isin filter drops
    val read = if (dirs.nonEmpty) dirs else listed.take(1)
    if (read.isEmpty) spark.read.parquet(dir) // no partition dirs at all
    else footerSchema(spark, dir, StructField(colName, IntegerType)).fold(
      spark.read.option("basePath", dir).parquet(read.map(_.toString): _*))(
      listedRead(spark, fs, dir, read, _))
  }

  /** One parquet scan of the partition dirs `dirs` under `base`, with
    * the store's `schema`, whose file listing is done here, one
    * `listStatus` per dir: the file index finds each dir in its status
    * cache and runs no listing of its own, however many dirs there
    * are. A refresh of the index (a write landing on a cached read's
    * path) clears the cache and lists afresh. */
  private def listedRead(spark: SparkSession, fs: FileSystem, base: String, dirs: Seq[Path],
                         schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    val cache = new FileStatusCache {
      private val leaves = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
      dirs.foreach(d => leaves.put(d, fs.listStatus(d).filter(st => st.isFile && visible(st.getPath))))
      override def getLeafFiles(p: Path) = Option(leaves.get(p))
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = leaves.put(p, files)
      override def invalidateAll(): Unit = leaves.clear()
    }
    val options = Map("basePath" -> base)
    val index = new InMemoryFileIndex(spark, dirs, options, Some(schema), cache)
    val parts = index.partitionSchema
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      nullable(StructType(schema.filterNot(f => parts.fieldNames.contains(f.name))))
        .asInstanceOf[StructType], None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options)(spark))
  }

  // `t` with every field, element and value nullable, as a file read
  // presents the data schema (Spark's own `asNullable` is internal)
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
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

  // a data file or dir, as Spark's file listing sees it: hidden names
  // (`_SUCCESS`, `_temporary`, `.crc`) are not
  private def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")

  // the first visible parquet file under `dir`, `depth` levels down,
  // listing directories lazily and stopping at the first hit
  private def firstFile(spark: SparkSession, dir: String, depth: Int): Option[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path, depth: Int): Option[Path] =
      fs.listStatus(d).iterator.filter(st => visible(st.getPath)).flatMap { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) Iterator(st.getPath)
        else if (st.isDirectory && depth > 0) walk(st.getPath, depth - 1).iterator
        else Iterator.empty
      }.nextOption()
    if (fs.exists(root)) walk(root, depth) else None
  }

  /** Re-bucket the bucketed store `dir` to `nBuckets`: recompute its
    * partition column `bCol` as `bucket`, the one rewrite behind
    * `lexRebalance`, `fuzzyRebalance` and `linkRebalance`. An absent or
    * empty `dir` is a no-op returning 0. Otherwise the full store lands
    * at `<dir>.rebal` (one file per bucket, full-width `writeLayout`)
    * WITH the new geometry stamped inside, its row count must equal the
    * old store's (a row lost in the rewrite aborts before anything is
    * touched), and the staged swap promotes it. Returns the row count.
    *
    * Crash windows, each leaving the store readable and consistent:
    *  - before the aside rename: the old store is untouched; `.rebal`
    *    is garbage the next run overwrites;
    *  - between the aside rename and the promote: `dir` is absent and
    *    `<dir>.old` holds the full old copy — the next probe or append
    *    heals it back (`geometry`), as does a rerun;
    *  - after the promote, before the caller's meta/ write: harmless —
    *    the new geometry rides INSIDE the promoted dir (`_GEOMETRY`) and
    *    lookups resolve marker-first; meta/ only refreshes the
    *    bootstrap copy.
    * The promote rename is thus the ATOMIC geometry+data cutover: no
    * crash point leaves data partitioned by one geometry while probes
    * prune it by another (the round-12 silent-miss window, closed;
    * crash-injection pinned in GeometryCutoverSpec). A store with two
    * bucketed dirs (linkage) re-buckets each on its own, so a crash
    * between them leaves both individually consistent. */
  private[graft] def rebucket(spark: SparkSession, dir: String, bCol: String,
                              bucket: org.apache.spark.sql.Column,
                              nBuckets: Int): Long = {
    healAside(spark, dir)
    if (!hasData(spark, dir)) return 0L
    val before = spark.read.parquet(dir).count()
    stagedSwap(spark, dir, ".rebal") { tmp =>
      spark.read.parquet(dir).drop(bCol).withColumn(bCol, bucket)
        .transform(writeLayout(_, org.apache.spark.sql.functions.col(bCol)))
        .write.mode("overwrite").partitionBy(bCol).parquet(tmp)
      stampGeometry(spark, tmp, nBuckets)
      val n = spark.read.parquet(tmp).count()
      require(n == before,
        s"rebucketed store lost rows ($before -> $n); aborting with the " +
          s"store untouched — $tmp left for inspection")
      n
    }
  }

  /** Growth-gated geometry maintenance of the bucketed store `dir`
    * (`lexMaintain`, `fuzzyMaintain`, `linkMaintain`): `nBuckets` is the
    * geometry in force; a store with no data keeps it. Otherwise count
    * the rows and, past the `grownBuckets` threshold, `rebalance` to
    * the grown count — steady appends pay nothing, a store grown 100×
    * pays one staged rewrite. Returns the geometry in force after the
    * call. The CHECK itself is a full count of `dir` (an O(store) scan
    * plus the all-buckets listing): wired into a per-batch maintenance
    * hook it reinstates the O(store) term the probe pruning removed, so
    * gate its cadence by the hook's batch id (e.g. `if (id % 16 == 0)`). */
  private[graft] def maintain(spark: SparkSession, dir: String, nBuckets: Int,
                              targetRowsPerBucket: Long, growFactor: Int)
                             (rebalance: Int => Long): Int = {
    require(targetRowsPerBucket > 0 && growFactor >= 1, "positive sizing")
    if (!hasData(spark, dir)) return nBuckets
    grownBuckets(spark.read.parquet(dir).count(), nBuckets,
        targetRowsPerBucket, growFactor) match {
      case Some(want) => rebalance(want); want
      case None       => nBuckets
    }
  }

  /** The growth rule: once the mean bucket of `rows` over `nBuckets`
    * exceeds `growFactor` × `targetRowsPerBucket`, ceil(rows / target)
    * buckets; None below or at the threshold. A bucket count past
    * `Int.MaxValue` fails loudly instead of wrapping. */
  private[graft] def grownBuckets(rows: Long, nBuckets: Int,
                                  targetRowsPerBucket: Long,
                                  growFactor: Int): Option[Int] =
    if (rows / nBuckets <= growFactor * targetRowsPerBucket) None
    else {
      val want = (rows - 1) / targetRowsPerBucket + 1 // rows > 0 here
      require(want <= Int.MaxValue,
        s"ceil($rows / $targetRowsPerBucket) = $want buckets overflows " +
          "Int — raise targetRowsPerBucket")
      Some(want.toInt)
    }

  // compaction: `f` over the store, the existing layout and marker kept
  private def rewriteWith(spark: SparkSession, path: String,
                          f: org.apache.spark.sql.DataFrame =>
                            org.apache.spark.sql.DataFrame,
                          partitionCols: Seq[String]): Long =
    stagedSwap(spark, path, ".compact") { tmp =>
      val df0 = f(spark.read.parquet(path))
      // one balanced shuffle → one file per partition key, never
      // tasks × cardinality slivers (the round-8 partitionBy rule)
      val df =
        if (partitionCols.nonEmpty)
          writeLayout(df0, partitionCols.map(
            org.apache.spark.sql.functions.col): _*)
        else df0
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
      // a compaction keeps the rows' bucket values, so the stamped
      // geometry must ride into the staged copy — losing the marker
      // would silently revert probes to meta's bootstrap after the swap
      readGeometry(spark, path).foreach(stampGeometry(spark, tmp, _))
      spark.read.parquet(tmp).count()
    }

  // The one staged swap behind every in-place store rewrite: heal a
  // crashed `<path>.old` back (`healAside`) or clear a stale one, run
  // `stage` into `<path><suffix>` (it returns the staged copy's
  // verified row count), then rename the old store ASIDE, promote and
  // delete the aside copy — every filesystem boolean checked, so no
  // crash or silent rename failure leaves the path without a complete
  // readable copy (<path>, <path>.old or the staged dir).
  private def stagedSwap(spark: SparkSession, path: String, suffix: String)
                        (stage: String => Long): Long = {
    val p = new Path(path)
    val tmp = new Path(path + suffix)
    val old = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healAside(spark, path)
    // a .old beside a live path is stale: its promote completed
    if (fs.exists(old)) require(fs.delete(old, true), s"could not clear stale $old")
    val n = stage(tmp.toString)
    require(fs.rename(p, old), s"rename $p -> $old failed")
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed " +
      s"(old store preserved at $old — rename back to recover)")
    require(fs.delete(old, true), s"could not delete $old")
    n
  }
}
