package graft.sources

import java.io.{BufferedInputStream, BufferedReader, InputStream, InputStreamReader}
import java.nio.ByteBuffer
import java.nio.CharBuffer
import java.nio.charset.{Charset, CodingErrorAction}
import java.util.zip.ZipInputStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distributed CSV-and-ZIP scan with per-file schema resolution
  * (SURVEY.md §2.1 S1–S3; reference: ZIP member pick
  * reports/builders/bdqueimadas_incremental.py:764-773, sniffed read
  * :651-713,884-911, bare CSV :504-548,914-949).
  *
  * Scale design: `binaryFiles` distributes one archive per task —
  * extraction, sniffing, decoding, and row parsing all run executor-side,
  * so a 100 TB corpus of ZIPs parallelizes across the cluster with no
  * driver involvement beyond file listing. Each file resolves its own
  * header (schemas drift between files — SURVEY §7 "What's hard"), and
  * the output is the union of per-file projections onto the requested
  * roles, already normalized to canonical column names.
  *
  * MEMORY CONTRACT: per-task memory is O(line), never O(member). The
  * member is decoded through a BufferedReader over the (zip) stream;
  * charset and delimiter are sniffed from a bounded 8 KB prefix via
  * mark/reset. A multi-GB member inside one archive streams through a
  * small task heap (proven by ZipLargeMemberSpec's 256 MB-heap probe).
  */
object ZipCsv {

  /** Bytes sampled for charset + delimiter sniffing. */
  val SniffBytes = 8192

  private def isTabular(name: String): Boolean = {
    val l = name.toLowerCase
    l.endsWith(".csv") || l.endsWith(".txt")
  }

  /** Name of the first `.csv`/`.txt` member by sorted name — one
    * streaming pass over entry headers, no payload read. */
  private def firstTabularName(open: () => InputStream): Option[String] = {
    val zin = new ZipInputStream(open())
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory).map(_.getName).filter(isTabular)
      .foldLeft(Option.empty[String]) {
        case (acc, n) => Some(acc.fold(n)(a => if (n < a) n else a))
      }
    finally zin.close()
  }

  /** Charset of a bounded prefix, with the reference's fallback chain
    * utf-8 → cp1252 → latin-1 (Sniff.decode semantics, prefix-based: a
    * multi-byte char truncated at the prefix edge is NOT a utf-8
    * failure — the decoder is fed with endOfInput=false). */
  private[sources] def detectCharset(prefix: Array[Byte]): String = {
    def strictOk(cs: String): Boolean = {
      val dec = Charset.forName(cs).newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = CharBuffer.allocate(prefix.length + 8)
      !dec.decode(ByteBuffer.wrap(prefix), out, false).isError
    }
    if (strictOk("UTF-8")) "UTF-8"
    else if (strictOk("windows-1252")) "windows-1252"
    else "ISO-8859-1"
  }

  /** Lenient decode of the sniff prefix for delimiter detection. */
  private def decodePrefix(prefix: Array[Byte], cs: String): String = {
    val dec = Charset.forName(cs).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val out = CharBuffer.allocate(prefix.length + 8)
    dec.decode(ByteBuffer.wrap(prefix), out, false)
    out.flip().toString
  }

  /** Sniff charset + delimiter from an 8 KB prefix (mark/reset — nothing
    * is buffered beyond the sniff window), then stream lines through a
    * BufferedReader. Mid-stream malformed bytes are replaced, not fatal:
    * the charset verdict is made on the prefix, and at scale one bad
    * byte must not kill a task. Returns (delimiter, line iterator); the
    * caller owns closing via exhaustion of the iterator. */
  private[graft] def sniffedLines(raw: InputStream): (Char, Iterator[String]) = {
    val in = new BufferedInputStream(raw, 1 << 16)
    in.mark(SniffBytes + 8)
    val prefix = in.readNBytes(SniffBytes)
    in.reset()
    val bom = prefix.length >= 3 && prefix(0) == 0xEF.toByte &&
      prefix(1) == 0xBB.toByte && prefix(2) == 0xBF.toByte
    val body = if (bom) java.util.Arrays.copyOfRange(prefix, 3, prefix.length) else prefix
    if (bom) { val skipped = in.skip(3); require(skipped == 3) }
    val cs = detectCharset(body)
    val d = Sniff.delimiter(decodePrefix(body, cs))
    val dec = Charset.forName(cs).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val reader = new BufferedReader(new InputStreamReader(in, dec), 1 << 16)
    (d, Iterator.continually(reader.readLine()).takeWhile(_ != null))
  }

  /** Parse sniffed lines: resolve the header against `roles`, project
    * each data row onto the role order; rows whose field count differs
    * from the header are skipped (`on_bad_lines="skip"`). Missing
    * optional roles yield null columns; missing REQUIRED roles are a
    * hard error naming the file — the reference's unresolvable-column
    * semantics (bdqueimadas_incremental.py:805-824). Header resolution
    * is eager (errors surface at call time); data rows stream lazily. */
  private[sources] def parseLines(d: Char, lines: Iterator[String],
                                  roles: Seq[(String, Seq[String])],
                                  sourceName: String,
                                  required: Set[String]): Iterator[Row] = {
    val ne = lines.filter(_.nonEmpty)
    if (!ne.hasNext) return Iterator.empty
    val header = Sniff.splitLine(ne.next(), d)
    val resolved = ColumnResolver.resolve(header.toSeq, roles.toMap)
    val missing = required.filterNot(resolved.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"unresolvable required columns ${missing.mkString(", ")} in $sourceName " +
          s"(header: ${header.mkString(", ")})")
    val idx = roles.map { case (role, _) => resolved.get(role) }
    ne.flatMap { line =>
      val fields = Sniff.splitLine(line, d)
      if (fields.length != header.length) None // bad line → skip
      else Some(Row.fromSeq(sourceName +: idx.map {
        case Some(i) if i < fields.length => fields(i)
        case _ => null
      }))
    }
  }

  /** Guard a streaming row iterator: I/O / zip corruption mid-stream
    * ends the file's rows (the archive-level `on_bad_lines` spirit) and
    * closes the stream; anything else propagates. The stream is also
    * closed on normal exhaustion. */
  private def guarded(it: Iterator[Row], close: () => Unit): Iterator[Row] =
    new Iterator[Row] {
      private var done = false
      private def finish(): Unit = if (!done) {
        done = true
        try close() catch { case _: java.io.IOException => () }
      }
      override def hasNext: Boolean =
        !done && {
          val h = try it.hasNext catch {
            case _: java.io.IOException | _: java.util.zip.ZipException =>
              finish(); false
          }
          if (!h) finish()
          h
        }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        it.next()
      }
    }

  /** Streaming parse of one archive's first tabular member, returned
    * with an explicit close handle so callers that may abandon the
    * iterator early (V2 PartitionReader.close on LIMIT / task cancel)
    * can release the underlying streams. Exposed within the package so
    * the bounded-heap probe (ZipLargeMemberSpec) can drive it without a
    * SparkSession. The sniff/header-resolution phase runs eagerly here;
    * any throw closes the zip stream before propagating (no leak on
    * malformed headers or unresolvable required roles). */
  private[graft] def zipRowsCloseable(open: () => InputStream,
                                      path: String,
                                      roles: Seq[(String, Seq[String])],
                                      required: Set[String]): (Iterator[Row], () => Unit) =
    firstTabularName(open) match {
      case None => (Iterator.empty, () => ())
      case Some(target) =>
        val zin = new ZipInputStream(open())
        val close = () => try zin.close() catch { case _: java.io.IOException => () }
        try {
          val positioned = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
            .exists(_.getName == target)
          if (!positioned) { close(); (Iterator.empty, () => ()) }
          else {
            val (d, lines) = sniffedLines(zin)
            (guarded(parseLines(d, lines, roles, path, required), close), close)
          }
        } catch { case e: Throwable => close(); throw e }
    }

  private[sources] def zipRows(open: () => InputStream,
                               path: String,
                               roles: Seq[(String, Seq[String])],
                               required: Set[String]): Iterator[Row] =
    zipRowsCloseable(open, path, roles, required)._1

  private def schemaFor(roles: Seq[(String, Seq[String])]): StructType =
    StructType(StructField("source_file", StringType, nullable = false) +:
      roles.map { case (r, _) => StructField(r, StringType, nullable = true) })

  /** Read a glob of ZIP archives: each archive's first tabular member is
    * sniffed, decoded, resolved, and projected to `roles` (ordered
    * candidate lists). All-string output — the coerce-cast layer types it.
    * Roles in `required` hard-error when a file's header cannot resolve
    * them.
    *
    * This is now an alias for the canonical V2 DataSource scan (one
    * scan implementation, not two that drift): the V2 form adds
    * source-level column pruning, so e.g. the flagship Focos pipeline's
    * scan reads only the roles it uses. The raw `binaryFiles` form
    * survives as `readZipsRdd` solely as a test comparison baseline. */
  def readZips(spark: SparkSession, glob: String,
               roles: Seq[(String, Seq[String])],
               required: Set[String] = Set.empty): DataFrame =
    graft.sources.v2.ZipCsvDataSource.read(spark, glob, roles, required)

  /** `readZips` over a list of archive paths, each taken literally (no
    * glob expansion): one scan, one InputPartition per archive. */
  def readZips(spark: SparkSession, paths: Seq[String],
               roles: Seq[(String, Seq[String])],
               required: Set[String]): DataFrame =
    graft.sources.v2.ZipCsvDataSource.read(spark, paths, roles, required)

  /** The original `binaryFiles` ZIP scan — kept (package-private) as the
    * independent comparison baseline for ZipCsvV2Spec; production paths
    * all go through `readZips` → the V2 datasource. */
  private[graft] def readZipsRdd(spark: SparkSession, glob: String,
                                 roles: Seq[(String, Seq[String])],
                                 required: Set[String] = Set.empty): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(glob).flatMap { case (path, pds) =>
      // corrupt archives are skipped, not fatal (on_bad_lines spirit at
      // the archive level); the profiler reports them separately
      try zipRows(() => pds.open(), path, roles, required)
      catch { case _: java.io.IOException | _: java.util.zip.ZipException =>
        Iterator.empty
      }
    }
    spark.createDataFrame(rows, schemaFor(roles))
  }

  /** Read bare CSV/TXT files with the same sniff/resolve semantics via
    * Spark's NATIVE csv reader — the splittable path. A ZIP archive is
    * inherently one-stream-per-task, but a bare CSV is not: the
    * reference's semantics (sniff dialect, then plain read_csv —
    * bdqueimadas_incremental.py:914-949) map to a bounded driver-side
    * sniff pre-pass (8 KB/file: charset, delimiter, header) followed by
    * `spark.read.csv` over each homogeneous (charset, delimiter, header)
    * file group. Spark then SPLITS large files across tasks — a 50 GB
    * daily drop parallelizes over the cluster instead of serializing
    * onto one core the way a `binaryFiles` funnel would.
    *
    * Parity with the streamed form: positional all-string schema
    * (f0..fN) + header skip; DROPMALFORMED replicates the
    * field-count-mismatch skip; `""`-escaped quotes match
    * Sniff.splitLine; `source_file` is normalized to the Hadoop Path
    * string `binaryFiles` reports. Per-file role resolution (headers
    * drift between files) happens at sniff time, so unresolvable
    * REQUIRED roles fail fast on the driver with the same error shape.
    * Files whose prefix cannot be read fall back to the streamed path
    * (`readCsvsStreamed`), which skips them archive-style.
    *
    * SESSION CONTRACT: `spark.sql.csv.parser.columnPruning.enabled`
    * must stay `false` until the returned (lazy) frame has executed —
    * pruning skips token-count validation for unread fields, so
    * malformed rows would silently survive DROPMALFORMED under a
    * projection. This method sets the conf, and every graft session
    * builder (Verify/Bench/Explain/TimeQ/ScaleReport/SparkSpec) pins it
    * at build time like `nanosAsLong`; callers embedding graft in their
    * own session must do the same and must not re-enable it mid-plan. */
  def readCsvs(spark: SparkSession, glob: String,
               roles: Seq[(String, Seq[String])],
               required: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, regexp_replace}
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath)

    // 8 KB sniff per file: (charset, delimiter, header fields). The
    // sniffs run CONCURRENTLY (bounded pool): each is one short
    // metadata-latency read, and a backfill directory can hold 10⁴⁺
    // files — sequential 50 ms object-store opens would serialize into
    // the better part of an hour that 32-way overlap does in seconds.
    case class FileDialect(path: org.apache.hadoop.fs.Path, cs: String,
                           d: Char, header: Seq[String])
    def sniffOne(fp: org.apache.hadoop.fs.Path): Either[org.apache.hadoop.fs.Path, Option[FileDialect]] =
      try {
        val in = fs.open(fp)
        val prefix = try in.readNBytes(SniffBytes) finally in.close()
        val bom = prefix.length >= 3 && prefix(0) == 0xEF.toByte &&
          prefix(1) == 0xBB.toByte && prefix(2) == 0xBF.toByte
        val body = if (bom) java.util.Arrays.copyOfRange(prefix, 3, prefix.length) else prefix
        val cs = detectCharset(body)
        val sample = decodePrefix(body, cs)
        val d = Sniff.delimiter(sample)
        val lines = sample.split("\r?\n", -1)
        val hIdx = lines.indexWhere(_.nonEmpty)
        if (hIdx < 0) Right(None) // empty file: no rows either way
        else if (prefix.length >= SniffBytes && hIdx == lines.length - 1)
          // Header line not newline-terminated within a FULL prefix: the
          // real header may extend past the sniff window, and resolving
          // against a truncated field list would make DROPMALFORMED
          // silently drop every data row. The streamed fallback parses
          // complete lines, so route the file there instead.
          Left(fp)
        else Right(Some(FileDialect(fp, cs, d, Sniff.splitLine(lines(hIdx), d).toSeq)))
        // NonFatal (not just IOException): charset-detection or decode
        // surprises on odd prefixes should take the streamed fallback
        // like unreadable files do, not surface wrapped in the pool's
        // ExecutionException and lose the fail-fast error shape.
      } catch { case scala.util.control.NonFatal(_) => Left(fp) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(1, files.length)))
    val outcomes =
      try files.map(fp => pool.submit(
          new java.util.concurrent.Callable[Either[org.apache.hadoop.fs.Path, Option[FileDialect]]] {
            def call() = sniffOne(fp)
          })).map(_.get()).toVector
      finally pool.shutdown()
    val sniffed = outcomes.collect { case Right(Some(fd)) => fd }
    val unreadable = outcomes.collect { case Left(fp) => fp }

    // resolve roles per distinct header — REQUIRED misses fail fast,
    // driver-side, with the streamed path's error shape
    val resolvedByHeader = sniffed.map(f => (f.d, f.header)).distinct.map {
      case key @ (d, header) =>
        val resolved = ColumnResolver.resolve(header, roles.toMap)
        val missing = required.filterNot(resolved.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"unresolvable required columns ${missing.mkString(", ")} in " +
              s"${sniffed.find(f => (f.d, f.header) == key).get.path} " +
              s"(header: ${header.mkString(", ")})")
        key -> resolved
    }.toMap

    // Spark 4's csv reader validates charsets against an allowlist that
    // excludes windows-1252; such files take the streamed path (they are
    // exactly the "pathological encodings" the fallback exists for).
    // Their role resolution was still checked above, so required-miss
    // errors stay fail-fast regardless of path.
    val nativeCharsets = Set("UTF-8", "ISO-8859-1", "US-ASCII")
    val (nativeOk, exoticEncoding) = sniffed.partition(f => nativeCharsets(f.cs))

    // Spark's csv COLUMN PRUNING skips token-count validation for unread
    // fields, so under pruning DROPMALFORMED silently KEEPS short/long
    // rows the streamed form skips (pinned by CsvNativeSpec). Row-level
    // validation inherently needs the full parse — and csv pruning only
    // skips per-field conversion, never line IO, so for an all-string
    // ingestion schema it saves ~nothing. Disable it for this session:
    // correctness parity over a no-op optimization.
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")

    val groups = nativeOk.groupBy(f => (f.cs, f.d, f.header))
    val parts = groups.toSeq.map { case ((cs, d, header), fsOfGroup) =>
      val fields = header.indices.map(i =>
        StructField(s"f$i", StringType, nullable = true))
      val resolved = resolvedByHeader((d, header))
      val roleCols = roles.map { case (role, _) =>
        resolved.get(role) match {
          case Some(i) => col(s"f$i").as(role)
          case None => lit(null).cast(StringType).as(role)
        }
      }
      spark.read
        .option("sep", d.toString)
        .option("encoding", cs)
        .option("header", "true")        // skip the header line; names from schema
        .option("mode", "DROPMALFORMED") // field-count mismatch → skip (parseLines parity)
        .option("escape", "\"")          // "" escapes a quote, like Sniff.splitLine
        .schema(StructType(fields))
        .csv(fsOfGroup.map(_.path.toString): _*)
        // binaryFiles reports the Hadoop Path string (file:/x); the
        // native reader's input_file_name is a URI (file:///x) —
        // normalize so source_file matches the streamed form
        .select((regexp_replace(input_file_name(), "^file:///", "file:/")
          .as("source_file") +: roleCols): _*)
    }
    val native = parts.reduceOption(_ unionAll _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schemaFor(roles)))
    val fallback = exoticEncoding.map(_.path) ++ unreadable
    if (fallback.isEmpty) native
    else native.unionAll(readCsvsStreamed(spark,
      fallback.map(_.toString).mkString(","), roles, required))
  }

  /** The streamed `binaryFiles` form of the bare-CSV scan — one task per
    * file, O(line) task memory. Kept for pathological inputs the native
    * reader cannot serve (unreadable prefixes, exotic dialects); the
    * splittable `readCsvs` is the default path. */
  def readCsvsStreamed(spark: SparkSession, glob: String,
                       roles: Seq[(String, Seq[String])],
                       required: Set[String] = Set.empty): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(glob).flatMap { case (path, pds) =>
      val in = pds.open()
      try {
        val (d, lines) = sniffedLines(in)
        guarded(parseLines(d, lines, roles, path, required), () => in.close())
      } catch { case e: Throwable =>
        try in.close() catch { case _: java.io.IOException => () }
        throw e
      }
    }
    spark.createDataFrame(rows, schemaFor(roles))
  }
}
