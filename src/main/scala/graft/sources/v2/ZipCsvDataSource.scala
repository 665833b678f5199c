package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.sources.ZipCsv

/** DataSource V2 packaging of the streaming ZIP/CSV scan (SURVEY.md
  * §2.1 S1–S3) — `spark.read.format("graft.sources.v2.ZipCsvDataSource")`
  * with:
  *
  *   - `path`      glob of zip archives
  *   - `paths`     JSON array of archive paths, taken literally (never
  *                 glob-expanded, so names holding `,{}[]*?` are safe);
  *                 `load(p1, p2, ...)` sets it in this form
  *   - `roles`     `role=cand1|cand2;role2=cand`: ordered header
  *                 candidates per canonical column (§1.3 resolution)
  *   - `required`  comma-separated roles that hard-error when a file's
  *                 header cannot resolve them
  *
  * One InputPartition per archive (the same parallelism unit as the
  * `binaryFiles` form — member decompression is inherently sequential,
  * so an archive is the atom of parallelism); per-task memory stays
  * O(line) via the shared streaming parse. Column pruning is honored at
  * the source: pruned roles are never projected into rows, so the
  * scan's `ReadSchema` shows exactly what downstream needs. This is the
  * canonical ZIP scan path — `ZipCsv.readZips` delegates here.
  *
  * Filesystem access uses the SESSION Hadoop configuration (captured at
  * scan build, shipped via SerializableConfiguration) on both the
  * driver (glob expansion) and executors (archive open), so
  * `spark.hadoop.*` settings — credentials, custom schemes — behave
  * identically to Spark's own file sources. */
class ZipCsvDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipCsvDataSource.schemaFor(ZipCsvDataSource.rolesOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ZipCsvTable(new CaseInsensitiveStringMap(properties))
}

object ZipCsvDataSource {
  val Name = "graft.sources.v2.ZipCsvDataSource"

  /** Programmatic entry point: the V2 scan with roles/required encoded
    * into reader options (the inverse of rolesOf/requiredOf). */
  def read(spark: SparkSession, glob: String,
           roles: Seq[(String, Seq[String])],
           required: Set[String]): DataFrame =
    reader(spark, roles, required).option("path", glob).load()

  /** The same scan over a list of archive paths, each taken literally:
    * one InputPartition per archive, in one scan. */
  def read(spark: SparkSession, paths: Seq[String],
           roles: Seq[(String, Seq[String])],
           required: Set[String]): DataFrame =
    reader(spark, roles, required)
      .option("paths", new ObjectMapper().writeValueAsString(paths.toArray))
      .load()

  private def reader(spark: SparkSession, roles: Seq[(String, Seq[String])],
                     required: Set[String]) =
    spark.read.format(Name)
      .option("roles", roles.map { case (r, cands) =>
        s"$r=${cands.mkString("|")}" }.mkString(";"))
      .option("required", required.toSeq.sorted.mkString(","))

  /** The literal `paths` list, when the scan was given one. */
  private def pathsOf(options: CaseInsensitiveStringMap): Option[Seq[String]] =
    Option(options.get("paths"))
      .map(new ObjectMapper().readValue(_, classOf[Array[String]]).toSeq)

  /** The archives a scan reads, as qualified path strings: the `paths`
    * list as given (each must exist), else the `path` glob's matches. */
  private[v2] def archives(options: CaseInsensitiveStringMap,
                           conf: Configuration): Seq[String] = {
    val statuses = pathsOf(options) match {
      case Some(paths) => paths.map { s =>
        val p = new Path(s)
        p.getFileSystem(conf).getFileStatus(p)
      }
      case None =>
        val p = new Path(location(options))
        Option(p.getFileSystem(conf).globStatus(p)).map(_.toSeq).getOrElse(Nil)
    }
    statuses.filter(_.isFile).map(_.getPath.toString)
  }

  /** The scan's location for plan strings: the glob or the path list. */
  private[v2] def location(options: CaseInsensitiveStringMap): String =
    pathsOf(options).map(_.mkString(", "))
      .orElse(Option(options.get("path")))
      .getOrElse(throw new IllegalArgumentException("zipcsv: missing 'path' option"))

  def rolesOf(options: CaseInsensitiveStringMap): Seq[(String, Seq[String])] = {
    val spec = Option(options.get("roles")).getOrElse(
      throw new IllegalArgumentException("zipcsv: missing 'roles' option"))
    spec.split(';').toSeq.filter(_.nonEmpty).map { part =>
      part.split('=') match {
        case Array(role, cands) => role.trim -> cands.split('|').toSeq.map(_.trim)
        case Array(role) => role.trim -> Seq(role.trim)
        case _ => throw new IllegalArgumentException(s"zipcsv: bad role spec '$part'")
      }
    }
  }

  def requiredOf(options: CaseInsensitiveStringMap): Set[String] =
    Option(options.get("required")).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def schemaFor(roles: Seq[(String, Seq[String])]): StructType =
    StructType(StructField("source_file", StringType, nullable = false) +:
      roles.map { case (r, _) => StructField(r, StringType, nullable = true) })
}

private class ZipCsvTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val roles = ZipCsvDataSource.rolesOf(options)

  override def name(): String = s"zipcsv(${ZipCsvDataSource.location(options)})"
  override def schema(): StructType = ZipCsvDataSource.schemaFor(roles)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ZipCsvScanBuilder(options)
}

private class ZipCsvScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private val full = ZipCsvDataSource.schemaFor(ZipCsvDataSource.rolesOf(options))
  private var pruned: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the source's field order; accept any subset
    pruned = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new ZipCsvScan(
    options,
    ZipCsvDataSource.rolesOf(options),
    ZipCsvDataSource.requiredOf(options),
    pruned,
    // session Hadoop conf, captured once at scan build; serializable so
    // the executor-side readers open files with the same settings
    new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf()))
}

private case class ZipFilePartition(path: String) extends InputPartition

private class ZipCsvScan(options: CaseInsensitiveStringMap,
                         roles: Seq[(String, Seq[String])],
                         required: Set[String], pruned: StructType,
                         conf: SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String = s"ZipCsvScan(${ZipCsvDataSource.location(options)})"

  override def planInputPartitions(): Array[InputPartition] =
    ZipCsvDataSource.archives(options, conf.value)
      .map(ZipFilePartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipCsvReaderFactory(roles, required, pruned, conf)
}

private class ZipCsvReaderFactory(roles: Seq[(String, Seq[String])],
                                  required: Set[String], pruned: StructType,
                                  conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[ZipFilePartition].path
    // index of each pruned output field in the full (source_file +: roles) row
    val fullNames = "source_file" +: roles.map(_._1)
    val indices = pruned.fieldNames.map(fullNames.indexOf)

    new PartitionReader[InternalRow] {
      private val (rows, closeRows) = {
        val p = new Path(path)
        val fs = p.getFileSystem(conf.value)
        try ZipCsv.zipRowsCloseable(() => fs.open(p), path, roles, required)
        catch { case _: java.io.IOException | _: java.util.zip.ZipException =>
          // corrupt archive → skip (binaryFiles-form parity)
          (Iterator.empty: Iterator[org.apache.spark.sql.Row], () => ())
        }
      }
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = {
        val r = rows.next()
        new GenericInternalRow(indices.map { i =>
          r.get(i) match {
            case null => null
            case s: String => UTF8String.fromString(s)
          }
        }.asInstanceOf[Array[Any]])
      }
      // a scan terminated early (LIMIT, cancelled task) must release the
      // underlying FSDataInputStream/ZipInputStream
      override def close(): Unit = closeRows()
    }
  }
}
