package graft.cache

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Incremental materialized partial aggregates (SURVEY.md §4: the one
  * optimization Catalyst does not subsume; reference: fingerprinted
  * per-year payload cache at
  * reports/builders/bdqueimadas_incremental.py:32-183, fingerprint
  * :345-357, build-signature :320-342, reuse/rebuild loop :62-120).
  *
  * Application-level cache ABOVE the query: each partition key (e.g. a
  * year) maps to a durable Parquet partial aggregate plus a fingerprint
  * of its inputs and of the aggregation logic. A build reuses every
  * partition whose fingerprint is unchanged and recomputes only the
  * rest; consolidation is the partial→final merge-sum the reference runs
  * in pandas (:1051-1064) and Spark runs as a native re-aggregation.
  *
  * One build is one write job, whatever the number of stale keys: the
  * caller computes every stale key in a single frame tagged with
  * `KeyColumn`, and the store writes it once, partitioned by key, into
  * `_stage/`. Each staged key directory is then promoted (renamed) to
  * its `part_<key>` partial, and only then is the manifest saved — stage
  * → promote → manifest. A crash at any point leaves the manifest
  * naming the old fingerprints, so the next build treats the same keys
  * as stale, clears `_stage/` and rebuilds them; `_stage/` is never read
  * as a partial. All partials are read back with one explicit-schema
  * Parquet scan (no per-partial schema-inference job).
  *
  * Scale notes: partials are Parquet (splittable, schema-carrying); the
  * manifest is a single small JSON; reuse means NOT scanning unchanged
  * input partitions at all — at 100 TB that is the difference between a
  * daily full scan and touching one mutable year.
  */
class IncrementalStore(spark: SparkSession, cacheDir: String,
                       buildSignature: String) {
  import IncrementalStore.KeyColumn

  private val manifestPath = Paths.get(cacheDir, "_cache_manifest.json")
  private val stagePath = new HPath(cacheDir, "_stage")
  private val fs = stagePath.getFileSystem(spark.sessionState.newHadoopConf())

  case class Stats(reused: Seq[String], rebuilt: Seq[String])

  private def loadManifest(): Map[String, String] =
    if (!Files.exists(manifestPath)) Map.empty
    else {
      // one flat {"key":"fingerprint",...} object, written by this class
      val s = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2)).toMap
    }

  private def saveManifest(m: Map[String, String]): Unit = {
    val body = m.toSeq.sorted.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{\n  ", ",\n  ", "\n}")
    Files.createDirectories(manifestPath.getParent)
    Files.write(manifestPath, body.getBytes(StandardCharsets.UTF_8))
  }

  private def partitionPath(key: String) = s"$cacheDir/part_$key"

  /** Build-or-reuse: for each (key, inputFingerprint), reuse the cached
    * partial when `fingerprint + buildSignature` matches the manifest.
    * The stale keys go to ONE `compute(staleKeys)` call, which returns a
    * frame of `partialSchema` columns plus a string `KeyColumn`; a stale
    * key without rows gets an empty partial. Returns the union of all
    * partials (without the key column) plus reuse stats. */
  def build(partitions: Seq[(String, String)], partialSchema: StructType,
            compute: Seq[String] => DataFrame): (DataFrame, Stats) = {
    require(partitions.nonEmpty, "incremental build needs at least one partition")
    require(partitions.map(_._1).distinct.length == partitions.length,
      "incremental build keys must be distinct")
    val manifest = loadManifest()
    // a stage left by a crashed build holds nothing the manifest vouches for
    fs.delete(stagePath, true)
    val (reused, rebuilt) = partitions.partition { case (key, fp) =>
      manifest.get(key).contains(fp + "|" + buildSignature) &&
        new File(partitionPath(key)).exists()
    }
    if (rebuilt.nonEmpty) {
      val fresh = compute(rebuilt.map(_._1))
      val got = fresh.schema.filterNot(_.name == KeyColumn).map(f => f.name -> f.dataType)
      require(fresh.columns.contains(KeyColumn) &&
        got == partialSchema.map(f => f.name -> f.dataType),
        s"compute must return $KeyColumn plus ${partialSchema.simpleString}, " +
          s"got ${fresh.schema.simpleString}")
      fresh.write.mode("overwrite").partitionBy(KeyColumn).parquet(stagePath.toString)
      rebuilt.foreach { case (key, _) =>
        val staged = new HPath(stagePath,
          s"$KeyColumn=${ExternalCatalogUtils.escapePathName(key)}")
        val target = new HPath(partitionPath(key))
        fs.delete(target, true)
        if (fs.exists(staged)) require(fs.rename(staged, target), s"could not promote $staged")
        else require(fs.mkdirs(target), s"could not create $target") // no rows: an empty partial
      }
      fs.delete(stagePath, true)
    }
    saveManifest(manifest ++ partitions.map { case (k, fp) =>
      k -> (fp + "|" + buildSignature)
    })
    val union = spark.read.schema(partialSchema).parquet(
      partitions.map { case (key, _) => IncrementalStore.literalGlob(partitionPath(key)) }: _*)
    (union, Stats(reused.map(_._1), rebuilt.map(_._1)))
  }
}

object IncrementalStore {
  /** The string column naming each computed row's partition key. */
  val KeyColumn = "partition_key"

  /** `path` as a Hadoop glob that matches only itself. Spark globs every
    * read path and a key may hold glob characters (`{}[]*?`), so each is
    * backslash-escaped. */
  def literalGlob(path: String): String =
    path.flatMap(c => if ("{}[]*?\\".indexOf(c) >= 0) s"\\$c" else c.toString)
}

/** Input fingerprints (reference: zip name, member names, sizes, CRCs —
  * bdqueimadas_incremental.py:345-357). */
object Fingerprints {
  /** ZIP fingerprint from the central directory: member (name, size,
    * crc) triples + archive length — no data read. */
  def zipFingerprint(path: String): String = {
    val f = new File(path)
    val z = new ZipFile(f)
    try {
      val entries = z.entries().asScala
        .map(e => s"${e.getName}:${e.getSize}:${e.getCrc}").toSeq.sorted
      sha256Hex((f.length().toString +: entries).mkString("|"))
    } finally z.close()
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
