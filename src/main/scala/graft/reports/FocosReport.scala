package graft.reports

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cache.{Fingerprints, IncrementalStore}
import graft.operators.Focos

/** The reference's `build-report` lifecycle re-expressed (SURVEY.md §3.2;
  * reference: reports/builders/bdqueimadas_overview.py:72-818 steps 2–6):
  * select archives → per-archive incremental partial aggregates
  * (fingerprint-cached) → consolidate (partial→final merge-sum) →
  * metric layer over the consolidated series.
  *
  * The incremental store keys partials by archive fingerprint (zip
  * central directory), so an unchanged year is NEVER rescanned — only
  * the mutable current-year archive recomputes on a typical daily build
  * (reference cache loop bdqueimadas_incremental.py:62-120).
  *
  * A build runs ONE scan → normalize → grouping-sets → write job over
  * every stale archive together, the archive name as an extra grouping
  * key, so a cold build of N archives costs the jobs of one (the store
  * stages that write, promotes each archive's partial, then saves the
  * manifest). The month series is collected once, in `build`; `analysis`
  * and `ChartSpec.fromMonthly` read that local copy and run no job.
  */
object FocosReport {

  /** Signature of the aggregation logic itself: schema version + role
    * candidates — changing either invalidates every cached partial
    * (reference build-signature, bdqueimadas_incremental.py:320-342). */
  def buildSignature: String = Fingerprints.sha256Hex(
    "v1|" + Focos.Roles.map { case (r, cs) => r + "=" + cs.mkString(",") }.mkString(";"))

  /** Columns of one archive's partial: `Focos.groupingSetCounts`. */
  val PartialSchema: StructType = StructType(Seq(
    StructField("period_month", StringType), StructField("year", IntegerType),
    StructField("state", StringType), StructField("biome", StringType),
    StructField("value", LongType), StructField("g_period", IntegerType),
    StructField("g_state", IntegerType), StructField("g_biome", IntegerType)))

  /** `consolidated` is lazy; `monthly` (m "yyyy-MM", cnt), sorted by
    * month, is a local frame collected once by `build`. */
  case class Result(consolidated: DataFrame, monthly: DataFrame,
                    reusedYears: Seq[String], rebuiltYears: Seq[String])

  /** Build from a directory of focos ZIP archives, caching per-archive
    * partial aggregates under `cacheDir`. */
  def build(spark: SparkSession, zipDir: String, cacheDir: String): Result = {
    val zips = Option(new File(zipDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.toLowerCase.endsWith(".zip"))
      .sortBy(_.getName)
    require(zips.nonEmpty, s"no zip archives under $zipDir")

    val partitions = zips.map(f =>
      f.getName -> Fingerprints.zipFingerprint(f.getAbsolutePath)).toSeq

    val store = new IncrementalStore(spark, cacheDir, buildSignature)
    val byName = zips.map(f => f.getName -> f.getAbsolutePath).toMap
    val (partials, stats) = store.build(partitions, PartialSchema, { keys =>
      // the stale archives → one normalized subset keyed by archive file
      // name → the 8-way grouping-set counts of every archive at once
      val subset = Focos.fromZips(spark, keys.map(byName))
        .withColumn(IncrementalStore.KeyColumn,
          regexp_extract(col("source_file"), "[^/]*$", 0))
      Focos.groupingSetCounts(subset, by = Seq(IncrementalStore.KeyColumn))
    })

    // A4 partial→final merge-sum: identical keys across years re-sum
    val consolidated = partials
      .groupBy("period_month", "year", "state", "biome",
               "g_period", "g_state", "g_biome")
      .agg(sum("value").as("value"))

    // the (period) series feeding the month-window metric layer: month
    // granular (≤ a few hundred rows), collected here once
    val series = consolidated
      .where(col("g_period") === 0 && col("g_state") === 1 && col("g_biome") === 1)
      .select(col("period_month").as("m"), col("value").as("cnt"))
    val monthly = spark.createDataFrame(
      series.collect().sortBy(_.getString(0)).toSeq.asJava, series.schema)

    Result(consolidated, monthly, stats.reused, stats.rebuilt)
  }

  /** Steps 6–7 of the reference lifecycle: metric scalars from the
    * consolidated month series → deterministic per-locale analysis
    * (the no-LLM fallback, bdqueimadas_overview.py:1078-1180). It reads
    * the local month series `build` collected, so it runs no Spark job;
    * every row-level aggregation already happened distributed. */
  def analysis(r: Result): Map[String, Map[String, String]] = {
    val series = r.monthly.collect()
      .map(x => (x.getString(0), x.getLong(1))).sortBy(_._1)
    require(series.nonEmpty, "empty month series")
    val byM = series.toMap
    val (latestM, latestCnt) = series.last
    val latestYear = latestM.take(4).toInt
    val mm = latestM.takeRight(2)
    val years = series.map(_._1.take(4).toInt).distinct.sorted
    val prevYear = Option(latestYear - 1).filter(years.contains)
    def yearTotal(y: Int) = series.filter(_._1.startsWith(y.toString)).map(_._2).sum
    def ytd(y: Int) = series
      .filter(p => p._1.take(4).toInt == y && p._1.takeRight(2) <= mm)
      .map(_._2).sum
    val last12 = series.takeRight(12)
    val prior12 = series.dropRight(12).takeRight(12)
    Fallback.buildAnalysis(Fallback.Metrics(
      firstYear = years.head, latestYear = latestYear, previousYear = prevYear,
      currentYearTotal = yearTotal(latestYear),
      previousYearTotal = prevYear.map(yearTotal).getOrElse(0L),
      recent12mTotal = last12.map(_._2).sum,
      prior12mTotal = if (prior12.length == 12) prior12.map(_._2).sum else 0L,
      latestPeriod = latestM,
      totalRowsProcessed = series.map(_._2).sum,
      fileCountUsed = r.reusedYears.length + r.rebuiltYears.length,
      yearRange = s"${years.head}–$latestYear",
      analysisWindowStart = last12.head._1, analysisWindowEnd = latestM,
      latestMonthTotal = latestCnt,
      sameMonthPrevYearTotal = prevYear.map(y => byM.getOrElse(s"$y-$mm", 0L)).getOrElse(0L),
      ytdCurrentYear = ytd(latestYear),
      ytdPreviousYear = prevYear.map(ytd).getOrElse(0L)))
  }
}
