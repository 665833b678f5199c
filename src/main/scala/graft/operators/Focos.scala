package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cols._
import graft.functions.Coerce
import graft.sources.ZipCsv

/** The reference's core analytics pipeline end-to-end: CSV-in-ZIP scan →
  * normalized focos subset → 8-way grouping-set counts
  * (reference: reports/builders/bdqueimadas_incremental.py:651-761
  * `_normalized_focos_subset_from_raw_columns`, :395-501
  * `_finish_year_payload_from_subset`).
  *
  * Scale design: the scan distributes per archive; normalization is a
  * scan-side projection; the 8 aggregates are ONE GROUPING SETS shuffle.
  * Partition the landing data by year (files arrive annual) and Catalyst
  * partition-prunes the recent-N-years selection (SURVEY §4).
  */
object Focos {

  /** Ordered column-candidate lists (defaults at
    * reports/builders/bdqueimadas_overview.py:36-62; `data_pas`
    * force-preferred, bdqueimadas_incremental.py:795-801). */
  val Roles: Seq[(String, Seq[String])] = Seq(
    "raw_datetime" -> Seq("data_pas", "datahora", "data_hora_gmt", "data", "datetime"),
    "raw_state" -> Seq("estado", "uf", "state"),
    "raw_biome" -> Seq("bioma", "biome"),
    "raw_satellite" -> Seq("satelite", "satellite", "sat"))

  /** Reference satellite constant (bdqueimadas_incremental.py:17). */
  val ReferenceSatellite = "aquamt"

  /** P2–P5: canonical rename + trim/upper/NA-ify + coerce datetime parse +
    * valid-datetime filter + reference-satellite filter (when the column
    * resolved). Output: (source_file, datetime, year, period_month,
    * state, biome). */
  def normalizedSubset(raw: DataFrame): DataFrame = {
    val satNorm = normKey(col("raw_satellite"))
    val satFiltered =
      if (raw.columns.contains("raw_satellite"))
        raw.where(col("raw_satellite").isNull || satNorm === ReferenceSatellite)
      else raw
    satFiltered
      .withColumn("datetime", Coerce.toTimestampCoerce(col("raw_datetime")))
      .where(col("datetime").isNotNull)
      .select(
        col("source_file"),
        col("datetime"),
        year(col("datetime")).as("year"),
        period(col("datetime")).as("period_month"),
        normStr(col("raw_state")).as("state"),
        normStr(col("raw_biome")).as("biome"))
  }

  /** Roles the reference hard-errors on when unresolvable
    * (bdqueimadas_incremental.py:805-824): datetime/state/biome. */
  val RequiredRoles: Set[String] = Set("raw_datetime", "raw_state", "raw_biome")

  /** Full pipeline from a glob of focos ZIP archives. */
  def fromZips(spark: SparkSession, glob: String): DataFrame =
    normalizedSubset(ZipCsv.readZips(spark, glob, Roles, RequiredRoles))

  /** Full pipeline from a list of focos ZIP archive paths (one scan). */
  def fromZips(spark: SparkSession, paths: Seq[String]): DataFrame =
    normalizedSubset(ZipCsv.readZips(spark, paths, Roles, RequiredRoles))

  /** The 8 per-set aggregates as one GROUPING SETS pass over the
    * normalized subset, with the reference's per-set null-key dropping
    * (dropna per set, bdqueimadas_incremental.py:403-471): a row whose
    * state is null contributes to the sets that do not group by state,
    * and is absent from those that do. Columns in `by` (e.g. an archive
    * key) prefix the inner GROUP BY, every grouping set and the ordering, so one pass
    * yields the 8 aggregates of each `by` group side by side; with no
    * `by` columns the query is the plain 8-set pass. */
  def groupingSetCounts(subset: DataFrame, by: Seq[String] = Nil): DataFrame = {
    val spark = subset.sparkSession
    val v = "focos_" + java.util.UUID.randomUUID.toString.replace("-", "")
    subset.createOrReplaceTempView(v)
    val pre = by.map(c => s"`$c`, ").mkString
    val inner = (1 to by.length + 4).mkString(", ")
    // finest-granularity partials feed the ×8 Expand (see
    // Aggregates.groupingSetCounts for the scale rationale)
    val out = spark.sql(s"""
      SELECT ${pre}period_month, year, state, biome, SUM(cnt) AS value,
             CAST(GROUPING(period_month) AS INT) AS g_period,
             CAST(GROUPING(state) AS INT) AS g_state,
             CAST(GROUPING(biome) AS INT) AS g_biome
      FROM (SELECT ${pre}period_month, year, state, biome, COUNT(*) AS cnt
            FROM $v GROUP BY $inner)
      GROUP BY ${pre}GROUPING SETS (
        (period_month, year), (period_month, year, biome), (year),
        (year, biome), (year, state), (year, state, biome),
        (period_month, year, state), (period_month, year, state, biome))
      HAVING (GROUPING(state) = 1 OR state IS NOT NULL)
         AND (GROUPING(biome) = 1 OR biome IS NOT NULL)
      ORDER BY ${pre}g_period, g_state, g_biome, year,
               coalesce(period_month, ''), coalesce(state, ''), coalesce(biome, '')
    """)
    spark.catalog.dropTempView(v)
    out
  }
}
