package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, TimestampType}

/** Coerce-to-null casting layer reproducing pandas `errors="coerce"`
  * semantics (SURVEY.md §1.2; reference: mixed-format datetime parse with
  * per-column dayfirst at reports/builders/bdqueimadas_incremental.py:716-732,
  * pt-BR locale decimals at social/anp_producao/pipeline.py:241-245).
  *
  * Every helper is a pure builtin-expression composition: malformed
  * values become null, never errors — whole-stage codegen keeps these in
  * the scan-side projection at any scale.
  */
object Coerce {

  private val IsoFormats = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd", "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd")

  private val DayFirstFormats = Seq(
    "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
    "dd-MM-yyyy HH:mm:ss", "dd-MM-yyyy")

  /** Ordered-format timestamp parse: first format that parses wins, null
    * otherwise. `dayfirst` switches the candidate order the way the
    * reference switches on column name (data_pas/data_hora_gmt are ISO,
    * others dayfirst — bdqueimadas_incremental.py:716-719). */
  def toTimestampCoerce(c: Column, dayfirst: Boolean = false): Column = {
    val formats = if (dayfirst) DayFirstFormats ++ IsoFormats
                  else IsoFormats ++ DayFirstFormats
    coalesce(formats.map(f => try_to_timestamp(trim(c), lit(f))): _*)
      .cast(TimestampType)
  }

  /** Plain numeric coerce: non-numeric → null. */
  def toDoubleCoerce(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?$"),
      t.cast(DoubleType)).otherwise(lit(null).cast(DoubleType))
  }

  /** pt-BR locale decimal (`1.234,56`): strip thousands dots and swap the
    * decimal comma ONLY when a comma is present (the reference's
    * comma-presence heuristic, anp_producao/pipeline.py:241-245). */
  def ptbrDecimal(c: Column): Column = {
    val t = trim(c)
    val converted = when(t.contains(","),
        regexp_replace(regexp_replace(t, "\\.", ""), ",", "."))
      .otherwise(t)
    toDoubleCoerce(converted)
  }

  /** Nullable integer coerce (pandas Int64 analog,
    * anp_producao/pipeline.py:251-252). */
  def toLongCoerce(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[+-]?[0-9]+$"), t.cast("long")).otherwise(lit(null).cast("long"))
  }

  /** gov.br "atualizado em dd/MM/yyyy HHhmm" label in America/Sao_Paulo →
    * UTC timestamp (datasets/anp/govbr.py:49-52,160-184; normalization
    * target is Z-suffixed ISO, datasets/noticias_agricolas/dates.py:52-56). */
  def saoPauloLabelToUtc(c: Column): Column = {
    val cleaned = regexp_extract(trim(c), "(\\d{2}/\\d{2}/\\d{4} \\d{2}[h:]\\d{2})", 1)
    val normalized = regexp_replace(cleaned, "h", ":")
    to_utc_timestamp(
      try_to_timestamp(normalized, lit("dd/MM/yyyy HH:mm")), "America/Sao_Paulo")
  }

  /** RFC-1123 HTTP date ("Wed, 21 Oct 2015 07:28:00 GMT") → timestamp
    * (profiling.py:165-174). Spark 3+ rejects 'EEE' parse patterns, so
    * the weekday/zone are stripped and the GMT core parsed (session UTC). */
  def rfc1123(c: Column): Column =
    try_to_timestamp(
      regexp_extract(trim(c), "(\\d{1,2} \\w{3} \\d{4} \\d{2}:\\d{2}:\\d{2})", 1),
      lit("d MMM yyyy HH:mm:ss"))

  /** EIA label "Dec. 31, 2025" (datasets/eia/petroleum_weekly.py:31-38):
    * strip the abbreviation dot, parse month-name date. */
  def eiaLabelDate(c: Column): Column =
    try_to_timestamp(regexp_replace(trim(c), "\\.", ""), lit("MMM d, yyyy"))

  /** UTC Z-suffixed ISO output format (profiling.py:67-68). */
  def isoZ(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
}
