package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String-normalization surface (SURVEY.md §2.8, §2.10): the short list
  * of operations that genuinely need custom code (NFKD accent strip,
  * Unicode-category emoji strip) plus builtin-composed slug/label/format
  * helpers. UDFs are registered lazily; everything else stays in
  * codegen-friendly builtins.
  *
  * Reference: accent strip social/bdqueimadas_daily/pipeline.py:448-453,
  * emoji strip :502-510, slugify datasets/eia/petroleum_weekly.py:25-29,
  * pt-BR formatting reports/builders/bdqueimadas_overview.py:1340-1357,
  * period regex datasets/cvm/ckan_dataset.py:22,248-264.
  */
object Normalize {

  /** NFKD-decompose and drop combining marks: "Amazônia" → "Amazonia". */
  def stripAccentsJvm(s: String): String =
    if (s == null) null
    else Normalizer.normalize(s, Normalizer.Form.NFKD)
      .replaceAll("\\p{M}+", "")

  /** Drop symbol/modifier/surrogate categories + emoji plane. */
  def stripEmojiJvm(s: String): String =
    if (s == null) null
    else s.codePoints().toArray.filter { cp =>
      val t = Character.getType(cp)
      t != Character.OTHER_SYMBOL && t != Character.MODIFIER_SYMBOL &&
      t != Character.SURROGATE && !(cp >= 0x1F000 && cp <= 0x1FAFF)
    }.foldLeft(new java.lang.StringBuilder)((b, cp) => b.appendCodePoint(cp)).toString

  private val stripAccentsUdf = udf(stripAccentsJvm _)
  private val stripEmojiUdf = udf(stripEmojiJvm _)

  def stripAccents(c: Column): Column = stripAccentsUdf(c)
  def stripEmoji(c: Column): Column = stripEmojiUdf(c)

  /** Slug: accent-strip → lowercase → non-alnum runs → single '-'. */
  def slugify(c: Column): Column =
    regexp_replace(
      regexp_replace(lower(stripAccents(c)), "[^a-z0-9]+", "-"),
      "(^-+)|(-+$)", "")

  /** pt-BR integer formatting: 1234567 → "1.234.567" (builtin compose:
    * en-US grouping then swap separators). */
  def ptbrInt(c: Column): Column =
    translate(format_number(c.cast("long"), 0), ",", ".")

  /** pt-BR percent: 12.345 → "12,35%" (2 decimals, comma decimal). */
  def ptbrPct(c: Column): Column =
    concat(translate(format_number(c.cast("double"), 2), ".,", ",."), lit("%"))

  /** pt-BR compact magnitude label (anp_producao/pipeline.py:379-382):
    * ≥1e9 → "x,y bi", ≥1e6 → "x,y mi", else grouped integer. */
  def ptbrCompact(c: Column): Column = {
    def oneDec(x: Column) = translate(format_number(x, 1), ".,", ",.")
    when(abs(c) >= 1e9, concat(oneDec(c / 1e9), lit(" bi")))
      .when(abs(c) >= 1e6, concat(oneDec(c / 1e6), lit(" mi")))
      .otherwise(ptbrInt(c))
  }

  /** Period "YYYY[-MM]" extraction from free text (the reference's
    * `((?:19|20)\d{2})(?:[-_]?([01]\d))?` family). */
  /** URL dedup key (D2, datasets/noticias_agricolas/merge.py:10-15):
    * scheme and host lowered, query/fragment stripped, trailing path
    * slashes trimmed (bare host → "/"). Pure regexp columns — the
    * grouping key of the URL-key merge. */
  def urlKey(c: Column): Column = {
    val u = trim(c)
    val hasScheme = u.contains("://")
    val scheme = lower(coalesce(
      when(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1) === "", null)
        .otherwise(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
      lit("https")))
    // scheme-less input: urlparse keeps the whole string as the path
    // (netloc empty), so "example.com/a" keys as "https://example.com/a"
    // instead of collapsing every scheme-less URL to "https:///"
    val host = when(hasScheme, lower(regexp_extract(u, "://([^/?#]*)", 1)))
      .otherwise(lit(""))
    val rawPath = when(hasScheme,
        regexp_replace(regexp_extract(u, "://[^/?#]*([^?#]*)", 1), "/+$", ""))
      .otherwise(regexp_replace(regexp_extract(u, "^([^?#]*)", 1), "/+$", ""))
    concat(scheme, lit("://"), host, when(rawPath === "", "/").otherwise(rawPath))
  }

  def extractYear(c: Column): Column = {
    val y = regexp_extract(c, "((?:19|20)\\d{2})", 1)
    when(y === "", lit(null).cast("int")).otherwise(y.cast("int"))
  }

  def extractPeriod(c: Column): Column = {
    val y = regexp_extract(c, "((?:19|20)\\d{2})[-_]?([01]\\d)?", 1)
    val m = regexp_extract(c, "((?:19|20)\\d{2})[-_]?([01]\\d)", 2)
    when(y === "", lit(null).cast("string"))
      .when(m === "", y)
      .otherwise(concat(y, lit("-"), m))
  }

  /** pt-BR accent RESTORATION for display labels (the reference keeps a
    * wordlist mapping accent-stripped uppercase names back to their
    * proper forms, daily/pipeline.py:475-499): known names restore
    * exactly, unknown fall back to initcap. */
  private val RestoreMap: Map[String, String] = Map(
    "AMAPA" -> "Amapá", "CEARA" -> "Ceará", "ESPIRITO SANTO" -> "Espírito Santo",
    "GOIAS" -> "Goiás", "MARANHAO" -> "Maranhão", "PARA" -> "Pará",
    "PARAIBA" -> "Paraíba", "PARANA" -> "Paraná", "PIAUI" -> "Piauí",
    "RONDONIA" -> "Rondônia", "SAO PAULO" -> "São Paulo",
    "AMAZONIA" -> "Amazônia", "MATA ATLANTICA" -> "Mata Atlântica")

  def restoreAccentsPt(c: Column): Column = {
    val pairs = RestoreMap.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    coalesce(element_at(map(pairs: _*), upper(stripAccents(trim(c)))),
      initcap(lower(trim(c))))
  }

  /** COIDS-style listing keys (datasets/inpe/bdqueimadas_focos_coids.py:
    * 15-21,145-199): yyyymmdd day key and yyyymmdd_HHMM 10-minute key. */
  def extractDayKey(c: Column): Column =
    try_to_timestamp(
      regexp_extract(c, "((?:19|20)\\d{2}[01]\\d[0-3]\\d)", 1), lit("yyyyMMdd"))
      .cast("date")

  def extractTenMinKey(c: Column): Column =
    try_to_timestamp(
      regexp_extract(c, "((?:19|20)\\d{2}[01]\\d[0-3]\\d_[0-2]\\d[0-5]\\d)", 1),
      lit("yyyyMMdd_HHmm"))

  /** Brazilian UF extracted from a path segment (`.../RJ/...` or
    * `_RJ_`/`_RJ.`; bdqueimadas_focos_coids.py:21,196-199). */
  def ufFromPath(c: Column): Column = {
    val uf = upper(regexp_extract(c, "(?i)[/_]([a-z]{2})[/_.]", 1))
    when(uf === "", lit(null).cast("string")).otherwise(uf)
  }

  /** PT month abbreviations (bdqueimadas_overview.py:1689-1712). */
  private val MonthsPt = Seq("jan", "fev", "mar", "abr", "mai", "jun",
    "jul", "ago", "set", "out", "nov", "dez")

  /** PT month abbreviation → month number (ANP `MÊS` column,
    * social/anp_producao/pipeline.py:108-165). */
  def ptMonthToNum(c: Column): Column = {
    val m = MonthsPt.zipWithIndex.map { case (n, i) => (n, i + 1) }.toMap
    val pairs = m.toSeq.sortBy(_._2).flatMap { case (n, i) => Seq(lit(n), lit(i)) }
    element_at(map(pairs: _*), lower(trim(c)).substr(1, 3))
  }
}
