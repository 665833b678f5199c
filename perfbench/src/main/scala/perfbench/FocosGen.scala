package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded synthetic INPE focos archives: one `focos_br_ref_YYYY.zip` per
  * year, each holding one CSV with the annual 9-column schema plus the
  * monthly variant's `satelite` column, and the field dirt the reference
  * pipeline has to clean (FIXTURES.md §1):
  *   - `;` or `,` delimiters and utf-8 or latin-1 bytes, chosen per archive;
  *   - malformed datetimes (the row must drop) next to three valid layouts;
  *   - blank, `NAN`, `nan` and `None` state/biome, plus untrimmed and
  *     lower-case spellings (null only for the by-state/by-biome sets);
  *   - satellites other than AQUA_M-T (the row must drop) and AQUA_M-T
  *     spelled several ways (the row stays).
  *
  * Every day of every year draws from its own random stream, so a year
  * that grows by a day keeps its earlier rows byte-for-byte, and the same
  * seed always writes the same bytes (entries carry a fixed timestamp).
  * The generator also returns what the report must count: valid rows per
  * `yyyy-MM`. */
final class FocosGen(seed: Long, val firstYear: Int, val nYears: Int,
                     val rowsPerYear: Int) {
  import FocosGen._

  val years: Seq[Int] = firstYear until firstYear + nYears
  val currentYear: Int = years.last

  def fileName(year: Int): String = s"focos_br_ref_$year.zip"

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def daysIn(year: Int): Int = java.time.Year.of(year).length()

  /** Rows one day carries: a fire-season hump over a flat base. */
  private def rowsOn(year: Int, day: Int): Int = {
    val r = new SplittableRandom(mix(mix(seed, year), day * 2L + 1))
    val date = java.time.LocalDate.ofYearDay(year, day)
    val season = date.getMonthValue match {
      case 8 | 9 => 3.0
      case 7 | 10 => 2.0
      case 6 | 11 => 1.2
      case _ => 0.5
    }
    val mean = rowsPerYear / 365.0 * season / 1.45
    math.max(0, math.round(mean * (0.8 + 0.4 * r.nextDouble())).toInt)
  }

  /** The rows of one day, delimiter-free (fields joined by `\u0000`). */
  private def day(year: Int, dayOfYear: Int): Day = {
    val r = new SplittableRandom(mix(mix(seed, year), dayOfYear * 2L))
    val date = java.time.LocalDate.ofYearDay(year, dayOfYear)
    val period = f"$year%04d-${date.getMonthValue}%02d"
    val n = rowsOn(year, dayOfYear)
    var valid = 0
    val lines = (0 until n).map { i =>
      val (h, m, s) = (r.nextInt(24), r.nextInt(60), r.nextInt(60))
      val dt = r.nextInt(100) match {
        case x if x < 2 => BadDatetimes(r.nextInt(BadDatetimes.length))
        case x if x < 10 =>
          f"$year%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d $h%02d:$m%02d:$s%02d"
        case x if x < 15 =>
          f"${date}T$h%02d:$m%02d:$s%02d"
        case _ => f"$date $h%02d:$m%02d:$s%02d"
      }
      val sat = r.nextInt(100) match {
        case x if x < 14 => OtherSatellites(r.nextInt(OtherSatellites.length))
        case x if x < 20 => AquaSpellings(r.nextInt(AquaSpellings.length))
        case _ => "AQUA_M-T"
      }
      val (uf, munis, biome) = States(r.nextInt(States.length))
      val state = r.nextInt(100) match {
        case x if x < 3 => Blanks(r.nextInt(Blanks.length))
        case x if x < 6 => s" ${uf.toLowerCase} "
        case _ => uf
      }
      val bioma = r.nextInt(100) match {
        case x if x < 3 => Blanks(r.nextInt(Blanks.length))
        case x if x < 5 => biome.toLowerCase
        case _ => biome
      }
      val lat = -2.0 - 25.0 * r.nextDouble()
      val lon = -38.0 - 30.0 * r.nextDouble()
      val ok = !BadDatetimes.contains(dt) && !OtherSatellites.contains(sat)
      if (ok) valid += 1
      Seq(s"$year${dayOfYear * 10000 + i}", f"${r.nextLong()}%016x",
        f"$lat%.5f", f"$lon%.5f", dt, "Brasil", state,
        munis(r.nextInt(munis.length)), bioma, sat).mkString("\u0000")
    }
    Day(lines, if (valid > 0) Map(period -> valid) else Map.empty, n)
  }

  /** Days of `year` present in an archive cut after `throughDay`. */
  def lastDay(year: Int, currentThrough: Int): Int =
    if (year == currentYear) currentThrough else daysIn(year)

  /** The archive of `year` holding days 1..`throughDay`. */
  def archive(year: Int, throughDay: Int): Archive = {
    val r = new SplittableRandom(mix(seed, year * 7919L))
    val delim = if (r.nextBoolean()) ';' else ','
    val charset = if (r.nextBoolean()) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1
    val csv = new StringBuilder(Header.mkString(delim.toString)).append('\n')
    val valid = mutable.Map.empty[String, Int].withDefaultValue(0)
    var rows = 0
    (1 to throughDay).foreach { d =>
      val dd = day(year, d)
      dd.lines.foreach(l => csv.append(l.replace('\u0000', delim)).append('\n'))
      dd.valid.foreach { case (k, v) => valid(k) += v }
      rows += dd.rows
    }
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    val e = new ZipEntry(s"focos_br_ref_$year.csv")
    e.setTimeLocal(EntryTime)
    zip.putNextEntry(e)
    zip.write(csv.toString.getBytes(charset))
    zip.closeEntry()
    zip.close()
    Archive(out.toByteArray, rows, valid.toMap)
  }

  /** Write every year's archive under `dir` (the current year cut after
    * `currentThrough` days); returns the union of their expected counts
    * and the total row count. */
  def writeAll(dir: File, currentThrough: Int): (Map[String, Int], Long) = {
    dir.mkdirs()
    val parts = years.map { y =>
      val a = archive(y, lastDay(y, currentThrough))
      write(new File(dir, fileName(y)), a.bytes)
      a
    }
    (parts.flatMap(_.valid).groupMapReduce(_._1)(_._2)(_ + _), parts.map(_.rows.toLong).sum)
  }

  def write(f: File, bytes: Array[Byte]): Unit = {
    val o = new FileOutputStream(f)
    try o.write(bytes) finally o.close()
  }
}

object FocosGen {
  final case class Day(lines: Seq[String], valid: Map[String, Int], rows: Int)
  final case class Archive(bytes: Array[Byte], rows: Int, valid: Map[String, Int])

  val Header: Seq[String] = Seq("id_bdq", "foco_id", "lat", "lon", "data_pas",
    "pais", "estado", "municipio", "bioma", "satelite")
  /** Zip entries otherwise carry the write time. */
  val EntryTime: java.time.LocalDateTime = java.time.LocalDateTime.of(2020, 1, 1, 0, 0)
  val BadDatetimes: Seq[String] = Seq("", "n/d", "not-a-date", "2019-13-45 10:00:00",
    "99/99/9999 99:99")
  val OtherSatellites: Seq[String] = Seq("TERRA_M-T", "NOAA-20", "GOES-16", "NPP-375")
  val AquaSpellings: Seq[String] = Seq("aqua_m-t", "AQUA M-T", "Aqua-M.T")
  val Blanks: Seq[String] = Seq("", " ", "NAN", "nan", "None")
  val States: Seq[(String, Seq[String], String)] = Seq(
    ("PA", Seq("São Félix do Xingu", "Altamira", "Novo Progresso"), "Amazônia"),
    ("MT", Seq("Colniza", "Cotriguaçu", "Feliz Natal"), "Amazônia"),
    ("AM", Seq("Lábrea", "Apuí", "Humaitá"), "Amazônia"),
    ("TO", Seq("Lagoa da Confusão", "Formoso do Araguaia"), "Cerrado"),
    ("MA", Seq("Balsas", "Grajaú", "Mirador"), "Cerrado"),
    ("PI", Seq("Uruçuí", "Baixa Grande do Ribeiro"), "Caatinga"),
    ("BA", Seq("Formosa do Rio Preto", "São Desidério"), "Caatinga"),
    ("MS", Seq("Corumbá", "Porto Murtinho"), "Pantanal"),
    ("MG", Seq("João Pinheiro", "Buritizeiro"), "Mata Atlântica"),
    ("RS", Seq("Santana do Livramento", "Alegrete"), "Pampa"))
}
