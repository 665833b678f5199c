package perfbench

import java.io.File
import graft.profile.{Manifest, Profiler}
import graft.reports.{ChartSpec, FocosReport}

/** The paper's flagship lifecycle. A pass is one cold build into an empty
  * cache — profile every archive, build the manifest, build the report,
  * derive the analysis and the chart — followed by `dailyOps` daily ops,
  * each of which first lets the current-year archive grow by one day
  * (input arrival, outside the clock) and then profiles that archive and
  * rebuilds the report: N−1 years reused from the cache, one rebuilt.
  *
  * Checks: the report's year/month counts equal the generator's expected
  * counts, and the cache's reuse stats are exact (cold: every year rebuilt;
  * daily: exactly the current year rebuilt). */
final class FocosDaily(firstYear: Int = 2018, nYears: Int = 6,
                       rowsPerYear: Int = 20000, startDay: Int = 200,
                       dailyOps: Int = 5) extends Workload {
  val name = "focos_daily"

  private var gen: FocosGen = _
  private var zipDir: File = _
  private var inputRows = 0L
  private var reused = 0L
  private var attempted = 0L
  private var cacheBytes = 0L

  /** One small cold build on a throwaway two-year input. */
  override def warmup(b: Bench): Unit = {
    val g = new FocosGen(b.seed + 1, firstYear, 2, 2000)
    val dir = b.dir("focos/warmup")
    g.writeAll(dir, startDay)
    FocosReport.analysis(FocosReport.build(b.spark, dir.getPath, new File(dir, "cache").getPath))
    Dirs.deleteRecursively(dir)
  }

  def setup(b: Bench): Unit = {
    gen = new FocosGen(b.seed, firstYear, nYears, rowsPerYear)
    zipDir = b.dir("focos/zips")
    inputRows = gen.writeAll(zipDir, startDay)._2
  }

  private def currentZip: File = new File(zipDir, gen.fileName(gen.currentYear))

  /** Profile → manifest over `zips`, then report → analysis → chart. */
  private def build(b: Bench, zips: Seq[File], cache: File,
                    refYear: Int, lastMonth: Int): FocosReport.Result = {
    val profiles = b.span("profile.Profiler")(zips.map(z => Profiler.profilePath(z.getPath)))
    b.span("profile.Manifest") {
      Manifest.toJson(Manifest.build("inpe-focos", "INPE focos", "urn:perfbench:focos",
        "focos/", profiles.map(p => Manifest.itemFromProfile(p, "urn:perfbench:" +
          new File(p.path).getName)), profiles.map(_.profileStatus), Nil,
        generatedAt = "2020-01-01T00:00:00Z"))
    }
    val r = FocosReport.build(b.spark, zipDir.getPath, cache.getPath)
    b.span("reports.analysis")(FocosReport.analysis(r))
    b.span("reports.chart")(ChartSpec.toJson(ChartSpec.fromMonthly(r.monthly, refYear, lastMonth)))
    r
  }

  private def check(r: FocosReport.Result, expected: Map[String, Int],
                    rebuilt: Seq[String]): Option[String] = {
    val got = r.monthly.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = expected.map { case (k, v) => k -> v.toLong }
    if (r.rebuiltYears.sorted != rebuilt.sorted)
      Some(s"rebuilt ${r.rebuiltYears.mkString(",")}, expected ${rebuilt.mkString(",")}")
    else if (r.reusedYears.length + r.rebuiltYears.length != nYears)
      Some(s"reuse stats cover ${r.reusedYears.length + r.rebuiltYears.length} of $nYears years")
    else if (got != want) {
      val diff = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(k => got.get(k) != want.get(k)).take(3)
        .map(k => s"$k=${got.get(k)} want ${want.get(k)}")
      Some(s"month counts differ: ${diff.mkString(", ")}")
    } else None
  }

  def pass(b: Bench): Unit = {
    val cache = b.dir(s"focos/cache_${b.pass}")
    var through = startDay
    var expected = gen.writeAll(zipDir, through)._1
    val zips = gen.years.map(y => new File(zipDir, gen.fileName(y)))
    def month(day: Int) = java.time.LocalDate.ofYearDay(gen.currentYear, day).getMonthValue
    val cold = b.op("cold", "cold_build") {
      build(b, zips, cache, gen.currentYear, month(through))
    } { r => check(r, expected, zips.map(_.getName)) }
    cold.foreach(r => { attempted += r.rebuiltYears.length + r.reusedYears.length
                        reused += r.reusedYears.length })
    (1 to dailyOps).foreach { d =>
      through += 1
      val a = gen.archive(gen.currentYear, through)
      gen.write(currentZip, a.bytes)
      expected = expected ++ a.valid
      b.op("daily", s"day_$through") {
        build(b, Seq(currentZip), cache, gen.currentYear, month(through))
      } { r =>
        attempted += r.rebuiltYears.length + r.reusedYears.length
        reused += r.reusedYears.length
        check(r, expected, Seq(currentZip.getName))
      }
    }
    cacheBytes = Dirs.bytesUnder(cache)
    Dirs.deleteRecursively(cache)
  }

  def report(b: Bench, passWalls: Seq[Double]): Seq[Metric] = {
    val cold = b.ops.filter(_.kind == "cold").map(_.seconds).toSeq
    Seq(Metric("scan_rows_per_s", inputRows / Stats.median(cold), "1/s", cold.length,
      s"input rows $inputRows over $nYears annual archives per cold-build second"))
  }

  def layers(b: Bench): Map[String, Double] = Map(
    "cache.reuse_ratio" -> (if (attempted == 0) 0.0 else reused.toDouble / attempted),
    "cache.bytes" -> cacheBytes.toDouble)
}
