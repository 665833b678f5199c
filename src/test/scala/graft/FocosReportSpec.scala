package graft

import java.io.{File, FileOutputStream}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cache.IncrementalStore
import graft.operators.Focos
import graft.reports.{ChartSpec, FocosReport}

class FocosReportSpec extends SparkSpec {

  private def mkzip(dir: File, name: String, rows: Seq[String]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
    z.putNextEntry(new ZipEntry(name.replace(".zip", ".csv")))
    z.write(("id;data_pas;estado;bioma\n" + rows.mkString("\n") + "\n").getBytes("UTF-8"))
    z.closeEntry(); z.close()
  }

  test("incremental report build: cache reuse + correct consolidation") {
    val zipDir = java.nio.file.Files.createTempDirectory("rzips").toFile
    val cacheDir = java.nio.file.Files.createTempDirectory("rcache").toFile.getAbsolutePath
    mkzip(zipDir, "focos_2023.zip", Seq(
      "1;2023-05-01 00:00:00;PA;AMAZONIA",
      "2;2023-05-02 00:00:00;PA;AMAZONIA",
      "3;2023-06-01 00:00:00;MT;CERRADO"))
    mkzip(zipDir, "focos_2024.zip", Seq(
      "4;2024-05-01 00:00:00;PA;AMAZONIA"))

    val r1 = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir)
    assert(r1.rebuiltYears.toSet == Set("focos_2023.zip", "focos_2024.zip"))
    val monthly1 = r1.monthly.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(monthly1 == Map("2023-05" -> 2L, "2023-06" -> 1L, "2024-05" -> 1L))

    // rebuild without changes: all partials reused
    val r2 = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir)
    assert(r2.rebuiltYears.isEmpty &&
      r2.reusedYears.toSet == Set("focos_2023.zip", "focos_2024.zip"))

    // 2024 gets a republication (late data): only 2024 recomputes
    mkzip(zipDir, "focos_2024.zip", Seq(
      "4;2024-05-01 00:00:00;PA;AMAZONIA",
      "5;2024-05-03 00:00:00;PA;AMAZONIA"))
    val r3 = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir)
    assert(r3.rebuiltYears == Seq("focos_2024.zip") && r3.reusedYears == Seq("focos_2023.zip"))
    val monthly3 = r3.monthly.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(monthly3("2024-05") == 2L)

    // consolidated grand total equals row count per year
    val years = r3.consolidated
      .where("g_period = 1 AND g_state = 1 AND g_biome = 1")
      .collect().map(r => r.getAs[Int]("year") -> r.getAs[Long]("value")).toMap
    assert(years == Map(2023 -> 3L, 2024 -> 2L))

    // step 7: deterministic analysis from the built series (latest
    // period 2024-05; May 2023 had 2 focos -> -50% less 1 vs 2)
    val a = FocosReport.analysis(r3)
    assert(a.keySet == Set("headline", "overview", "comparison", "limitations"))
    assert(a("headline")("pt") == "Mai/2024: 2 focos (0,00% vs Mai/2023).")
    assert(a("headline")("en") == "May/2024: 2 hotspots (0.00% vs May/2023).")
    assert(a("overview")("pt").contains("5 linhas distribuídas em 2 arquivos anuais"))
    assert(a("comparison")("en").contains("Annual total: 2 in 2024 vs 3 in 2023"))
  }

  private val groupCols = Seq("period_month", "year", "state", "biome",
    "g_period", "g_state", "g_biome")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select((groupCols :+ "value").map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  test("fused build equals per-archive partials merge-summed") {
    val zipDir = java.nio.file.Files.createTempDirectory("fzips").toFile
    val cacheDir = java.nio.file.Files.createTempDirectory("fcache").toFile.getAbsolutePath
    mkzip(zipDir, "focos_2023.zip", Seq(
      "1;2023-05-01 00:00:00;PA;AMAZONIA",
      "2;2023-12-30 00:00:00;MT;CERRADO",
      "3;2023-06-01 00:00:00; ;CERRADO"))
    // late publication: 2023 rows inside the 2024 archive
    mkzip(zipDir, "focos_2024.zip", Seq(
      "4;2024-05-01 00:00:00;PA;AMAZONIA",
      "5;2023-12-30 00:00:00;MT;CERRADO",
      "6;2023-05-01 00:00:00;PA;AMAZONIA"))
    // glob and separator characters in the archive name
    mkzip(zipDir, "focos 2022,{b}.zip", Seq(
      "7;2022-01-15 00:00:00;AM;AMAZONIA"))
    // every row malformed: no valid datetime, or the wrong field count
    mkzip(zipDir, "focos_2025.zip", Seq(
      "8;not-a-date;PA;AMAZONIA", "9;;MT;CERRADO", "broken;row"))
    val names = Seq("focos 2022,{b}.zip", "focos_2023.zip", "focos_2024.zip", "focos_2025.zip")

    val r = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir)
    assert(r.rebuiltYears == names && r.reusedYears.isEmpty)

    val perArchive = names.map(n => Focos.groupingSetCounts(
      Focos.fromZips(spark, Seq(new File(zipDir, n).getAbsolutePath))))
    val want = perArchive.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*).agg(sum("value").as("value"))
    assert(rowsOf(r.consolidated) == rowsOf(want))
    assert(rowsOf(r.consolidated).nonEmpty)

    // each archive's partial holds exactly that archive's aggregates:
    // the 2024 archive's 2023 rows stay in its own partial
    names.zip(perArchive).foreach { case (n, one) =>
      val partial = spark.read.schema(FocosReport.PartialSchema)
        .parquet(IncrementalStore.literalGlob(s"$cacheDir/part_$n"))
      assert(rowsOf(partial) == rowsOf(one), n)
    }
    assert(rowsOf(perArchive(2)).exists(_.startsWith("2023-12|2023|MT|CERRADO")))
    assert(rowsOf(perArchive(3)).isEmpty)

    val monthly = r.monthly.collect().map(x => x.getString(0) -> x.getLong(1)).toSeq
    assert(monthly == Seq("2022-01" -> 1L, "2023-05" -> 2L, "2023-06" -> 1L,
      "2023-12" -> 2L, "2024-05" -> 1L))

    // the all-malformed archive's empty partial is reused, not rebuilt
    val r2 = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir)
    assert(r2.rebuiltYears.isEmpty && r2.reusedYears == names)
    assert(rowsOf(r2.consolidated) == rowsOf(want))
  }

  /** Jobs `body` submits, counted by job group through a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "focos-jobs-" + java.util.UUID.randomUUID
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      GraftTestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("cold build jobs do not grow with the stale archives; analysis and chart run none") {
    def coldJobs(years: Int): (Int, FocosReport.Result) = {
      val zipDir = java.nio.file.Files.createTempDirectory("jzips").toFile
      val cacheDir = java.nio.file.Files.createTempDirectory("jcache").toFile.getAbsolutePath
      (1 to years).foreach { i =>
        val y = 2017 + i
        mkzip(zipDir, s"focos_$y.zip", Seq(
          s"1;$y-03-01 00:00:00;PA;AMAZONIA", s"2;$y-04-02 00:00:00;MT;CERRADO"))
      }
      var r: FocosReport.Result = null
      val jobs = jobsOf { r = FocosReport.build(spark, zipDir.getAbsolutePath, cacheDir) }
      assert(r.rebuiltYears.length == years)
      (jobs, r)
    }
    val (three, _) = coldJobs(3)
    val (six, r6) = coldJobs(6)
    assert(three > 0 && six == three, s"3 archives: $three jobs, 6 archives: $six jobs")
    var spec: ChartSpec.Spec = null
    assert(jobsOf(FocosReport.analysis(r6)) == 0)
    assert(jobsOf { spec = ChartSpec.fromMonthly(r6.monthly, 2023, 4) } == 0)
    assert(spec.current == Seq(None, None, Some(1L), Some(1L)) ++ Seq.fill(8)(None))
  }
}
