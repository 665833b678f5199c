package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.v2.ZipCsvDataSource

/** DataSource V2 form of the ZIP/CSV scan: same rows as the
  * binaryFiles form, plus source-level column pruning. */
class ZipCsvV2Spec extends SparkSpec {

  private val dir = Files.createTempDirectory("zipv2").toFile

  private def mkzip(name: String, header: String, rows: Seq[String]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
    z.putNextEntry(new ZipEntry(name.replace(".zip", ".csv")))
    z.write((header + "\n" + rows.mkString("\n") + "\n").getBytes("UTF-8"))
    z.closeEntry(); z.close()
  }

  mkzip("a.zip", "DataHora;Estado;Bioma", Seq(
    "2024-01-01 00:00:00;PA;AMAZONIA", "2024-01-02 00:00:00;MT;CERRADO"))
  mkzip("b.zip", "data_pas,uf", Seq("2024-02-01 00:00:00,SP", "bad,line,extra"))

  private val glob = dir.getAbsolutePath + "/*.zip"
  private val rolesSpec = "dt=data_pas|datahora;state=estado|uf;biome=bioma"
  private val roles = Seq(
    "dt" -> Seq("data_pas", "datahora"),
    "state" -> Seq("estado", "uf"),
    "biome" -> Seq("bioma"))

  private def v2 = spark.read.format(ZipCsvDataSource.Name)
    .option("path", glob).option("roles", rolesSpec).option("required", "dt")
    .load()

  test("v2 scan matches the binaryFiles form row-for-row") {
    val expected = ZipCsv.readZipsRdd(spark, glob, roles, Set("dt"))
      .select("dt", "state", "biome").orderBy("dt")
      .collect().map(_.toSeq).toSeq
    val got = v2.select("dt", "state", "biome").orderBy("dt")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    assert(got.length == 3) // bad line skipped, biome null for b.zip rows
    assert(got.map(_.head.asInstanceOf[String]).sorted ==
      Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00", "2024-02-01 00:00:00"))
  }

  test("column pruning reaches the v2 scan's read schema") {
    val df = v2.select(col("state"))
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("state"))
  }

  test("missing required role names the file") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format(ZipCsvDataSource.Name)
        .option("path", glob).option("roles", "nope=missing_col")
        .option("required", "nope").load().collect()
    }
    assert(e.getMessage != null)
  }

  private def filesOf(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().length
    }.sum

  test("a multi-path scan equals the union of single-path scans, one partition per archive") {
    val paths = Seq("a.zip", "b.zip").map(n => new File(dir, n).getAbsolutePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source_file", "dt", "state", "biome").collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    val multi = ZipCsv.readZips(spark, paths, roles, Set("dt"))
    val singles = paths.map(p => ZipCsv.readZips(spark, Seq(p), roles, Set("dt")))
    assert(rows(multi) == rows(singles.reduce(_ unionByName _)))
    assert(rows(multi) == rows(v2))
    assert(filesOf(multi) == 2 && singles.map(filesOf) == Seq(1, 1))
  }

  test("archive names holding a space, a comma and a brace scan and map back") {
    val odd = Files.createTempDirectory("zipv2odd").toFile
    val names = Seq("x y.zip", "p,q.zip", "r{s}.zip")
    names.zipWithIndex.foreach { case (n, i) =>
      val z = new ZipOutputStream(new FileOutputStream(new File(odd, n)))
      z.putNextEntry(new ZipEntry("m.csv"))
      z.write(s"data_pas;uf\n2024-01-0${i + 1} 00:00:00;S$i\n".getBytes("UTF-8"))
      z.closeEntry(); z.close()
    }
    val df = ZipCsv.readZips(spark, names.map(n => new File(odd, n).getAbsolutePath),
      roles, Set("dt"))
    val byName = df.select(regexp_extract(col("source_file"), "[^/]*$", 0), col("state"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    assert(byName == names.zipWithIndex.map { case (n, i) => n -> s"S$i" }.sorted)
    assert(filesOf(df) == 3)
  }

  test("a listed archive that does not exist is an error, not an empty scan") {
    intercept[java.io.FileNotFoundException] {
      ZipCsv.readZips(spark, Seq(new File(dir, "missing.zip").getAbsolutePath),
        roles, Set("dt")).collect()
    }
  }
}
