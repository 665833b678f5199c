package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.operators.Focos

/** Usage example + smoke driver for the scan layer: builds two focos-style
  * ZIP archives (mixed delimiter/encoding, malformed rows), runs the full
  * scan → normalize → grouping-sets pipeline, prints the aggregates. */
object FocosDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("focos_demo").toFile
    def zip(name: String, member: String, bytes: Array[Byte]): Unit = {
      val z = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
      z.putNextEntry(new ZipEntry(member)); z.write(bytes); z.closeEntry(); z.close()
    }
    zip("focos_2024.zip", "focos_br_2024.csv",
      ("id;data_pas;estado;bioma\n" +
       "1;2024-01-05 10:00:00;Amazonas;Amazônia\n" +
       "2;2024-01-06 11:00:00; ;Cerrado\n" +
       "3;bad-date;Pará;Amazônia\n" +
       "4;2024-02-01 09:30:00;Pará;Amazônia\n").getBytes("UTF-8"))
    zip("focos_2023.zip", "focos_br_2023.csv",
      ("id,data_pas,estado,bioma,satelite\n" +
       "9,2023-03-01 00:00:00,São Paulo,Mata Atlântica,AQUA_M-T\n" +
       "10,2023-03-02 00:00:00,São Paulo,Mata Atlântica,TERRA\n")
        .getBytes(java.nio.charset.Charset.forName("windows-1252")))

    val subset = Focos.fromZips(spark, dir.getAbsolutePath + "/*.zip")
    println(s"[demo] normalized rows: ${subset.count()}")
    subset.show(10, truncate = false)
    Focos.groupingSetCounts(subset)
      .orderBy("g_period", "g_state", "g_biome", "year", "period_month", "state", "biome")
      .show(50, truncate = false)
    spark.stop()
  }
}
