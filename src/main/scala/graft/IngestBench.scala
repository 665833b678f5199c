package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Volume measurement for the ingest path (SURVEY §2.1 S1–S3): writes
  * `nZips` synthetic focos-style archives (each one CSV member of
  * `rowsPerZip` rows, mixed ';'/',' dialects, utf-8), then times the
  * canonical V2 ZIP scan and the full Focos pipeline (scan → normalize
  * → 8-way grouping sets) over the archive set. One JSON line per
  * metric, ScaleReport-style.
  *
  * Usage: runMain graft.IngestBench <workDir> [nZips] [rowsPerZip]
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val workDir = new File(args(0))
    val nZips = if (args.length > 1) args(1).toInt else 100
    val rowsPerZip = if (args.length > 2) args(2).toInt else 20000
    workDir.mkdirs()

    // deterministic archive generation (driver-side, one-time)
    val states = Array("AMAZONAS", "PARA", "MATO GROSSO", "RONDONIA", "ACRE")
    val biomes = Array("Amazônia", "Cerrado", "Pantanal")
    val sats = Array("AQUA_M-T", "TERRA", "NOAA-20")
    val t0gen = System.nanoTime()
    (0 until nZips).foreach { z =>
      val f = new File(workDir, f"focos_$z%04d.zip")
      if (!f.exists()) { // reuse archives across runs
        val d = if (z % 2 == 0) ';' else ','
        val zout = new ZipOutputStream(new FileOutputStream(f))
        zout.putNextEntry(new ZipEntry(f"focos_br_$z%04d.csv"))
        val sb = new StringBuilder(s"id${d}data_pas${d}estado${d}bioma${d}satelite\n")
        var i = 0
        while (i < rowsPerZip) {
          val h = (z * 31L + i * 7L)
          sb.append(i).append(d)
            .append(f"202${z % 4}%d-${(h % 12) + 1}%02d-${(h % 28) + 1}%02d 10:00:00").append(d)
            .append(states((h % states.length).toInt)).append(d)
            .append(biomes((h % biomes.length).toInt)).append(d)
            .append(sats((h % sats.length).toInt)).append('\n')
          if (sb.length > (1 << 20)) { zout.write(sb.toString.getBytes("UTF-8")); sb.clear() }
          i += 1
        }
        zout.write(sb.toString.getBytes("UTF-8"))
        zout.closeEntry(); zout.close()
      }
    }
    val genSec = (System.nanoTime() - t0gen) / 1e9
    val totalBytes = workDir.listFiles().filter(_.getName.endsWith(".zip")).map(_.length).sum
    println(f"""{"op":"gen","zips":$nZips,"rows":${nZips.toLong * rowsPerZip},"bytes":$totalBytes,"sec":$genSec%.2f}""")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val glob = workDir.getAbsolutePath + "/*.zip"
    // absorb first-action JIT/codegen so timings are steady-state
    // (Bench methodology — a cold first action costs seconds on its own)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.sources.ZipCsv.readZips(spark,
      new File(workDir, "focos_0000.zip").getAbsolutePath,
      graft.operators.Focos.Roles, graft.operators.Focos.RequiredRoles).count()

    def scan() = graft.sources.ZipCsv.readZips(spark, glob,
      graft.operators.Focos.Roles, graft.operators.Focos.RequiredRoles)
    def timed(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      println(f"""{"op":"$name","rows":$rows,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    // row count only — the scan prunes every role, pure parse throughput
    timed("zip_scan_count")(scan().count())
    // all four roles materialized (no pruning possible)
    timed("zip_scan_full_width") {
      scan().selectExpr("max(length(raw_datetime))", "max(length(raw_state))",
        "max(length(raw_biome))", "max(length(raw_satellite))").collect(); 1L
    }
    // one role materialized — source-level pruning skips the other three
    timed("zip_scan_one_role") {
      scan().selectExpr("max(length(raw_datetime))").collect(); 1L
    }
    // flagship end-to-end: scan → normalize/coerce/filter → 8-way
    // grouping sets (the reference's daily pipeline shape)
    timed("focos_pipeline_end_to_end") {
      graft.operators.Focos.groupingSetCounts(
        graft.operators.Focos.fromZips(spark, glob)).count()
    }
    spark.stop()
  }
}
