package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <checkout> --work <scratch dir> --out <artifact dir>
  *
  * Prints one report line per metric, then, as the last line, the result
  * object `{"correct", "attempted", "failed", "metrics"}` whose metrics are
  * the end-to-end set (`--trace 0`) or the per-layer set (`--trace 1`). */
object Main {

  /** Any failure exits non-zero without a result line; shutdown hooks stop
    * the session. */
  def main(args: Array[String]): Unit =
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = new File(opt("root"))
    val work = new File(opt("work"))
    val outDir = new File(opt("out"))
    val workload: Workload = opt("workload") match {
      case "focos_daily" => new FocosDaily()
      case "query_catalog" => new QueryCatalog(new File(root, "perfbench/data/sf0.01"),
        new File(root, "perfbench/catalog_expected.tsv"))
      case "curation_ingest" => new CurationIngest()
      case other => sys.error(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // Bench's session, key for key
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.csv.parser.columnPruning.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val b = new Bench(spark, seed, work, trace)
    val sessionS = sinceStart

    // the first step of Bench's generic warm-up (the first job's class
    // loading), so that no op pays for it; the rest of that warm-up adds
    // 3-6 s a run, more than the run budget leaves. Then the workload's own
    // warm-up.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    workload.warmup(b)
    val warmS = sinceStart - sessionS
    // the workload's own set-up (inputs, stores) runs setupReps times, each
    // from scratch. setup_s is the one-off JVM and session start and
    // warm-up plus the median set-up
    val setups = (1 to workload.setupReps).map { _ =>
      val t = System.nanoTime()
      workload.setup(b)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + warmS + Stats.median(setups)

    val gcBefore = gcMillis()
    heapPools.foreach(_.resetPeakUsage())
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var lastClock = 0.0
    // whole passes only: another starts when it should end within --seconds
    while (passWalls.isEmpty || (System.nanoTime() - t0) / 1e9 + lastClock <= seconds) {
      val (first, p0) = (b.ops.length, System.nanoTime())
      workload.pass(b)
      passWalls += b.ops.drop(first).map(_.seconds).sum
      lastClock = (System.nanoTime() - p0) / 1e9
      b.pass += 1
    }
    val gcS = (gcMillis() - gcBefore) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    trace.foreach(_.drain())

    val ops = b.ops.toSeq
    // each pass's first op starts on an empty cache or freshly seeded
    // stores (focos: the cold build); the ops after it are the warm ones
    val (cold, warm) = ops.groupBy(_.pass).values.toSeq
      .map(_.sortBy(_.id)).map(p => (p.head, p.tail)).unzip
    val coldLat = cold.map(_.seconds)
    val lat = warm.flatten.sortBy(_.id).map(_.seconds)
    val failed = ops.count(!_.ok)
    val e2e: Seq[Metric] = Seq(
      Metric("setup_s", setupS, "s", setups.length,
        "JVM start to session ready, warm-up, and the median workload set-up"),
      Metric("wall_s", Stats.median(passWalls.toSeq), "s", passWalls.length,
        "median pass wall: the pass's op latencies summed"),
      Metric("op_p50_s", Stats.median(lat), "s", lat.length, "ops after the first of each pass"),
      Metric("cold_op_s", Stats.median(coldLat), "s", coldLat.length,
        "the first op of each pass"))
    val tail = Stats.tail(lat).map(t => Metric("op_tail_s", t.value, "s", t.n,
      f"p${t.percentile}%s with ${t.beyond} samples beyond"))
    val setupParts = Seq(Metric("setup.session_s", sessionS, "s", 1, "JVM start to session ready"),
      Metric("setup.warmup_s", warmS, "s"),
      Metric("setup.inputs_s", Stats.median(setups), "s", setups.length,
        s"median workload set-up (inputs and stores), of ${setups.map(x => f"$x%.3f").mkString(" ")}"))
    val extra = setupParts ++ Seq(Metric("failed_frac", failed.toDouble / math.max(1, ops.length), "frac", ops.length)) ++
      workload.report(b, passWalls.toSeq)
    val layer = trace.map(t => Layers.metrics(t, b, workload, cpus, gcS, heapPeakMb))

    val name = workload.name
    (e2e ++ tail ++ extra).foreach(m => println(line(name, m)))
    if (tail.isEmpty) println(s"""{"workload":"$name","metric":"op_tail_s","omitted":"${lat.length} samples support nothing above p50"}""")
    println(s"""{"workload":"$name","op_samples_s":${lat.map(num).mkString("[", ",", "]")}}""")
    layer.foreach(_._2.foreach(m => println(line(name, m))))
    layer.foreach { case (_, _, artifact) =>
      outDir.mkdirs()
      val f = new File(outDir, s"trace_${name}_seed$seed.json")
      java.nio.file.Files.write(f.toPath, artifact.getBytes(StandardCharsets.UTF_8))
      println(s"""{"workload":"$name","trace_artifact":"${f.getName}"}""")
    }
    val result = layer.map(_._1).getOrElse(e2e)
    val metrics = result.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"correct":${failed == 0},"attempted":${ops.length},"failed":$failed,"metrics":$metrics}""")
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def line(workload: String, m: Metric): String = {
    val d = if (m.detail.isEmpty) "" else s""","detail":"${m.detail}""""
    s"""{"workload":"$workload","metric":"${m.name}","value":${num(m.value)},"unit":"${m.unit}","n":${m.n}$d}"""
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
}
