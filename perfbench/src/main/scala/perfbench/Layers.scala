package perfbench

/** Per-layer figures of a traced run, summarised from the trace's job
  * records and spans over the timed phase's ops.
  *
  * The result line carries a fixed set of names (`ResultNames`, the
  * `per_layer` list of BENCHMARK.json) for every workload. A layer a
  * workload never touches reads 0 there, so module and span times enter
  * the result line as shares of op wall (or of task time); their absolute
  * seconds per op go to the report lines and the trace artifact. */
object Layers {
  /** Stage-side key of the ZipCsv scan (see `Trace.isZipCsvScan`). */
  val Scan = "sources.ZipCsv"
  /** Call-site modules named in the result line. */
  val Modules: Seq[String] = Seq("cache.IncrementalStore", "core.Stores",
    "streaming.IngestFuzzy", "streaming.IngestFingerprints", "streaming.IngestDedup",
    "streaming.IngestVectors", "operators.Lexical", "operators.Dedup", "operators.Similarity")
  /** The engine's `graft.*` packages that submit jobs. `sources` has its
    * scan attributed from the stage side (`Scan`); `functions` (Coerce,
    * Normalize, the codegen kernels) runs inside other modules' stages with
    * no stage or call site of its own; `profile` runs on the driver only
    * (its spans time it). None of the three has a package key. */
  val Packages: Seq[String] = Seq("operators", "core", "cache", "reports", "streaming")
  /** Driver-only spans around the workloads' calls. */
  val Spans: Seq[String] = Seq("profile.Profiler", "profile.Manifest", "reports.analysis",
    "reports.chart")

  private val Spark: Seq[(String, String)] = Seq(
    "spark.driver_gap_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.core_util" -> "frac", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.output_bytes" -> "B", "spark.persists_leaked" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "frac")

  private val Workload: Seq[(String, String)] = Seq(
    "cache.reuse_ratio" -> "frac", "cache.bytes" -> "B", "streaming.gate_drop_ratio" -> "frac")

  private def attributed(key: String): Seq[(String, String)] =
    Seq(s"$key.jobs" -> "count", s"$key.job_share" -> "frac", s"$key.task_share" -> "frac")

  /** Every name of the result line, with its unit, in print order. */
  val ResultNames: Seq[(String, String)] =
    Spark ++ Workload ++ Spans.map(k => s"$k.share" -> "frac") ++
      (Scan +: (Modules ++ Packages)).flatMap(attributed)

  /** Package of a call-site module: `streaming.IngestFuzzy` → `streaming`. */
  def packageOf(site: String): Option[String] =
    Some(site.takeWhile(_ != '.')).filter(Packages.contains)

  /** (result-line metrics, report-line metrics, trace artifact JSON). */
  def metrics(t: Trace, b: Bench, w: Workload, cpus: Int, gcS: Double,
              heapPeakMb: Double): (Seq[Metric], Seq[Metric], String) = {
    val ops = b.ops.toSeq
    val opIds = ops.map(_.id).toSet
    val jobs = t.jobRecords.filter(j => opIds(j.op))
    val site = jobs.map(j => j -> t.siteOf(j)).toMap
    val byOp = jobs.groupBy(_.op)
    val n = math.max(1, ops.length).toDouble
    val wall = ops.map(_.seconds).sum
    val taskS = jobs.map(_.taskMs).sum / 1e3
    def perOp(f: Trace.JobRec => Double) = jobs.map(f).sum / n
    def covered(js: Seq[Trace.JobRec]) = Trace.unionSeconds(js.map(j => (j.startMs, j.endMs)))
    val gaps = ops.map { o =>
      val js = byOp.getOrElse(o.id, Nil)
        .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
      math.max(0.0, o.seconds - Trace.unionSeconds(js))
    }
    val spans = t.spans.filter(s => opIds(s.op))
    val vals = scala.collection.mutable.LinkedHashMap[String, Double](
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.jobs" -> jobs.length / n,
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.task_s" -> perOp(_.taskMs / 1e3),
      "spark.task_cpu_s" -> perOp(_.taskCpuNs / 1e9),
      "spark.core_util" -> (if (wall > 0) taskS / (wall * cpus) else 0.0),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.input_bytes" -> perOp(_.input),
      "spark.output_bytes" -> perOp(_.output),
      "spark.persists_leaked" -> ops.map(_.persisted).sum.toDouble,
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_frac" -> (if (wall > 0) t.callbackSeconds / wall else 0.0))
    val wl = w.layers(b)
    Seq("cache.reuse_ratio", "cache.bytes", "streaming.gate_drop_ratio")
      .foreach(k => vals(k) = wl.getOrElse(k, 0.0))
    // query classes are report lines: query_catalog is outside the
    // result line's workload list (see README.md)
    val classes = w match {
      case q: QueryCatalog => QueryCatalog.Classes.map(c => c -> ops.filter(o => q.classFor(o.label) == c))
      case _ => Nil
    }
    val spanSeconds = Spans.map(k => k -> spans.filter(_.name == k).map(_.seconds).sum)
    spanSeconds.foreach { case (k, s) => vals(s"$k.share") = if (wall > 0) s / wall else 0.0 }
    def attribute(key: String, js: Seq[Trace.JobRec], taskMs: Trace.JobRec => Long = _.taskMs): Unit = {
      vals(s"$key.jobs") = js.length / n
      vals(s"$key.job_share") = if (wall > 0) covered(js) / wall else 0.0
      vals(s"$key.task_share") = if (taskS > 0) js.map(taskMs).sum / 1e3 / taskS else 0.0
    }
    // the scan's jobs are the jobs that ran a scan task; its task share
    // counts the scan stages' tasks only
    val scanJobs = jobs.filter(_.scanTasks > 0)
    attribute(Scan, scanJobs, _.scanTaskMs)
    Modules.foreach(m => attribute(m, jobs.filter(site(_) == m)))
    Packages.foreach(p => attribute(p, jobs.filter(j => packageOf(site(j)).contains(p))))
    val result = ResultNames.map { case (k, u) => Metric(k, vals(k), u) }

    // report lines: absolute seconds per op for every module seen and span
    // (the result line's figures are printed as the last line)
    val sites = jobs.groupBy(site).toSeq.sortBy(-_._2.map(_.seconds).sum)
    val report =
      Seq(Metric(s"$Scan.jobs", scanJobs.length / n, "count", ops.length, "per op, jobs that ran a scan stage"),
        Metric(s"$Scan.task_s", scanJobs.map(_.scanTaskMs).sum / 1e3 / n, "s", ops.length,
          "per op, task time of the scan stages")).filter(_ => scanJobs.nonEmpty) ++
      sites.flatMap { case (site, js) => Seq(
        Metric(s"$site.jobs", js.length / n, "count", ops.length, "per op"),
        Metric(s"$site.job_s", covered(js) / n, "s", ops.length, "per op, union of job intervals"),
        Metric(s"$site.task_s", js.map(_.taskMs).sum / 1e3 / n, "s", ops.length, "per op")) } ++
      spanSeconds.map { case (k, s) =>
        Metric(if (k.startsWith("reports.")) s"${k}_s" else s"$k.s", s / n, "s", ops.length, "per op") } ++
      classes.flatMap { case (c, cOps) => Seq(
        Metric(s"catalog.$c.share", if (wall > 0) cOps.map(_.seconds).sum / wall else 0.0, "frac",
          cOps.length, "share of op wall"),
        Metric(s"catalog.$c.jobs", cOps.map(o => byOp.getOrElse(o.id, Nil).length).sum.toDouble /
          math.max(1, cOps.length), "count", cOps.length, "per op")) }

    val opJson = ops.map { o =>
      val js = byOp.getOrElse(o.id, Nil)
      val siteCounts = js.groupBy(site).toSeq.sortBy(_._1)
        .map { case (s, xs) => s""""$s":${xs.length}""" }.mkString("{", ",", "}")
      s"""{"op":${o.id},"pass":${o.pass},"kind":"${o.kind}","label":"${o.label}",""" +
        s""""seconds":${o.seconds},"ok":${o.ok},"jobs":${js.length},"stages":${js.map(_.stages).sum},""" +
        s""""tasks":${js.map(_.tasks).sum},"task_s":${js.map(_.taskMs).sum / 1e3},""" +
        s""""driver_gap_s":${gaps(ops.indexOf(o))},"jobs_by_site":$siteCounts}"""
    }
    val spanJson = spans.map(s => s"""{"op":${s.op},"name":"${s.name}","seconds":${s.seconds}}""")
    val jobJson = jobs.map(j => s"""{"job":${j.jobId},"op":${j.op},"site":"${site(j)}",""" +
      s""""seconds":${j.seconds},"stages":${j.stages},"tasks":${j.tasks},"task_s":${j.taskMs / 1e3},"scan_task_s":${j.scanTaskMs / 1e3}}""")
    val artifact = s"""{"workload":"${w.name}","seed":${b.seed},"cpus":$cpus,""" +
      s""""ops":${opJson.mkString("[\n", ",\n", "]")},"spans":${spanJson.mkString("[\n", ",\n", "]")},""" +
      s""""jobs":${jobJson.mkString("[\n", ",\n", "]")}}""" + "\n"
    (result, report, artifact)
  }
}
