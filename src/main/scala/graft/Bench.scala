package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // validated once: the raw env string feeds local[$cpus] (where
    // Spark tolerates e.g. a leading zero), but the JSON lines must
    // emit a canonical int or the driver's by-key parse breaks
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/classloading paths shared by every query (vectorized
    // parquet reader, shuffle, window, broadcast machinery) so measured
    // times reflect steady-state throughput, not first-touch JIT. The
    // warmup is generic — it never runs the benchmarked queries.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warm = spark.range(10000L).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    warm.groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).collect()
    warm.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn").count()
    warm.join(org.apache.spark.sql.functions.broadcast(warm.limit(10)), "k").count()
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet").count()
               catch { case _: Throwable => () })
    // Per-query: one untimed warmup run (absorbs first-touch Janino
    // codegen — round-1 showed q37 at 14.9 s cold vs 0.4 s steady), then
    // the MIN over 3 timed reps. Min, not median: this box shows bursty
    // host-level stalls (round 4 measured the identical 89-query suite
    // at 67 s and 161 s back-to-back, with *different* queries slow each
    // time — 20 s medians on queries whose steady state is 0.3 s). Stall
    // noise is strictly additive, so the minimum is the throughput
    // signal; a median absorbs any stall window spanning 2 of 3 reps.
    //
    // Reps are INTERLEAVED round-robin across the whole suite (pass 1
    // runs every query once, then pass 2, then pass 3) instead of
    // back-to-back per query: round 4's artifact showed that a stall
    // window spanning one query's 4 consecutive runs defeats a
    // back-to-back min (q56 reported 77.8 s vs 2.1 s steady-state).
    // With interleaving, a query's reps sit minutes apart, so a stall
    // must span the ENTIRE suite ×3 to survive into the reported min.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Persist hygiene: the dedup/similarity family persists intermediates
    // (and GraphX caches internally); release everything between queries
    // so cache growth never accumulates across the suite's 4 runs/query —
    // leftover cached RDDs distort later timings and can spill at scale.
    def releasePersisted(): Int = {
      spark.catalog.clearCache()
      val leftover = spark.sparkContext.getPersistentRDDs
      leftover.values.foreach(_.unpersist(blocking = false))
      leftover.size
    }
    // optional comma-separated allowlist for local iteration — the
    // driver never sets it, so the per-round bench always runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter { case (k, _) => only(k) }.toSeq
    // A query that throws in any pass would time only its way to the
    // throw (~0.01 s, or instantly on a SparkContext an earlier OOM
    // killed): it is left out of every timing and listed under "failed",
    // its first exception class on stderr.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name failed: ${e.getClass.getName}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      releasePersisted()
      sec
    }
    // pass 0 = untimed warmup of every query, then `reps` full timed
    // passes; report each query's min across passes
    selected.foreach { case (name, fn) => once(name, fn) }
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to reps; (name, fn) <- selected) {
      val t = once(name, fn)
      if (!best.contains(name) || t < best(name)) best(name) = t
    }
    val results = best.filter { case (k, _) => !failed(k) }
    val failedJson = failed.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    if (spark.sparkContext.getPersistentRDDs.nonEmpty)
      System.err.println(s"[bench] WARNING: ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs leaked past cleanup")
    // Millisecond precision keeps the one-line JSON compact: the driver
    // retains only a bounded tail of stdout, and 78 queries at full
    // double precision overflow it — the line's head (with the opening
    // brace) gets cut and the driver's parse fails. 3 decimals is below
    // the ±15-30% run noise anyway.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "cpus"/"reps" are ADDITIVE keys (the driver parses by key): the
    // round-13 scaling probe flagged suspect_cpus_ignored against a
    // bench that honors the dial (master + shuffle width both derive
    // from SPARK_GRAFT_CPUS above) because the JSON never said what it
    // ran with — emit it so "honored but overhead-bound at sf0.1" is
    // distinguishable from "ignored".
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"reps":$reps,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // The driver tail-captures ~2 KB of stdout; the full 115-query map
    // overflows it and truncates the line head, so the parse fails
    // (round-5 BENCH had "parsed": null). Mitigation: persist the full
    // map to a committed artifact, then emit a SHORT summary line LAST
    // — total + worst-10 — that always survives the tail capture.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val worst = results.toSeq.sortBy { case (k, v) => (-v, k) }.take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"cpus":$cpus,"reps":$reps,"worst":$worst,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
