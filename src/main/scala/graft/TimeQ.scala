package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session config mirrors Bench's (same cpu env var, same derived
    // shuffle partitions, same extensions) so regression-chasing runs
    // are apples-to-apples with the driver's bench artifact
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // TIMEQ_JOBS=1: per-job attribution — prints every Spark job's wall
    // time with its call site, so a slow query's seconds map to the
    // exact action (count/collect/write at file:line) that spent them.
    // Measurement-only; Bench never sets it.
    // TIMEQ_STAGES=1: per-stage attribution with RDD scope (operator)
    // names — what the opaque AQE stage-materialization jobs actually
    // run. Measurement-only; Bench never sets it.
    if (sys.env.get("TIMEQ_STAGES").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = (for (s <- si.submissionTime; c <- si.completionTime)
            yield (c - s) / 1e3).getOrElse(-1.0)
          if (dur >= 0.02) {
            val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope)
              .map(_.name).distinct.mkString(" > ")
            println(f"[stage] ${si.stageId}%4d $dur%7.3f s  n=${si.numTasks}%-4d $scopes")
          }
        }
      })
    }
    if (sys.env.get("TIMEQ_JOBS").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val sorted = js.stageInfos.sortBy(_.stageId)
          val last = sorted.lastOption.map(_.name).getOrElse("?")
          def graftFrame(si: org.apache.spark.scheduler.StageInfo): Option[String] =
            si.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("TimeQ"))
              .map(_.trim.stripPrefix("at ").replaceAll("^graft\\.", ""))
          val site =
            if (!last.contains("withThreadLocalCaptured"))
              last + " [" + js.stageInfos.size + " stages]"
            else sorted.flatMap(graftFrame).distinct
              .mkString("AQE{", " | ", "} [" + js.stageInfos.size + " stages]")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
            val sec = (System.nanoTime() - t0) / 1e9
            if (sec >= 0.02)
              println(f"[job] ${je.jobId}%4d $sec%7.3f s  $site")
          }
        }
      })
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (name <- args; i <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[time] $name run$i ${(System.nanoTime()-t0)/1e9}%.2f s rows=$n")
      // release per rep like Bench does, so persisting queries (minhash/
      // tfidf family) time the same cold-cache work in both harnesses
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
