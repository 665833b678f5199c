package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session config mirrors Bench's (same cpu env var, same derived
    // shuffle partitions, same extensions) so regression-chasing runs
    // are apples-to-apples with the driver's bench artifact
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus)
      .config("spark.sql.codegen.wholeStage", sys.env.getOrElse("WSCG", "true"))
      .getOrCreate()
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
      val n = name match {
        case "sig36" =>
          import org.apache.spark.sql.functions._
          val docs = graft.core.Tables.documents(spark, sfDir)
          val tk = split(lower(trim(col("text"))), " ")
          val staged = docs.where(size(tk) >= 3)
            .select(col("doc_id"), transform(tk, t => xxhash64(t)).as("th"))
            .select(col("doc_id"), array_distinct(transform(
              sequence(lit(0), size(col("th")) - lit(3)),
              j => xxhash64(element_at(col("th"), j + lit(1)),
                element_at(col("th"), j + lit(2)),
                element_at(col("th"), j + lit(3))))).as("sh"))
            .select(col("doc_id"), explode(col("sh")).as("s"))
          val nAggs = sys.env.getOrElse("SIG_AGGS", "16").toInt
          if (nAggs == 0) staged.count()
          else {
            val sigCols = (0 until nAggs).map(p => min(xxhash64(lit(p), col("s"))).as(s"h$p"))
            staged.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*).count()
          }
        case "q118stages" =>
          // stage attribution for the five-pipeline composition (judge
          // round-6 task 4): where do q118's seconds live — gate+exact,
          // the LSH near-dup stage, or the split/pack tail — and is the
          // tail plan-bound (fresh plan vs recount, the q65 diagnostic)?
          import org.apache.spark.sql.functions._
          import graft.operators.{Dedup, TrainingData}
          val docs = graft.core.Tables.documents(spark, sfDir)
          def stage[A](tag: String)(f: => A): A = {
            val s = System.nanoTime(); val r = f
            println(f"[stage] $tag ${(System.nanoTime() - s) / 1e9}%.2f s"); r
          }
          val kept = TrainingData.gopherQuality(docs, minWords = 30)
            .where(col("keep")).select("doc_id")
          val canonical = docs.join(kept, Seq("doc_id"))
            .groupBy(md5(col("text")).as("h"))
            .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
          val exactCanon = docs.join(canonical, Seq("doc_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          stage("gopher+exact")(exactCanon.count())
          // dedupCorpus is partly EAGER (minhash persists + GraphX CC
          // run during construction), so time the call itself too
          val n = stage("neardup_construct")(Dedup.dedupCorpus(exactCanon, 0.5)).use { dd =>
            val nd = dd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            stage("neardup_materialize")(nd.count())
            val withSplit = nd.join(
              TrainingData.hashSplit(nd.select("doc_id", "text")), Seq("doc_id"))
            val packed = TrainingData
              .tokenPack(withSplit.where(col("split") === "train"), 500)
              .select(col("doc_id"), col("shard"))
            val res = withSplit.select(col("doc_id"), col("split"),
                size(split(lower(trim(col("text"))), " ")).as("n_tok"))
              .join(packed, Seq("doc_id"), "left")
              .select("doc_id", "split", "n_tok", "shard").orderBy("doc_id")
            stage("tail_fresh_plan")(res.count())
            try stage("tail_recount")(res.count())
            finally nd.unpersist(blocking = false)
          }
          exactCanon.unpersist(blocking = false)
          n
        case "q161stages" =>
          // candidate generation vs verify attribution for the
          // prefix-filter edit join (round-13 single-task stage hunt)
          import org.apache.spark.sql.functions._
          val strs = graft.core.Tables.documents(spark, sfDir)
            .where("doc_id < 2000")
            .selectExpr("doc_id AS id", "substring(text, 1, 32) AS s")
          def stage[A](tag: String)(f: => A): A = {
            val s0 = System.nanoTime(); val r = f
            println(f"[stage-t] $tag ${(System.nanoTime() - s0) / 1e9}%.2f s"); r
          }
          val base = graft.operators.Dedup.edBase(strs)
          stage("base")(base.count())
          val cand = graft.operators.Dedup.edPrefixCandidates(base, 4, 3)
          stage("cand_count")(cand.count())
          // released after the count: a leaked edBase persist would let
          // CacheManager substitute an InMemoryTableScan into reps 2-3's
          // "full" plan — the stage timing would stop measuring the plan
          // it attributes
          val n = graft.operators.Dedup.editDistancePairs(strs, 4)
            .use(fullDf => stage("full")(fullDf.count()))
          base.unpersist(blocking = false)
          n
        case _ => SparkEntry.queries(name)(spark, sfDir).count()
      }
      println(f"[time] $name run$i ${(System.nanoTime()-t0)/1e9}%.2f s rows=$n")
      // release per rep like Bench does, so persisting queries (minhash/
      // tfidf family) time the same cold-cache work in both harnesses
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
