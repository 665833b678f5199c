package graft


/** Plan inspection: prints the formatted physical plan of selected
  * queries (all when no names given). Used to audit scan pruning
  * (PushedFilters / ReadSchema), broadcast decisions, and
  * whole-stage-codegen spans — the at-scale health checks. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // mirror Bench's session knobs so audited plans are the BENCH
    // regime's plans (salt dials, widths): same cpu env var, same
    // derived shuffle partitions
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
