package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private val userStack = Seq(
    "org.apache.spark.sql.Dataset.count(Dataset.scala:3500)",
    "graft.streaming.IngestFuzzy$.$anonfun$gateBatchStats$4(IngestFuzzy.scala:301)",
    "graft.streaming.IngestPipeline$.processBatch(IngestPipeline.scala:120)",
    "perfbench.CurationIngest.pass(CurationIngest.scala:84)").mkString("\n")
  private val aqeStack = Seq(
    "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
    "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
    "java.base/java.lang.Thread.run(Thread.java:840)").mkString("\n")

  test("frame modules: package and object, anonymous and companion suffixes dropped") {
    assert(Trace.frameModule("graft.operators.Dedup$$anonfun$1.apply(Dedup.scala:10)")
      .contains("operators.Dedup"))
    assert(Trace.frameModule("at graft.cache.IncrementalStore.build(IncrementalStore.scala:60)")
      .contains("cache.IncrementalStore"))
    assert(Trace.frameModule("graft.SparkEntry$.$anonfun$queries$5(SparkEntry.scala:60)")
      .contains("SparkEntry"))
    assert(Trace.frameModule("perfbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Trace.frameModule("org.apache.spark.rdd.RDD.count(RDD.scala:1)").isEmpty)
  }

  test("a job is attributed to the innermost engine frame of its final stage") {
    assert(Trace.callSite(Seq("count at IngestFuzzy.scala:301" -> userStack))
      .contains("streaming.IngestFuzzy"))
  }

  test("an AQE final stage falls back to the other stages, else to nothing") {
    val aqe = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
    assert(Trace.callSite(Seq("count at X" -> userStack, aqe -> aqeStack))
      .contains("streaming.IngestFuzzy"))
    assert(Trace.callSite(Seq(aqe -> aqeStack)).isEmpty)
    assert(Trace.callSite(Seq("count at Main.scala:1" -> "perfbench.Main$.main(Main.scala:1)")).isEmpty)
  }

  test("ZipCsv scan stages are recognised by the scan node's RDD scope") {
    assert(Trace.isZipCsvScan("BatchScan zipcsv(/data/focos_br_ref_2020.zip)"))
    assert(!Trace.isZipCsvScan("Scan parquet "))
    assert(!Trace.isZipCsvScan("WholeStageCodegen (1)"))
  }

  test("union of job intervals counts overlaps once") {
    assert(Trace.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0)
    assert(Trace.unionSeconds(Seq((0L, 1000L), (100L, 200L))) == 1.0)
    assert(Trace.unionSeconds(Seq((10L, 5L))) == 0.0)
    assert(Trace.unionSeconds(Nil) == 0.0)
  }

  test("package of a call-site module") {
    assert(Layers.packageOf("streaming.IngestFuzzy").contains("streaming"))
    assert(Layers.packageOf(Trace.BenchAction).isEmpty)
    assert(Layers.packageOf("SparkEntry").isEmpty)
  }
}
