package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's instrumentation: one `SparkListener` on the session's
  * listener bus plus driver-side spans around the benchmark's calls into
  * the engine. Nothing is printed while the workload runs; records stay in
  * memory and are summarised (and written out) once the timed phase ends.
  *
  * Jobs are tied to the benchmark op that submitted them through a local
  * property (`perfbench.op`), which Spark copies onto every job the op's
  * thread submits, including AQE's stage-materialisation jobs. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  /** stages that run a ZipCsv V2 scan */
  private val scanStages = new ConcurrentHashMap[Int, Boolean]()
  private val executions = new ConcurrentHashMap[Long, String]()
  /** nanoseconds spent inside this listener's callbacks */
  private val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = timed {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(OpProperty).map(_.toInt).getOrElse(-1)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val details = js.stageInfos.sortBy(_.stageId).map(si => (si.name, si.details))
    js.stageInfos.filter(si => si.rddInfos.exists(r => r.scope.exists(sc => isZipCsvScan(sc.name))))
      .foreach(si => scanStages.put(si.stageId, true))
    jobs.put(js.jobId, new JobRec(js.jobId, op, exec, js.time, callSite(details), js.stageInfos.size))
    js.stageIds.foreach(s => stageToJob.putIfAbsent(s, js.jobId))
  }

  /** A SQL execution's start event carries the call site of the action
    * that started it, taken on the caller's thread — the only place the
    * caller's frames survive for the jobs AQE submits from its own pool. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, engineFrame(s.details).getOrElse(BenchAction))
      case _ =>
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = timed {
    val m = te.taskMetrics
    val scan = scanStages.containsKey(te.stageId)
    Option(stageToJob.get(te.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (scan) r.scanTasks += 1
        if (m != null) {
          r.taskMs += m.executorRunTime
          if (scan) r.scanTaskMs += m.executorRunTime
          r.taskCpuNs += m.executorCpuTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
          r.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Run `body` as op `id`: every job it submits is attributed to it. */
  def op[A](id: Int)(body: => A): A = {
    sc.setLocalProperty(OpProperty, id.toString)
    try body finally sc.setLocalProperty(OpProperty, null)
  }

  /** A driver-side span (e.g. `profile.Profiler`) inside op `opId`. */
  def span[A](opId: Int, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally {
      val s = Span(opId, name, (System.nanoTime() - t0) / 1e9)
      spanBuf.synchronized(spanBuf += s)
    }
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobRecords: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  /** A job's module: its own stages' engine frame, else that of the SQL
    * execution it ran under, else the benchmark's own action. */
  def siteOf(j: JobRec): String =
    j.ownSite.orElse(Option(executions.get(j.exec))).getOrElse(BenchAction)
  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def callbackSeconds: Double = callbackNs.get / 1e9
}

object Trace {
  val OpProperty = "perfbench.op"
  /** Attribution key for jobs submitted from no engine frame: the op's
    * own terminal action (the benchmark's `count`/aggregate). */
  val BenchAction = "bench.action"

  final class JobRec(val jobId: Int, val op: Int, val exec: Long, val startMs: Long,
                     val ownSite: Option[String], val stages: Int) {
    var endMs: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    /** tasks (and their run time) of the job's ZipCsv scan stages */
    var scanTasks = 0L
    var scanTaskMs = 0L
    var taskCpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  }

  final case class Span(op: Int, name: String, seconds: Double)

  /** The ZipCsv V2 scan is lazy: it runs inside whatever job consumes it
    * (IncrementalStore's partial write), so no call-site frame names it.
    * Its stages are recognised instead by the RDD scope Spark gives the
    * scan node, `BatchScan zipcsv(<path>)` (the table's name). */
  def isZipCsvScan(scope: String): Boolean = scope.startsWith("BatchScan zipcsv(")

  private val Frame = """^(?:at\s+)?graft\.([A-Za-z0-9_.$]+)\.[A-Za-z0-9_$<>]+\(.*$""".r

  /** Module of one stack-frame line: `graft.streaming.IngestFuzzy$.gate(…)`
    * → `streaming.IngestFuzzy`; a top-level `graft.SparkEntry$…` frame →
    * `SparkEntry`. Lines outside the engine give None. */
  def frameModule(line: String): Option[String] = line.trim match {
    case Frame(cls) =>
      val parts = cls.split('.').toSeq
      val obj = parts.last.takeWhile(_ != '$')
      val mod = (parts.init :+ obj).filter(_.nonEmpty).mkString(".")
      if (obj.isEmpty) None else Some(mod)
    case _ => None
  }

  /** The innermost engine frame of one call-site stack, if any. */
  def engineFrame(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).flatMap(frameModule).nextOption()

  /** The job's call-site module from its stages' call sites, searched the
    * way TimeQ's `TIMEQ_JOBS` does: the final stage first, then every stage
    * when the final one was submitted from AQE's `withThreadLocalCaptured`
    * pool. None when no stage carries an engine frame. */
  def callSite(stages: Seq[(String, String)]): Option[String] =
    stages.lastOption.filterNot(_._1.contains("withThreadLocalCaptured"))
      .flatMap(s => engineFrame(s._2))
      .orElse(stages.reverseIterator.flatMap(s => engineFrame(s._2)).nextOption())

  /** Length of the union of [start, end] intervals (ms), in seconds. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
