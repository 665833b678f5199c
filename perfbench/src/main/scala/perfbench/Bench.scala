package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed op as the closed-loop client saw it. */
final case class OpRec(id: Int, pass: Int, kind: String, label: String,
                       seconds: Double, startMs: Long, endMs: Long,
                       ok: Boolean, note: String, persisted: Int)

/** What a workload hands to the report besides its ops. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1,
                        detail: String = "")

/** The client's side of a run: the session, the seed, a scratch directory
  * inside the checkout, the optional trace, and the op log. */
final class Bench(val spark: SparkSession, val seed: Long, val work: File,
                  val trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  private var nextId = 0
  private var current = -1

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }

  /** Run one op with the clock around `body` only; `check` runs after the
    * clock stops and returns a failure message, if any. An exception in
    * either marks the op failed; the loop goes on. */
  def op[A](kind: String, label: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val id = nextId
    nextId += 1
    current = id
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(trace.fold(body)(_.op(id)(body))) catch { case e: Exception => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    current = -1
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val err = res match {
      case Left(e) => Some(s"error: $e")
      case Right(a) => try check(a) catch { case e: Exception => Some(s"check error: $e") }
    }
    err.foreach(m => System.err.println(s"[perfbench] $kind $label failed: $m"))
    ops += OpRec(id, pass, kind, label, sec, startMs, endMs, err.isEmpty,
      err.getOrElse(""), persisted)
    res.toOption
  }

  /** A driver-side span inside the running op (traced runs only). */
  def span[A](name: String)(body: => A): A =
    trace.fold(body)(_.span(current, name)(body))

  /** Drop every cached plan and persisted RDD, as Bench does between queries. */
  def releasePersisted(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** A closed-loop workload: inputs and stores are made in `setup`; a pass
  * is a fixed amount of work whose ops run one after another. */
trait Workload {
  def name: String
  /** Times one run repeats `setup`, each from scratch; setup_s takes the
    * median. */
  def setupReps: Int = 3
  /** Runs once, before the set-ups: pays for the class loading and JIT of
    * the workload's code path, so that no timed op does. */
  def warmup(b: Bench): Unit = ()
  def setup(b: Bench): Unit
  def pass(b: Bench): Unit
  /** Workload-specific end-to-end figures for the report lines. */
  def report(b: Bench, passWalls: Seq[Double]): Seq[Metric]
  /** Workload-specific per-layer figures (traced runs). */
  def layers(b: Bench): Map[String, Double]
}

object Dirs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }
}
