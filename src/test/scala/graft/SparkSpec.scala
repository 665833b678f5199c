package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (the engine's session
  * settings, `graft.core.Session`), a job counter, and the persist-leak
  * check: every RDD a suite persists must be released by the time the
  * suite ends. A suite that leaves one behind fails in `afterAll`,
  * naming the RDDs (the leaked entries are dropped first, so later
  * suites start clean). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    graft.core.Session.builder(4).appName("graft-test").getOrCreate()

  private var persistedAtStart: Set[Int] = Set.empty

  /** Persisted RDDs created since the suite started and still held:
    * id → name. */
  def newPersists: Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !persistedAtStart(id) => id -> String.valueOf(rdd.name)
    }.toMap

  /** Jobs `body` submits, counted by job group through a listener. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "spec-jobs-" + java.util.UUID.randomUUID
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      GraftTestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    persistedAtStart = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  override def afterAll(): Unit = {
    // the session stays alive across suites (getOrCreate shares it)
    val leaked = newPersists
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (leaked.contains(id)) rdd.unpersist(blocking = false)
    }
    super.afterAll()
    if (leaked.nonEmpty)
      fail(s"${getClass.getSimpleName} left ${leaked.size} persisted RDD(s) behind: " +
        leaked.toSeq.sortBy(_._1).map { case (id, n) =>
          s"#$id ${n.replaceAll("\\s+", " ").take(160)}" }.mkString("; "))
  }
}
