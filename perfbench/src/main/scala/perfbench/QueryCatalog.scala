package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An analyst running the named query catalogue. A pass runs every query
  * of the subset once, in the subset's fixed order; each query is one op:
  * build it, then one aggregate action over its result that yields the row
  * count and an order-insensitive checksum (the count Bench times, plus
  * the hash the check needs, in the same job); then release persisted
  * data outside the clock, as Bench does.
  *
  * The order is fixed, not drawn from the seed: a run measures one pass in
  * a fresh JVM, where each query's latency depends on the JIT work the
  * queries before it already paid for, so a seed-shuffled order moved
  * op_p50_s between runs by far more than the engine's own noise.
  *
  * The tables are the committed copy of the repository's sf0.01 test data, read
  * only. Checks: row count and checksum equal `catalog_expected.tsv`. */
final class QueryCatalog(dataDir: File, expectedFile: File) extends Workload {
  import QueryCatalog._
  val name = "query_catalog"

  private lazy val expected: Map[String, (Long, BigDecimal)] =
    scala.io.Source.fromFile(expectedFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, BigDecimal(a(2)))).toMap

  private lazy val queries: Seq[(String, String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Subset.map { case (prefix, cls) =>
      val (n, fn) = graft.SparkEntry.queries.find(_._1.startsWith(prefix + "_"))
        .getOrElse(sys.error(s"no catalogue query $prefix"))
      (n, cls, fn)
    }

  def setup(b: Bench): Unit = {
    require(new File(dataDir, "lineitem.parquet").exists(), s"no tables under $dataDir")
    // as Bench: touch every table once so the first query does not pay
    // for the first parquet footer reads
    Tables.foreach(t => b.spark.read.parquet(new File(dataDir, s"$t.parquet").getPath).count())
    queries
  }

  def pass(b: Bench): Unit = {
    queries.foreach { case (n, _, fn) =>
      b.op("query", n) {
        rowsAndChecksum(fn(b.spark, dataDir.getPath))
      } { got =>
        expected.get(n) match {
          case None => Some("no expected value kept for this query")
          case Some(want) if want != got => Some(s"got rows,checksum $got, expected $want")
          case _ => None
        }
      }
      b.releasePersisted()
    }
  }

  def classFor(label: String): String =
    Subset.collectFirst { case (p, c) if label.startsWith(p + "_") => c }.getOrElse("other")

  def report(b: Bench, passWalls: Seq[Double]): Seq[Metric] = Classes.map { c =>
    val xs = b.ops.filter(o => o.kind == "query" && classFor(o.label) == c).map(_.seconds).toSeq
    Metric(s"catalog.$c.s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.length,
      "median op latency of the class")
  }

  def layers(b: Bench): Map[String, Double] = Map.empty
}

object QueryCatalog {
  /** The query subset and its classes (see README.md for the selection). */
  val Subset: Seq[(String, String)] =
    Seq("q02", "q05", "q06", "q07", "q08", "q10", "q16", "q17", "q75").map(_ -> "light") ++
    Seq("q183" -> "store", "q37" -> "pinned", "q153" -> "kernel")

  val Classes: Seq[String] = Seq("light", "store", "pinned", "kernel")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Floating values are hashed at 6 significant digits so that the
    * checksum does not depend on summation order across partitions. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.5e", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.5e", x))
    case _ => c
  }

  /** (row count, sum of per-row xxhash64) in one aggregate action. */
  def rowsAndChecksum(df: DataFrame): (Long, BigDecimal) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
