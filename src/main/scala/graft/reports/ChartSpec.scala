package graft.reports

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.profile.{JArr, JNum, JNull, JObj, JStr, JVal}

/** Chart-spec assembly (SURVEY.md §1.1 "Chart spec"; reference:
  * social/bdqueimadas_monthly_chart.py:312-418 `compute_chart_spec`):
  * current-year monthly series vs previous year vs the 5-closed-year
  * monthly average, emitted as a JSON spec. The ONLY collect happens
  * here, over ≤3 twelve-point series — everything upstream is
  * distributed aggregation. Over a local month series (as
  * `FocosReport.build` returns) the collect runs no Spark job.
  *
  * Calendar gating follows the reference: only closed months of the
  * current year are plotted (`monthly_chart.py:100-113`), and the
  * reference month is a PARAMETER — the engine never reads the wall
  * clock (SURVEY §7 "What's hard").
  */
object ChartSpec {

  case class Spec(monthLabels: Seq[String], current: Seq[Option[Long]],
                  previous: Seq[Option[Long]], avg5y: Seq[Option[Double]],
                  metadata: Seq[(String, String)])

  /** From a (m "yyyy-MM", cnt) monthly series: build the three series for
    * `refYear` with months after `lastClosedMonth` (1-12) masked out of
    * the current year. */
  def fromMonthly(monthly: DataFrame, refYear: Int, lastClosedMonth: Int): Spec = {
    val byMonth = monthly
      .select(substring(col("m"), 1, 4).cast("int").as("y"),
              substring(col("m"), 6, 2).cast("int").as("mm"),
              col("cnt").cast("long").as("cnt"))
      .where(col("y").between(refYear - 6, refYear))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    def series(y: Int, gate: Int => Boolean): Seq[Option[Long]] =
      (1 to 12).map(mm => if (gate(mm)) byMonth.get((y, mm)) else None)

    val avg = (1 to 12).map { mm =>
      val vals = (refYear - 5 until refYear)
        .flatMap(y => byMonth.get((y, mm))).filter(_ > 0)
      if (vals.isEmpty) None else Some(vals.sum.toDouble / vals.length)
    }

    Spec(
      monthLabels = Seq("jan", "fev", "mar", "abr", "mai", "jun",
        "jul", "ago", "set", "out", "nov", "dez"),
      current = series(refYear, _ <= lastClosedMonth),
      previous = series(refYear - 1, _ => true),
      avg5y = avg,
      metadata = Seq(
        "reference_year" -> refYear.toString,
        "last_closed_month" -> lastClosedMonth.toString,
        "avg_window" -> s"${refYear - 5}-${refYear - 1}"))
  }

  def toJson(s: Spec): String = {
    def longs(xs: Seq[Option[Long]]) = JArr(xs.map(_.fold[JVal](JNull)(v => JNum(v.toDouble))))
    JVal.render(JObj(Seq(
      "month_labels" -> JArr(s.monthLabels.map(JStr)),
      "series" -> JObj(Seq(
        "current" -> longs(s.current),
        "previous" -> longs(s.previous),
        "avg_5y" -> JArr(s.avg5y.map(_.fold[JVal](JNull)(JNum))))),
      "metadata" -> JObj(s.metadata.map { case (k, v) => k -> JStr(v) }))))
  }
}
