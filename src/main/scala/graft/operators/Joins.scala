package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.Cols._
import graft.core.Scoped

/** Join operators (SURVEY.md §2.3).
  *
  * Scale notes: every comparison join here runs over pre-aggregated
  * year/month slices (small) → Catalyst broadcasts them; the key-level
  * anti-join/union patterns (J6/J7/J11) are shuffle hash joins on the
  * overlay key and stay distributed at 100 TB.
  */
object Joins {

  /** Current-vs-previous-year outer merge with fillna(0) + deltas (J1/J2,
    * bdqueimadas_overview.py:922-969). */
  def yoyOuter(orders: DataFrame, curYear: Int): DataFrame = {
    def totals(y: Int, v: String) =
      orders.where(year(col("o_orderdate")) === y)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as(v),
             count(lit(1)).as(v + "_cnt"))
    totals(curYear, "cur").join(totals(curYear - 1, "prev"), Seq("priority"), "full_outer")
      .na.fill(0)
      .select(
        col("priority"),
        col("cur").cast(DoubleType).as("cur"),
        col("prev").cast(DoubleType).as("prev"),
        col("cur_cnt"), col("prev_cnt"),
        (col("cur").cast(DoubleType) - col("prev").cast(DoubleType)).as("delta"))
      .withColumn("pct", safePct(col("cur"), col("prev")))
      .orderBy("priority")
  }

  /** Inner merge of two monthly series on period (J3,
    * social/anp_producao/pipeline.py:294-298). */
  def innerMergeSeries(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val qty = lineitem.groupBy(period(col("l_shipdate")).as("m"))
      .agg(dsum(col("l_quantity")).as("qty"))
    val rev = orders.groupBy(period(col("o_orderdate")).as("m"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    qty.join(rev, Seq("m"), "inner").orderBy("m")
  }

  /** Anti-join + union period overlay (J6, bdqueimadas_overview.py:1368-1429):
    * authoritative patch rows replace base rows for their months. The max
    * month is joined in via a broadcast scalar frame — no driver collect.
    * The scope releases the persisted patch frame. */
  def antiOverlay(lineitem: DataFrame, orders: DataFrame): Scoped[DataFrame] = {
    val base = lineitem.groupBy(period(col("l_shipdate")).as("m"))
      .agg(count(lit(1)).as("cnt")).withColumn("src", lit("base"))
    // max month via a window over the aggregated series (single subtree,
    // no scalar-join that would duplicate the aggregate subplan); the
    // tiny patch is persisted because the anti-join and the union both
    // consume it and Spark re-executes shared subplans per branch.
    val patch = orders.groupBy(period(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("max_m", max(col("m")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .where(col("m") === col("max_m"))
      .select(col("m"), col("cnt")).withColumn("src", lit("patch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scoped(base.join(patch, Seq("m"), "left_anti")
      .unionByName(patch)
      .orderBy("m"))(patch.unpersist(blocking = false))
  }

  /** Incremental manifest merge (J7, cli.py:324-362): retain existing items
    * whose key is absent from the current run, then union the current run. */
  def incrementalMerge(events: DataFrame, splitId: Long): DataFrame = {
    def items(df: DataFrame, src: String) =
      df.groupBy("user_id", "event_type")
        .agg(min(col("event_id")).as("item_id"))
        .withColumn("src", lit(src))
    val existing = items(events.where(col("event_id") < splitId), "existing")
    val current = items(events.where(col("event_id") >= splitId), "current")
    existing.join(current, Seq("user_id", "event_type"), "left_anti")
      .unionByName(current)
      .orderBy("user_id", "event_type")
  }

  /** Map-side dimension join (J8, social/bdqueimadas_daily/pipeline.py:433-453):
    * fact → small dims, explicitly broadcast. */
  def dimBroadcast(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("r_name")

  /** Upsert-by-key last-writer-wins across priority-ordered levels (J11,
    * bdqueimadas_overview.py:1538-1606): union levels, keep highest
    * priority per key via row_number. */
  def upsertPriority(orders: DataFrame, overlayFrom: String): DataFrame =
    // ONE scan + one shuffle: both levels are conditional aggregates of
    // the same (m, priority) group — the overlay level "exists" for a
    // group iff any row passes its filter (cnt2 > 0 in the overlay
    // window), exactly when the round-1 two-scan union emitted an l2 row
    // that the priority window then picked.
    orders.groupBy(period(col("o_orderdate")).as("m"),
                   col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("cnt1"),
           count(when(col("o_orderstatus") =!= "X", 1)).as("cnt2"))
      .select(col("m"), col("priority"),
        when(col("m") >= overlayFrom && col("cnt2") > 0, col("cnt2"))
          .otherwise(col("cnt1")).as("cnt"),
        when(col("m") >= overlayFrom && col("cnt2") > 0, lit(2))
          .otherwise(lit(1)).as("prio"))
      .orderBy("m", "priority")

  /** As-of (point-in-time) join — the operator Spark lacks natively
    * (generalizes the reference's as-of/lag self-comparison J4,
    * anp_producao/pipeline.py:293-319). For every left row, attach the
    * most recent right row of the same key with right.ord ≤ left.ord.
    *
    * Implementation is the scale-correct union+window form: tag both
    * sides, union, ONE shuffle on the key, carry the last non-null right
    * value forward with an unbounded-preceding window, keep left rows.
    * No range explosion, no per-key collect; ties at equal ord resolve
    * right-before-left (inclusive as-of). */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ord: String,
               payload: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("_side", lit(1))
      .withColumns(payload.map(p => s"_r_$p" -> lit(null).cast(right.schema(p).dataType)).toMap)
    val rTagged = right.select(
      (Seq(col(key), col(ord), lit(0).as("_side")) ++
        payload.map(p => col(p).as(s"_r_$p"))): _*)
    val unioned = lTagged.select(
        (Seq(col(key), col(ord), col("_side")) ++
          left.columns.filterNot(c => c == key || c == ord).map(col) ++
          payload.map(p => col(s"_r_$p"))): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ord).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payload.foldLeft(unioned) { (df, p) =>
      df.withColumn(s"asof_$p", last(col(s"_r_$p"), ignoreNulls = true).over(w))
    }
    carried.where(col("_side") === 1)
      .drop("_side" +: payload.map(p => s"_r_$p"): _*)
  }

  /** Bucketed range join — the scalable pattern for time-proximity
    * joins Spark would otherwise plan as a broadcast-nested-loop: bucket
    * both sides by a coarse granule of the order axis, equi-join on
    * (key, bucket) for the buckets a range can span, then apply the
    * precise range predicate. Shuffles on (key, bucket) — never a cross
    * join, skew bounded by granule width. Here: for each left event,
    * count right events of the same key within the trailing `window`
    * (exclusive of the row itself). */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, key: String,
                        ord: String, window: Long): DataFrame = {
    val l = left.withColumn("_b", floor(col(ord) / window))
    // right rows appear in their own granule and the next — a trailing
    // window of width `window` spans at most those two
    val r = right.select(col(key).as("_rk"), col(ord).as("_r_ord"))
      .withColumn("_rb", floor(col("_r_ord") / window))
      .select(col("_rk"), col("_r_ord"),
        explode(array(col("_rb"), col("_rb") + 1)).as("_b2"))
    // precise range lives IN the join condition so left rows with no
    // in-range partner keep their single null row (count 0)
    l.join(r,
        col(key) === col("_rk") && col("_b") === col("_b2") &&
          col("_r_ord") >= col(ord) - window && col("_r_ord") < col(ord),
        "left")
      .groupBy(left.columns.toIndexedSeq.map(col): _*)
      .agg(count(col("_r_ord")).as("n_in_window"))
  }

  /** Key-match validation join (J9,
    * social/research_trends/pipeline.py:371-400): compare per-key
    * aggregates from two sources, emit ok/mismatch/not_found. */
  def validationJoin(events: DataFrame, splitTs: String): DataFrame = {
    def agg(df: DataFrame, v: String) =
      df.groupBy("user_id").agg(count(lit(1)).as(v))
    val a = agg(events.where(col("ts") < splitTs), "cnt_a")
    val b = agg(events.where(col("ts") >= splitTs), "cnt_b")
    a.join(b, Seq("user_id"), "left")
      .select(col("user_id"), col("cnt_a"), col("cnt_b"),
        when(col("cnt_b").isNull, "not_found")
          .when(col("cnt_a") === col("cnt_b"), "ok")
          .otherwise("mismatch").as("status"))
      .orderBy("user_id")
  }

  /** Same-month-previous-year comparison via computed key self-join (J5,
    * bdqueimadas_overview.py:309-314): string-arithmetic prev-year key. */
  def sameMonthPrevYear(orders: DataFrame): DataFrame = {
    val monthly = orders.groupBy(period(col("o_orderdate")).as("m"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    val prevKey = concat(
      (substring(col("m"), 1, 4).cast("int") - 1).cast("string"),
      lit("-"), substring(col("m"), 6, 2))
    val prev = monthly.select(col("m").as("m_prev"), col("revenue").as("prev_revenue"))
    monthly.withColumn("pk", prevKey)
      .join(prev, col("pk") === col("m_prev"), "left")
      .select(col("m"), col("revenue"), col("prev_revenue"))
      .withColumn("yoy_pct", safePct(col("revenue"), col("prev_revenue")))
      .orderBy("m")
  }
}
