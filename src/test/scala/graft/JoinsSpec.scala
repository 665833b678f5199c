package graft

import graft.operators.Joins

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (String, Double, String)*) =
    rows.toDF("d", "o_totalprice", "o_orderpriority")
      .selectExpr("CAST(d AS TIMESTAMP) AS o_orderdate", "o_totalprice",
                  "o_orderpriority", "'O' AS o_orderstatus")

  test("yoyOuter: missing side fills 0, pct null on zero base") {
    val df = orders(
      ("2000-03-01", 100.0, "HIGH"),
      ("1999-03-01", 50.0, "HIGH"),
      ("2000-04-01", 10.0, "LOW")) // no 1999 LOW
    val out = Joins.yoyOuter(df, 2000).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("HIGH").getDouble(6) == 100.0) // pct (100-50)/50*100
    assert(out("LOW").getDouble(2) == 0.0)    // prev filled 0
    assert(out("LOW").isNullAt(6))            // pct null on zero base
  }

  test("antiOverlay: patch month replaces base month") {
    val li = Seq(("2024-01-05", 1.0), ("2024-02-05", 1.0))
      .toDF("d", "l_quantity")
      .selectExpr("CAST(d AS TIMESTAMP) AS l_shipdate", "l_quantity")
    val o = orders(("2024-02-10", 1.0, "P"), ("2024-02-11", 1.0, "P"))
    val out = Joins.antiOverlay(li, o).use(_.collect())
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSet == Set(("2024-01", 1L, "base"), ("2024-02", 2L, "patch")))
  }

  test("incrementalMerge: existing keys absent from current survive") {
    val ev = Seq(
      (1L, 1L, "a"),   // existing only
      (2L, 2L, "b"),   // existing, also in current
      (10L, 2L, "b"),
      (11L, 3L, "c"))  // current only
      .toDF("event_id", "user_id", "event_type")
    val out = Joins.incrementalMerge(ev, 10L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.toSet == Set(
      (1L, "a", 1L, "existing"), (2L, "b", 10L, "current"), (3L, "c", 11L, "current")))
  }

  test("upsertPriority: overlay wins for overlaid months") {
    val df = orders(
      ("2001-02-01", 1.0, "P"), ("2000-02-01", 1.0, "P"))
    val out = Joins.upsertPriority(df, "2001-01").collect()
      .map(r => (r.getString(0), r.getInt(3)))
    assert(out.toSet == Set(("2000-02", 1), ("2001-02", 2)))
  }

  test("asOfJoin: latest right ≤ left per key, null before first right") {
    val clicks = Seq((1L, 10L, 1.0), (1L, 30L, 2.0), (2L, 5L, 3.0))
      .toDF("user_id", "event_id", "click_value")
    val purchases = Seq((1L, 8L, 100.0), (1L, 20L, 200.0), (2L, 50L, 300.0))
      .toDF("user_id", "event_id", "purchase_value")
    val out = Joins.asOfJoin(clicks, purchases, "user_id", "event_id",
        Seq("purchase_value"))
      .orderBy("user_id", "event_id")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("asof_purchase_value")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      (1L, 10L, Some(100.0)),  // purchase@8 ≤ click@10
      (1L, 30L, Some(200.0)),  // purchase@20 is the latest ≤ 30
      (2L, 5L, None)))         // no purchase yet
  }

  test("asOfJoin: multiple payload columns carry together") {
    val l = Seq((1L, 10L)).toDF("user_id", "event_id")
    val r = Seq((1L, 5L, 100.0, "first"), (1L, 8L, 200.0, "second"))
      .toDF("user_id", "event_id", "v", "tag")
    val out = Joins.asOfJoin(l, r, "user_id", "event_id", Seq("v", "tag"))
      .collect().head
    assert(out.getAs[Double]("asof_v") == 200.0)
    assert(out.getAs[String]("asof_tag") == "second")
  }

  test("rangeJoinBucketed: trailing-window counts incl. cross-granule and empty") {
    val l = Seq((1L, 100L, 3650L), (1L, 101L, 7300L), (2L, 102L, 500L))
      .toDF("user_id", "event_id", "t")
    val r = Seq((1L, 3600L), (1L, 100L), (1L, 7200L)).toDF("user_id", "t")
    val out = Joins.rangeJoinBucketed(l, r, "user_id", "t", 3600L)
      .collect().map(x => x.getAs[Long]("event_id") -> x.getAs[Long]("n_in_window")).toMap
    // event@3650: rights at 3600 (in [50,3650)) and 100 (in) → 2
    assert(out(100L) == 2L)
    // event@7300: rights at 7200 (in [3700,7300)) only → 1 (3600 < 3700)
    assert(out(101L) == 1L)
    // user 2: no rights → 0 (row preserved)
    assert(out(102L) == 0L)
  }

  test("sameMonthPrevYear: matches via computed key") {
    val df = orders(("2023-05-01", 100.0, "P"), ("2024-05-01", 150.0, "P"))
    val out = Joins.sameMonthPrevYear(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("2024-05").getDouble(2) == 100.0)
    assert(out("2024-05").getDouble(3) == 50.0)
    assert(out("2023-05").isNullAt(2))
  }
}
