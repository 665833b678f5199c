package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Column-expression helpers shared across operators.
  *
  * Oracle-fidelity rules (the driver hash-compares our parquet output
  * against DuckDB running the same SQL):
  *  - Sums of double columns go through DECIMAL(18,2): exact arithmetic
  *    in both engines, then one cast to double → bit-identical results
  *    regardless of partial-aggregation order. This also mirrors the
  *    reference's integer-exact count semantics
  *    (reference: reports/builders/bdqueimadas_incremental.py:1051-1064).
  *  - Ratios are computed as a single double division of exact operands.
  *  - Percent change is null on zero/absent base
  *    (reference: reports/builders/bdqueimadas_overview.py:1334-1337).
  */
object Cols {
  /** Exact sum of a double column: decimal(18,2) accumulate → double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact revenue-style sum: price * (1 - discount), decimal-exact. */
  def drevenue(price: Column, discount: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * (lit(1) - discount.cast(DecimalType(18, 2))))
      .cast(DoubleType)

  /** "YYYY-MM" canonical month key
    * (reference: bdqueimadas_incremental.py:759 `dt.to_period("M")`). */
  def period(ts: Column): Column = date_format(ts, "yyyy-MM")

  /** Percent change with null-on-zero/null base. */
  def safePct(cur: Column, prev: Column): Column =
    when(prev.isNull || prev === 0, lit(null).cast(DoubleType))
      .otherwise((cur - prev) / prev * 100)

  /** Trim+upper then ""/"NAN"/"NONE" → null
    * (reference: bdqueimadas_incremental.py:734-748). */
  def normStr(c: Column): Column = {
    val u = upper(trim(c))
    when(u.isin("", "NAN", "NONE"), lit(null).cast("string")).otherwise(u)
  }

  /** casefold + strip non-alphanumerics — the reference's candidate/key
    * normalizer (bdqueimadas_incremental.py:864-869). */
  def normKey(c: Column): Column = regexp_replace(lower(c), "[^a-z0-9]", "")
}
