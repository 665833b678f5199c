package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The `nProbe` nearest IVF lists for a vector, as a native codegen
  * expression — the probe-selection step of every corpus-side IVF
  * consumer (`knnJoin` and `ivfSearch` over every list codec).
  *
  * Why an expression and not a plan: the ranking-window form
  * (crossJoin broadcast centroids → row_number per qid → filter)
  * MATERIALIZES N×nList rows and sorts nList rows per query inside a
  * WindowExec. With the list count scaled to the corpus
  * (nList = N/targetClusterRows, the `autoK` law), that intermediate
  * is N²/targetClusterRows rows — the quadratic term that made
  * knn_join_full scale 19× across a 10× corpus in the round-7 sf1→sf10
  * campaign (156 M window rows at 200 k vectors). Here the centroid
  * matrix rides into generated code via `ctx.addReferenceObj` (the
  * PqEncode pattern — constant-size generated code regardless of
  * nList) and each row does nList·dim multiply-adds + an
  * nProbe-round strict-max scan: no joined intermediate, no shuffle,
  * no sort.
  *
  * Semantics are BIT-EQUAL to the window form: dot products accumulate
  * sequentially left-to-right (the `DotProduct` fold order), ranking
  * maximizes the dot (the window ordered by `-dot asc`), and ties
  * resolve to the smaller list id (strict-`>` scan in ascending id
  * order == `row_number` with the `list_id asc` tiebreak).
  * `SimilaritySpec`'s scanFrac/recall pins and `Sq8Spec`'s
  * refine-parity pin run through this path unchanged.
  *
  * `flatCents` is row-major `nList × dim`; `listIds(i)` is the list id
  * of row i (callers pass centroid rows sorted by list id).
  */
case class NearestLists(child: Expression, flatCents: Array[Double],
                        listIds: Array[Int], dim: Int, nProbe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  private val nList = listIds.length
  private val nOut = math.min(math.max(nProbe, 1), nList)

  override protected def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val d = math.min(dim, e.numElements())
    val dots = new Array[Double](nList)
    var c = 0
    while (c < nList) {
      var s = 0.0
      var t = 0
      while (t < d) { s += e.getDouble(t) * flatCents(c * dim + t); t += 1 }
      dots(c) = s
      c += 1
    }
    val taken = new Array[Boolean](nList)
    val out = new Array[Int](nOut)
    var p = 0
    while (p < nOut) {
      var best = -1
      var bestDot = Double.NegativeInfinity
      c = 0
      while (c < nList) {
        if (!taken(c) && dots(c) > bestDot) { bestDot = dots(c); best = c }
        c += 1
      }
      if (best < 0) {
        // every remaining dot is NaN (NaN query component): the
        // strict-> scan picks nothing. Degrade like the old window
        // form (row_number ranks NaN rows too) instead of throwing —
        // take the lowest untaken list id; one hostile vector must
        // not kill the job. p < nOut <= nList guarantees one exists.
        best = 0
        while (taken(best)) best += 1
      }
      taken(best) = true
      out(p) = listIds(best)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e => {
      val centsRef = ctx.addReferenceObj("flatCents", flatCents, "double[]")
      val idsRef = ctx.addReferenceObj("listIds", listIds, "int[]")
      val d = ctx.freshName("d")
      val dots = ctx.freshName("dots")
      val taken = ctx.freshName("taken")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestDot = ctx.freshName("bestDot")
      s"""
        final int $d = java.lang.Math.min($dim, $e.numElements());
        final double[] $dots = new double[$nList];
        for (int $c = 0; $c < $nList; $c++) {
          double $s = 0.0;
          for (int $t = 0; $t < $d; $t++) {
            $s += $e.getDouble($t) * $centsRef[$c * $dim + $t];
          }
          $dots[$c] = $s;
        }
        final boolean[] $taken = new boolean[$nList];
        final int[] $out = new int[$nOut];
        for (int $p = 0; $p < $nOut; $p++) {
          int $best = -1;
          double $bestDot = Double.NEGATIVE_INFINITY;
          for (int $c = 0; $c < $nList; $c++) {
            if (!$taken[$c] && $dots[$c] > $bestDot) {
              $bestDot = $dots[$c]; $best = $c;
            }
          }
          if ($best < 0) {
            // NaN query: no dot survives strict-> — fall back to the
            // lowest untaken index (see nullSafeEval)
            $best = 0;
            while ($taken[$best]) $best++;
          }
          $taken[$best] = true;
          $out[$p] = $idsRef[$best];
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): NearestLists =
    copy(child = newChild)
  override def prettyName: String = "nearest_lists"
}

object NearestLists {
  def apply(e: Column, flatCents: Array[Double], listIds: Array[Int],
            dim: Int, nProbe: Int): Column =
    GraftColumnBridge.column(NearestLists(
      GraftColumnBridge.expression(e), flatCents, listIds, dim, nProbe))
}
