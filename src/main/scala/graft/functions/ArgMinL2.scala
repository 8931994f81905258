package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native nearest-codebook-entry argmin: given a subvector `sv` and a
  * broadcast per-subspace candidate array `cands:
  * ARRAY<STRUCT<cid: BIGINT, cvec: ARRAY<FLOAT|DOUBLE>>>`, return the
  * cid minimizing (l2sq(sv, cvec), cid) under the total (distance,
  * id) order — `min_by(cid, struct(d2, cid))` over the k exploded
  * candidate rows, fused into ONE expression evaluation, for every
  * candidate whose d2 is defined (see the null rule below).
  *
  * Why (optimization r17): the quantizer kernels (PQ/IVF+PQ Lloyd
  * assignment and encode) were shaped as broadcast-join row blowups —
  * n·m subvectors × k=64 codebook entries materialized as wide join
  * rows (each carrying the 8-float subvector), then collapsed by a
  * min_by hash aggregate. Profiled at sf0.1, the two q_sim_ann_ivf_pq
  * kernel stages carried 27 s + 22 s of task time, nearly all of it
  * join-row materialization + aggregate update — replacing the l2sq
  * fold alone (L2SqDistance) moved nothing. The argmin over the
  * candidate array does the identical k·dims float work in a fused
  * loop per SUBVECTOR row: no k-fold row copy, no hash aggregate, no
  * exchange. At 100 TB the same holds: the codebook is a broadcast
  * constant, the kernel is one narrow pass over the vector table.
  *
  * Semantics pinned to the min_by formulation:
  *  - distances: [[L2SqDistance]]'s exact left-to-right double fold
  *    (elements widen to double before subtract);
  *  - order: (d2, cid) lexicographic, ties → smallest cid;
  *    `java.lang.Double.compare` matches Spark's double ordering on
  *    every value reachable here (sums of squares are never -0.0);
  *  - a candidate whose d2 would be null (length mismatch, null cvec
  *    element) is SKIPPED — it has no distance, so it cannot be the
  *    nearest. Here the kernel deliberately departs from the min_by
  *    formulation: its ordering key struct(d2, cid) is never null even
  *    when d2 is, and a null field sorts first, so min_by would pick
  *    the null-d2 candidate. If no candidate survives (or `sv` has a
  *    null element, nulling every d2) the result is null. Inputs here
  *    are fixed-width non-null slices, so these paths are unreachable
  *    on real data; L2KernelsSpec pins the skip.
  */
case class ArgMinL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def elemOf(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t               => t
  }
  private def mayContainNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _                => true
  }
  /** Element type of the candidates' cvec arrays. */
  private def candElem: DataType = right.dataType match {
    case ArrayType(StructType(fs), _) => fs(1).dataType match {
      case ArrayType(t, _) => t
      case t               => t
    }
    case _ => DoubleType
  }

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val leftOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _                                                  => false
    }
    val rightOk = right.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        fs(0).dataType == LongType && (fs(1).dataType match {
          case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
          case _                                                  => false
        })
      case _ => false
    }
    if (!leftOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"left argument must be array<float|double>, got ${left.dataType}")
    else if (!rightOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "right argument must be array<struct<cid: bigint, cvec: array<float|double>>>, " +
          s"got ${right.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private def getD(x: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => x.getFloat(i).toDouble
    case _         => x.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sv = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val n = sv.numElements()
    if (mayContainNullElems(left)) {
      var k = 0
      while (k < n) { if (sv.isNullAt(k)) return null; k += 1 }
    }
    val lt = elemOf(left); val ct = candElem
    var found = false; var bestD = 0.0; var bestC = 0L
    var j = 0
    val m = cands.numElements()
    while (j < m) {
      if (!cands.isNullAt(j)) {
        val cr = cands.getStruct(j, 2)
        if (!cr.isNullAt(0) && !cr.isNullAt(1)) {
          val cid = cr.getLong(0)
          val cv = cr.getArray(1)
          if (cv.numElements() == n) {
            var ok = true
            var k = 0
            while (ok && k < n) { if (cv.isNullAt(k)) ok = false; k += 1 }
            if (ok) {
              var acc = 0.0; var i = 0
              while (i < n) {
                val d = getD(sv, lt, i) - getD(cv, ct, i)
                acc += d * d; i += 1
              }
              val cmp = java.lang.Double.compare(acc, bestD)
              if (!found || cmp < 0 || (cmp == 0 && cid < bestC)) {
                found = true; bestD = acc; bestC = cid
              }
            }
          }
        }
      }
      j += 1
    }
    if (found) bestC else null
  }

  private def getExpr(arr: String, t: DataType, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _         => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val cr = ctx.freshName("cr")
      val cv = ctx.freshName("cv")
      val cid = ctx.freshName("cid")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val found = ctx.freshName("found")
      val bestD = ctx.freshName("bestD")
      val bestC = ctx.freshName("bestC")
      val cmp = ctx.freshName("cmp")
      val ok = ctx.freshName("ok")
      val svNullScan =
        if (mayContainNullElems(left))
          s"""for (int $k = 0; $k < $a.numElements() && !${ev.isNull}; $k++) {
             |  if ($a.isNullAt($k)) { ${ev.isNull} = true; }
             |}""".stripMargin
        else ""
      s"""
         |$svNullScan
         |if (!${ev.isNull}) {
         |  int $n = $a.numElements();
         |  int $m = $b.numElements();
         |  boolean $found = false; double $bestD = 0.0; long $bestC = 0L;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($b.isNullAt($j)) continue;
         |    InternalRow $cr = $b.getStruct($j, 2);
         |    if ($cr.isNullAt(0) || $cr.isNullAt(1)) continue;
         |    long $cid = $cr.getLong(0);
         |    ArrayData $cv = $cr.getArray(1);
         |    if ($cv.numElements() != $n) continue;
         |    boolean $ok = true;
         |    for (int $k = 0; $ok && $k < $n; $k++) {
         |      if ($cv.isNullAt($k)) $ok = false;
         |    }
         |    if (!$ok) continue;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $dd = ${getExpr(a, elemOf(left), i)} - ${getExpr(cv, candElem, i)};
         |      $acc += $dd * $dd;
         |    }
         |    int $cmp = java.lang.Double.compare($acc, $bestD);
         |    if (!$found || $cmp < 0 || ($cmp == 0 && $cid < $bestC)) {
         |      $found = true; $bestD = $acc; $bestC = $cid;
         |    }
         |  }
         |  if (!$found) { ${ev.isNull} = true; } else { ${ev.value} = $bestC; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ArgMinL2 {
  /** Column-API entry point. */
  def argmin_l2(sv: Column, cands: Column): Column =
    Bridge.column(ArgMinL2(Bridge.expression(sv), Bridge.expression(cands)))
}
