package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two ASCENDING-sorted distinct long arrays (as produced by
  * ShingleHashes with distinct=true): a single merge pass, versus the
  * interpreted hash-set build `size(array_intersect(...))` costs per
  * candidate pair in the Jaccard verification join. */
case class IntersectCountSorted(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(s"graft_isect expects array<bigint>, got $l, $r")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    val n = a.numElements(); val m = b.numElements()
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val c = ctx.freshName("c")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0; long $c = 0L;
         |int $n = $l.numElements(), $m = $r.numElements();
         |while ($i < $n && $j < $m) {
         |  long $x = $l.getLong($i); long $y = $r.getLong($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) $i++; else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
