package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays (float or double elements),
  * accumulating left-to-right in double — the exact fold the Similarity
  * oracle states, but generated into whole-stage codegen instead of the
  * interpreted `aggregate(zip_with(...))` higher-order path (HOFs are
  * CodegenFallback; on an all-pairs similarity join the interpreted fold is
  * the bottleneck — this expression is a tight primitive loop).
  *
  * Semantics: elements are widened exactly to double; iteration runs to the
  * shorter length; array elements are assumed non-null (embedding vectors).
  * Column-land builds it in [[graft.llm.Similarity.dot]]; SQL reaches it as
  * `graft_dot` ([[graft.GraftExtensions]]).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case t => throw new IllegalArgumentException(s"graft_dot expects arrays, got $t")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got ${left.dataType}, ${right.dataType}")
  }

  private def get(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = l.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(x, lt, i) * get(y, rt, i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(v: String, et: DataType, i: String): String = et match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(l, lt, i)} * ${getter(r, rt, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
