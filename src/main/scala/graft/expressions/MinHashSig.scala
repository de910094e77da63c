package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused k-family MinHash signature over a 60-bit hash array: one pass over
  * the input computing all k mins of `(hi*a_i + lo*b_i) mod (2^31-1)` —
  * the same family TextOps.mixHash states (and the oracle restates), but
  * generated as a tight two-level loop instead of k interpreted
  * `array_min(transform(...))` trees. Empty input yields nulls per family,
  * matching `array_min` of an empty array. */
case class MinHashSig(child: Expression, consts: Seq[(Long, Long)]) extends UnaryExpression {

  private val prime = 2147483647L // 2^31 - 1
  private val mask30 = (1L << 30) - 1

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash expects array<bigint>, got $t")
  }

  @transient private lazy val as: Array[Long] = consts.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = consts.map(_._2).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = as.length
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      val hi = h >> 30
      val lo = h & mask30
      var j = 0
      while (j < k) {
        val v = (hi * as(j) + lo * bs(j)) % prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    val k = as.length
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val hi = ctx.freshName("hi")
      val lo = ctx.freshName("lo")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val boxed = ctx.freshName("boxed")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $c.getLong($i);
         |    long $hi = $h >> 30;
         |    long $lo = $h & ${mask30}L;
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($hi * $aRef[$j] + $lo * $bRef[$j]) % ${prime}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
