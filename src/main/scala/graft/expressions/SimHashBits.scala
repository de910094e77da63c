package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused SimHash over a token-hash array: one pass accumulating all
  * `bits` per-bit votes (+1 when the hash has the bit set, −1 otherwise),
  * emitting the sign vector packed into a single long. Replaces the
  * interpreted `bits × aggregate(...)` HOF tree, which re-walked the
  * token array once per bit.
  *
  * `bits` ≤ 60 so every vote reads entropy actually present in the 60-bit
  * ShingleHashes values; 60 bits also give the chunk-collision blocking
  * (Dedup.simhashPairs) 15-bit chunks = 32k buckets per band, keeping the
  * candidate join near-linear where 8-bit chunks (256 buckets) would go
  * quadratic on large corpora. Empty input packs all-zero votes (every
  * vote ≤ 0 → bit 0), matching the SQL oracle's CASE … > 0 restatement. */
case class SimHashBits(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 60, "simhash bits must be in [1,60]")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash expects array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        votes(b) += (((h >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val sh = ctx.freshName("sh")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $votes[$b] += (int) ((($h >> $b) & 1L) * 2 - 1);
         |  }
         |}
         |long $sh = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) $sh |= (1L << $b);
         |}
         |${ev.value} = $sh;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
