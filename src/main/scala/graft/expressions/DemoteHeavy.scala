package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Reorder a document's sorted shingle-hash array under the df-demoted
  * global total order PPJoin prefix filtering uses at scale: every
  * NON-heavy hash first (in its natural ascending-hash order), then the
  * heavy hashes the row contains, in the embedded heavy list's order
  * (ascending document frequency — the heaviest boilerplate shingle sorts
  * LAST globally, so it can only reach a prefix when a document consists
  * of almost nothing else).
  *
  * The heavy list is a bounded model object shipped in the task binary
  * (like PqCodes' codebooks / BpeEncode's merge ranks): one hash-map probe
  * per element, O(|sh| + k log k) per row where k = heavy hashes present —
  * no per-row set construction over the heavy list, which is what
  * `array_except(sh, heavyLit)` would cost.
  *
  * Any total order keeps the PPJoin prefix filter lossless; this one just
  * keeps corpus-frequent shingles out of posting lists. See
  * [[graft.llm.Dedup.ngramJaccard]] for the candidate-generation math.
  */
case class DemoteHeavy(child: Expression, heavy: Seq[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_demote expects array<bigint> without nulls, got $t")
  }

  @transient private lazy val heavyArr: Array[Long] = heavy.toArray

  // boxed key/value types: a HashMap[Long, Int] would silently unbox
  // get()'s null miss to 0 and mark EVERY shingle heavy with rank 0
  @transient private lazy val rankOf: java.util.HashMap[java.lang.Long, java.lang.Integer] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Integer](heavy.length * 2)
    heavyArr.zipWithIndex.foreach { case (h, i) =>
      m.put(java.lang.Long.valueOf(h), java.lang.Integer.valueOf(i))
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var w = 0
    var ranks: Array[Int] = null
    var k = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      val r = rankOf.get(v)
      if (r == null) { out(w) = v; w += 1 }
      else {
        if (ranks == null) ranks = new Array[Int](n - i)
        ranks(k) = r.intValue(); k += 1
      }
      i += 1
    }
    if (k > 0) {
      java.util.Arrays.sort(ranks, 0, k)
      var j = 0
      while (j < k) { out(w) = heavyArr(ranks(j)); w += 1; j += 1 }
    }
    new GenericArrayData(out)
  }

  /** Same demote pass inside whole-stage codegen: the rank map and heavy
    * array ride as reference objects; the loop stays fused with the
    * posexplode/prefix-filter stage around it (this expression sits in the
    * candidate-generation hot path — a CodegenFallback here would break
    * the stage into interpreted eval per row). */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("demoteRanks", rankOf, "java.util.HashMap")
    val heavyRef = ctx.addReferenceObj("demoteHeavy", heavyArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val r = ctx.freshName("r")
      val w = ctx.freshName("w")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      val ranks = ctx.freshName("ranks")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[$n];
         |int $w = 0;
         |int[] $ranks = null;
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $v = $c.getLong($i);
         |  java.lang.Integer $r =
         |    (java.lang.Integer) $mapRef.get(java.lang.Long.valueOf($v));
         |  if ($r == null) { $out[$w++] = $v; }
         |  else {
         |    if ($ranks == null) $ranks = new int[$n - $i];
         |    $ranks[$k++] = $r.intValue();
         |  }
         |}
         |if ($k > 0) {
         |  java.util.Arrays.sort($ranks, 0, $k);
         |  for (int $j = 0; $j < $k; $j++) $out[$w++] = $heavyRef[$ranks[$j]];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
