package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused clean-run extraction for span surgery
  * ([[graft.llm.Decontaminate.fragmentByBadStarts]]): given a document's
  * token count and its sorted bad n-gram START positions (1-based), emit
  * the maximal runs of UNCOVERED token positions with length ≥
  * `minKeepTokens`, in document order, as (s, l) structs — exactly the
  * staged pipeline
  *
  *   cleanPos = filter(sequence(1, ntok), t -> !exists(badPos, p ->
  *                t >= p - margin && t <= p + n - 1 + margin))
  *   runs     = aggregate(cleanPos, [], consecutive-run append)
  *   filter(runs, r -> r.l >= minKeepTokens)
  *
  * whose interpreted fold is O(ntok·|badPos|) for the coverage test plus
  * O(ntok·|runs|) array COPIES for the append — on span-dedup inputs
  * where most documents carry at least one duplicated gram, that fold is
  * the whole stage. One JVM sweep: O(ntok + |badPos|), same structs.
  * The caller keeps slicing/joining fragment TEXT with builtin
  * slice/array_join over these (s, l) bounds, so output rows are
  * byte-identical (NativeExprParitySpec pins runs and fragments).
  */
case class CleanRuns(left: Expression, right: Expression,
    n: Int, margin: Int, minKeepTokens: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", IntegerType, nullable = false),
    StructField("l", IntegerType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (IntegerType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_cleanruns expects (int, array<int>), got $t")
  }

  override def nullSafeEval(ntokAny: Any, badAny: Any): Any =
    evalRuns(ntokAny.asInstanceOf[Int], badAny.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalRuns(ntok: Int, bad: ArrayData): ArrayData = {
    val nb = bad.numElements()
    // the two-pointer sweep REQUIRES badPos sorted ascending (the staged
    // reference is order-insensitive, so an unsorted caller would get
    // silently wrong fragments) — assert the precondition cheaply:
    // O(|badPos|) integer compares against an O(ntok) sweep
    var k = 1
    while (k < nb) {
      if (bad.getInt(k) < bad.getInt(k - 1))
        throw new IllegalArgumentException(
          s"graft_cleanruns: badPos must be sorted ascending (pos $k)")
      k += 1
    }
    val out = new java.util.ArrayList[Any]()
    val reach = n - 1 + margin
    // sweep positions 1..ntok against the sorted bad starts: a position t
    // is covered iff some p has p - margin <= t <= p + reach
    var bi = 0
    var runStart = 0
    var runLen = 0
    var t = 1
    while (t <= ntok) {
      // advance past bad starts whose window ends before t
      while (bi < nb && bad.getInt(bi) + reach < t) bi += 1
      val covered = bi < nb && bad.getInt(bi) - margin <= t
      if (!covered) {
        if (runLen == 0) runStart = t
        runLen += 1
      } else if (runLen > 0) {
        if (runLen >= minKeepTokens) out.add(InternalRow(runStart, runLen))
        runLen = 0
      }
      t += 1
    }
    if (runLen >= minKeepTokens && runLen > 0) out.add(InternalRow(runStart, runLen))
    new GenericArrayData(out.toArray)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cleanruns", this, classOf[CleanRuns].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.evalRuns($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
