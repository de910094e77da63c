package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization encoder: per subspace s ∈ [0, m), the
  * argmin-L2 codeword index over the embedded codebook — the exact
  * semantics of Pq.pqEncode's literal fold (left-to-right double
  * accumulation, strict `<` so the first codeword wins ties), but one
  * tight JVM loop instead of an interpreted
  * `aggregate(zip_with(aggregate(zip_with(...))))` HOF tree. Encoding is
  * the per-row corpus cost of IVF-PQ (m·ksub·subdim multiply-adds per
  * vector); at 100 TB the interpreted tree is the index-build bottleneck.
  *
  * The codebook rides in the expression itself (a model constant shipped
  * in the task binary, like Similarity's literal centers) — no join, no
  * broadcast variable, zero shuffle.
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  private val m = codebooks.length
  private val ksub = codebooks.head.length
  private val subdim = codebooks.head.head.length

  // flat [s][c][i] -> cb(s*ksub*subdim + c*subdim + i): no per-row indirection
  @transient private lazy val cb: Array[Double] = {
    val a = new Array[Double](m * ksub * subdim)
    var o = 0
    for (s <- 0 until m; c <- 0 until ksub; i <- 0 until subdim) {
      a(o) = codebooks(s)(c)(i); o += 1
    }
    a
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_pqcodes expects array<double|float>, got $t")
  }

  // parquet list columns usually arrive containsNull=true even when no
  // element is ever null; only pay the per-element null scan when the
  // schema says nulls are possible
  @transient private lazy val mayHaveNullElements = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    evalVec(input.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalVec(v: ArrayData): ArrayData = {
    if (v.numElements() != m * subdim)
      throw new IllegalArgumentException(
        s"graft_pqcodes: input vector has ${v.numElements()} dims but the " +
          s"codebook was trained for m=$m x subdim=$subdim = ${m * subdim}")
    if (mayHaveNullElements) {
      var i = 0
      while (i < v.numElements()) {
        if (v.isNullAt(i)) throw new IllegalArgumentException(
          s"graft_pqcodes: null element at dim $i; encode needs a dense vector " +
            "— filter or impute null components before pqEncode")
        i += 1
      }
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * subdim
      var best = -1
      var bd = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cbase = (s * ksub + c) * subdim
        var acc = 0.0
        var i = 0
        while (i < subdim) {
          val x = (if (isFloat) v.getFloat(base + i).toDouble else v.getDouble(base + i)) - cb(cbase + i)
          acc += x * x
          i += 1
        }
        if (acc < bd) { bd = acc; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalVec($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
