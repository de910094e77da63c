package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused unigram log-prob fold over a token array: the exact arithmetic of
  *
  *   aggregate(toks, 0.0, (acc, t) -> acc + coalesce(element_at(lpMap, t), oov))
  *
  * — a LEFT fold in array order with IEEE double adds, token misses scoring
  * `oov` — but one JVM hash-map probe per token instead of an interpreted
  * HOF lambda with a linear scan over a MapData literal per element (the
  * map literal's element_at is O(|vocab|) per lookup; at vocab 4096 the
  * staged tree was the whole scoring stage). Generates real code (r22):
  * a CodegenFallback disqualifies the whole Project from
  * WholeStageCodegen, splitting the corpus-volume scoring pass into
  * interpreted segments — the generated call delegates to the same fused
  * fold through a reference object, keeping the span intact.
  *
  * Bit-compatibility contract (LlmSpec pins it): identical fold order ⟹
  * identical double sum ⟹ identical rounded avg_nll downstream.
  */
case class UnigramNllSum(child: Expression, lp: Map[String, Double], oov: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_uninll expects array<string>, got $t")
  }

  @transient private lazy val probe: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](lp.size * 2)
    lp.foreach { case (k, v) => m.put(UTF8String.fromString(k), java.lang.Double.valueOf(v)) }
    m
  }

  override def nullSafeEval(input: Any): Any =
    evalToks(input.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalToks(arr: ArrayData): Double = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val v = if (t == null) null else probe.get(t)
      acc = acc + (if (v == null) oov else v.doubleValue())
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uninll", this, classOf[UnigramNllSum].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalToks($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused interpolated-bigram log-likelihood fold — the exact arithmetic of
  * [[graft.llm.LangModel.avgNllBigram]]'s staged tree:
  *
  *   first = log(pUni(toks[0]))
  *   rest  = fold over i in 1..n-1 of
  *           acc + log(lambda * biP("toks[i-1] toks[i]") + (1-lambda) * pUni(toks[i]))
  *   result = first + rest          (rest summed separately, then one add —
  *                                   the staged when/aggregate shape)
  *
  * with pUni(t) = uniP.getOrElse(t, oovP) and missing bigrams scoring 0.0.
  * `java.lang.Math.log` is what Spark's `log` evaluates, so doubles are
  * bit-equal to the HOF chain. One JVM pass, two hash probes per token,
  * versus an interpreted lambda that CONCATENATES a lookup key per pair and
  * linearly scans both map literals.
  */
case class BigramNllSum(child: Expression, uniP: Map[String, Double], oovP: Double,
    biP: Map[String, Double], lambda: Double)
    extends UnaryExpression {

  // NOTE: nullable result (empty arrays score null) — doGenCode must keep
  // ev.isNull in sync, unlike the non-null siblings
  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_binll expects array<string>, got $t")
  }

  @transient private lazy val uniProbe: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](uniP.size * 2)
    uniP.foreach { case (k, v) => m.put(k, java.lang.Double.valueOf(v)) }
    m
  }
  @transient private lazy val biProbe: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](biP.size * 2)
    biP.foreach { case (k, v) => m.put(k, java.lang.Double.valueOf(v)) }
    m
  }

  private def pUni(t: String): Double = {
    val v = uniProbe.get(t)
    if (v == null) oovP else v.doubleValue()
  }

  override def nullSafeEval(input: Any): Any =
    evalToks(input.asInstanceOf[ArrayData])

  /** Public entry for generated code; null for empty arrays (callers
    * filter size > 0 — mirrors the staged element_at null). */
  def evalToks(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    if (n == 0) return null
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    val oneMinus = 1.0 - lambda
    val first = java.lang.Math.log(pUni(toks(0)))
    var rest = 0.0
    i = 1
    while (i < n) {
      val pbBoxed = biProbe.get(toks(i - 1) + " " + toks(i))
      val pb = if (pbBoxed == null) 0.0 else pbBoxed.doubleValue()
      rest = rest + java.lang.Math.log(lambda * pb + oneMinus * pUni(toks(i)))
      i += 1
    }
    first + rest
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("binll", this, classOf[BigramNllSum].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("binllRes")
      s"""
         |java.lang.Double $r = $ref.evalToks($c);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
