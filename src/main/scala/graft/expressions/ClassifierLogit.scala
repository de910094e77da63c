package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashing-trick logistic-regression logit (pre-bias): tokenize →
  * h60 bucket per token → ASCENDING bucket sort → the two canonical folds
  * of [[graft.llm.Classifier.score]] — Σ w[b] over the sorted buckets
  * (rawDot) and the incremental Σ tf² recurrence (acc += 2·run − 1) — then
  * `rawDot / sqrt(tfSq)` guarded to 0.0 for empty documents.
  *
  * Bit-compatibility contract (pinned by LlmSpec and the Verify
  * cross-check): identical fold ORDER over the identically-sorted bucket
  * array ⟹ identical doubles; `java.lang.Math.sqrt` is what Spark's
  * `sqrt` evaluates. What this removes is the staged tree's interpreted
  * array_sort/transform/aggregate HOFs and — the dominant cost — the
  * per-element `element_at` into a 65536-double ARRAY LITERAL that
  * Catalyst re-walks per token.
  */
case class ClassifierLogit(child: Expression, weights: Array[Double], dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_clslogit expects string, got $t")
  }

  @transient private lazy val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def h60(s: String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): Double = {
    val toks = input.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val buckets = new Array[Int](n)
    var i = 0
    while (i < n) { buckets(i) = (h60(toks(i)) % dim).toInt; i += 1 }
    java.util.Arrays.sort(buckets)
    // rawDot: left fold over the sorted buckets (same add order as the
    // staged aggregate over element_at(wLit, b + 1))
    var rawDot = 0.0
    i = 0
    while (i < n) { rawDot += weights(buckets(i)); i += 1 }
    // Σ tf² incrementally: adding the k-th copy of a bucket raises its
    // contribution by 2k − 1 (the staged zip-with-previous recurrence)
    var tfSq = 0.0
    var run = 0.0
    i = 0
    while (i < n) {
      run = if (i > 0 && buckets(i) == buckets(i - 1)) run + 1 else 1.0
      tfSq = tfSq + run * 2 - 1 // ((acc + 2·run) − 1), the staged tree's association
      i += 1
    }
    val nrm = java.lang.Math.sqrt(tfSq)
    if (nrm > 0) rawDot / nrm else 0.0
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clslogit", this, classOf[ClassifierLogit].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
