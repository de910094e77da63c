package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused DSIR hashed-n-gram featurizer: text → bucket ids of every unigram
  * and bigram, in [[graft.llm.Mix.importanceResample]]'s exact order
  * (unigrams first, then adjacent bigrams joined by one space) and exact
  * hash (`conv(substring(md5(g),1,8),16,10) % buckets` = the md5 digest's
  * first 4 bytes as an unsigned 32-bit value, mod buckets).
  *
  * One partition-local JVM pass replaces the staged
  * split→filter→zip_with→concat HOF chain plus a per-gram
  * md5→substring→conv expression stack; both the distribution-counting
  * aggregate (explode over this array) and the scoring fold
  * ([[LamMicroSum]]) consume the identical bucket ids, so cp/cq counts,
  * the log-ratio literal, and every score are unchanged.
  */
case class DsirGramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_dsirb expects string, got $t")
  }

  @transient private lazy val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes as unsigned 32-bit (== first 8 hex chars), mod buckets. */
  private def bucketOf(s: String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % buckets
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): ArrayData = {
    val toks = input.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val nBi = if (n > 1) n - 1 else 0
    val out = new Array[Long](n + nBi)
    var i = 0
    while (i < n) { out(i) = bucketOf(toks(i)); i += 1 }
    i = 0
    while (i < nBi) { out(n + i) = bucketOf(toks(i) + " " + toks(i + 1)); i += 1 }
    new GenericArrayData(out)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirb", this, classOf[DsirGramBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer fold of a bounded literal table over a bucket-id array: the
  * exact sum of `aggregate(arr, 0L, (acc, b) -> acc + lam(b))` — long
  * adds, order-preserving (long addition is associative anyway, but the
  * loop keeps array order) — without the interpreted per-element
  * element_at over a 65536-entry array literal. Pairs with
  * [[DsirGramBuckets]] for shuffle-free DSIR scoring. */
case class LamMicroSum(child: Expression, lam: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // nullable elements rejected up front: a null bucket id has no staged
    // meaning here (the fold is only defined paired with DsirGramBuckets,
    // whose output is containsNull = false)
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lamsum expects array<bigint> with non-null elements, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    evalBuckets(input.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalBuckets(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = arr.getLong(i)
      // a bucket id outside the literal table means the caller paired this
      // fold with a different-bucket featurizer — fail loudly instead of
      // reading a wrong slot or throwing an opaque bounds error
      if (b < 0 || b >= lam.length)
        throw new IllegalArgumentException(
          s"graft_lamsum: bucket id $b outside the ${lam.length}-entry table")
      acc += lam(b.toInt)
      i += 1
    }
    acc
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lamsum", this, classOf[LamMicroSum].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalBuckets($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
