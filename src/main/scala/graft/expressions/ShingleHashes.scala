package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Fused text → word-n-shingle 60-bit hash array: lowercase/trim/tokenize,
  * n-word shingles (a doc shorter than n tokens yields its whole token
  * string as one shingle), md5-derived h60 per shingle, optional distinct.
  *
  * Exactly the staged `tokens → shingles → h60 → array_distinct` builtin
  * pipeline (TextOps), but one partition-local JVM pass — no interpreted
  * HOF trees, no intermediate UTF8String arrays; generates a real codegen
  * call (r22) so the enclosing Project keeps its WholeStageCodegen span.
  *
  * `n == 1, distinct = false` yields the token-hash multiset SimHash needs.
  */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean,
    wholeDocIfShort: Boolean = true) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_shingles expects string, got $t")
  }

  @transient private lazy val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def h60(s: String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    // first 15 hex chars == high 60 bits of the first 8 bytes
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): ArrayData = {
    // mirror lower(trim(text)) + split("\s+") + drop empties (TextOps.tokens)
    val toks = input.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val out =
      if (n > 1 && toks.length < n)
        // strict mode (wholeDocIfShort=false) mirrors pipelines that skip
        // sub-n-token documents entirely (e.g. decontamination overlap)
        (if (wholeDocIfShort) Array(h60(toks.mkString(" "))) else Array.emptyLongArray)
      else {
        val cnt = toks.length - n + 1
        val hs = new Array[Long](math.max(cnt, 0))
        var i = 0
        while (i < cnt) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          hs(i) = h60(sb.toString)
          i += 1
        }
        hs
      }
    val res =
      if (!distinct) out
      else {
        // distinct + ASCENDING sort: downstream set ops (minhash min,
        // Jaccard intersection) are order-insensitive, and sorted arrays
        // let IntersectCountSorted merge-count in O(n+m)
        java.util.Arrays.sort(out)
        var w = 0
        var i = 0
        while (i < out.length) {
          if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
          i += 1
        }
        java.util.Arrays.copyOf(out, w)
      }
    new GenericArrayData(res)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
