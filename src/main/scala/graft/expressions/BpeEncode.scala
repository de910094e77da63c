package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encode: text → whitespace tokens (the repo tokenization
  * convention: lowercase, trim, drop empties) → per-token greedy
  * lowest-rank-first merges under the embedded merge table → flat subword
  * array. The merge ranks are a model constant shipped in the task binary
  * (like PqCodes' codebooks) — encoding is shuffle-free and per-row.
  *
  * A per-thread LRU memo caches word → subwords: natural text reuses
  * words heavily (Zipf), so most tokens hit the cache and the merge loop
  * runs only on first sight of a word. Bounded so adversarial vocabularies
  * cannot grow the executor heap.
  */
case class BpeEncode(child: Expression, model: graft.llm.Bpe.BpeModel)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_bpe expects string, got $t")
  }

  @transient private lazy val memo =
    new ThreadLocal[java.util.LinkedHashMap[String, Array[String]]] {
      override def initialValue() =
        new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Array[String]]): Boolean = size() > 8192
        }
    }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): ArrayData = {
    val toks = input.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val cache = memo.get()
    val out = Array.newBuilder[Any]
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      var sub = cache.get(w)
      if (sub == null) {
        sub = graft.llm.Bpe.encodeWord(w, model)
        cache.put(w, sub)
      }
      var j = 0
      while (j < sub.length) { out += UTF8String.fromString(sub(j)); j += 1 }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
