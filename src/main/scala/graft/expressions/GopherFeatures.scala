package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused Gopher rule evaluation (Rae et al. 2021 Table A1): one JVM pass
  * per document computing every feature of
  * [[graft.llm.TextOps.gopherRules]]'s staged builtin tree — which is
  * ~10 interpreted higher-order-function folds plus four regex passes over
  * re-derived token/line arrays, the most expensive per-row expression in
  * the curate recipe.
  *
  * Arithmetic parity contract (pinned by LlmSpec): every emitted value is
  * bit-equal to the staged tree —
  *  - tokens: lower → split `\s+` → drop empties (the repo-wide tokenizer;
  *    leading/trailing whitespace washes out through the empty filter);
  *  - `length()` = code points (UTF8String.numChars), not UTF-16 units;
  *  - lines: `split(text, "\n")` KEEPS trailing empty lines (Spark's
  *    limit = -1), unlike Java's default split;
  *  - ratios: the same int/long→double conversions and IEEE divisions, in
  *    the same order; `keep` compares the UNROUNDED doubles exactly as the
  *    staged predicate does (display rounding stays outside, in
  *    gopherRules).
  *
  * Output struct (unrounded): n_words, mean_word_len, symbol_ratio,
  * bullet_frac, ellipsis_frac, alpha_word_frac, stop_hits, keep.
  */
case class GopherFeatures(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("bullet_frac", DoubleType, nullable = false),
    StructField("ellipsis_frac", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_gopher expects string, got $t")
  }

  // the exact patterns the staged tree rlikes (java.util.regex, unanchored
  // find(), like Spark's RLike)
  @transient private lazy val bulletRe = Pattern.compile("^\\s*[-*•]")
  @transient private lazy val ellipsisRe = Pattern.compile("\\.\\.\\.\\s*$")

  // gopherStopwords as index map for the distinct-presence bitmask
  @transient private lazy val stopIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    graft.llm.TextOps.gopherStopwords.zipWithIndex.foreach { case (w, i) =>
      m.put(w, Integer.valueOf(i))
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): InternalRow = {
    val text = input.toString
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val toks = lower.split("\\s+").filter(_.nonEmpty)
    val nToks = toks.length.toLong
    val nToksDen = math.max(nToks, 1L)

    // mean word length: Σ numChars(token) as LONG, then one double division
    var sumLen = 0L
    var alphaToks = 0L
    var stopMask = 0
    var ti = 0
    while (ti < toks.length) {
      val t = toks(ti)
      sumLen += t.codePointCount(0, t.length).toLong
      var hasAlpha = false
      var ci = 0
      while (!hasAlpha && ci < t.length) {
        val c = t.charAt(ci)
        if (c >= 'a' && c <= 'z') hasAlpha = true
        ci += 1
      }
      if (hasAlpha) alphaToks += 1
      val si = stopIdx.get(t)
      if (si != null) stopMask |= 1 << si.intValue()
      ti += 1
    }
    val meanLen = sumLen.toDouble / nToksDen

    // '#' count (each '#' is one code point) and non-overlapping "..."
    // matches, exactly regexp_replace's left-to-right scan
    var hashCnt = 0
    var ci = 0
    while (ci < text.length) { if (text.charAt(ci) == '#') hashCnt += 1; ci += 1 }
    var ellMatches = 0L
    var from = text.indexOf("...")
    while (from >= 0) { ellMatches += 1; from = text.indexOf("...", from + 3) }
    // staged: (hashCnt + CAST(3*matches AS DOUBLE)/3) / greatest(nToks,1)
    val ellCnt = (3L * ellMatches).toDouble / 3
    val symRatio = (hashCnt + ellCnt) / nToksDen

    // lines: Spark's split keeps trailing empties (limit -1)
    val lines = text.split("\n", -1)
    val nLines = math.max(lines.length.toLong, 1L)
    var bulletLines = 0
    var ellipsisLines = 0
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      if (bulletRe.matcher(l).find()) bulletLines += 1
      if (ellipsisRe.matcher(l).find()) ellipsisLines += 1
      li += 1
    }
    val bulletFrac = bulletLines.toDouble / nLines
    val ellipsisFrac = ellipsisLines.toDouble / nLines
    val alphaFrac = alphaToks.toDouble / nToksDen
    val stopHits = java.lang.Integer.bitCount(stopMask).toLong

    val keep = nToks >= 50 && nToks <= 100000 &&
      meanLen >= 3 && meanLen <= 10 && symRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && alphaFrac >= 0.8 &&
      stopHits >= 2

    InternalRow(nToks, meanLen, symRatio, bulletFrac, ellipsisFrac,
      alphaFrac, stopHits, keep)
  }

  /** Not CodegenFallback (r22): a fallback expression disqualifies its
    * whole Project from WholeStageCodegen (CollapseCodegenStages checks
    * every expression), so the curate filter chain broke into interpreted
    * row-at-a-time segments at exactly its hottest per-row pass. The
    * generated code delegates to the same fused JVM eval via a reference
    * object — the heavy lifting is identical, the span stays fused. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopher", this, classOf[GopherFeatures].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
