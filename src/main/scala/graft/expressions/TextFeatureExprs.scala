package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass twins of [[graft.llm.TextOps]]' per-document feature
  * trees (C4 filters, quality scoring, repetition signals, language ID) —
  * each replaces a stack of interpreted higher-order-function folds and
  * per-feature regex passes with one JVM pass per document, emitting
  * BIT-IDENTICAL values (NativeExprParitySpec pins every field against the
  * staged composition).
  *
  * Shared parity conventions (established by ShingleHashes/GopherFeatures):
  *  - tokens: lower → split `\s+` → drop empties;
  *  - `length()` counts code points (UTF8String.numChars);
  *  - `split(text, "\n")` keeps trailing empty lines (Spark limit = -1);
  *  - `trim` strips the SPACE character only (Spark's SQL trim), NOT
  *    Java's `String.trim` (≤ 0x20) — C4's kept-line rule depends on it;
  *  - rlike mirrors use the same java.util.regex `find()` Spark's RLike
  *    runs (so `$`-before-final-terminator quirks agree by construction);
  *  - ratio arithmetic replays the staged int/long→double conversions and
  *    IEEE operation order exactly; display rounding stays in TextOps.
  */
private[expressions] object TextFeatureEval {
  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  def codePoints(s: String): Long = s.codePointCount(0, s.length).toLong

  /** Spark SQL `trim`: leading/trailing 0x20 only. */
  def sparkTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }
}

/** One-pass C4 document heuristics — the exact fields of
  * [[graft.llm.TextOps.c4Features]]. */
case class C4Features(child: Expression, minKeptLines: Int)
    extends UnaryExpression {
  import TextFeatureEval._

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept_lines", LongType, nullable = false),
    StructField("n_sentences", LongType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_c4 expects string, got $t")
  }

  @transient private lazy val keptRe = Pattern.compile("[.!?\"']$")

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): InternalRow = {
    val text = input.toString
    val lines = text.split("\n", -1)
    var kept = 0
    var li = 0
    while (li < lines.length) {
      if (keptRe.matcher(sparkTrim(lines(li))).find()) kept += 1
      li += 1
    }
    var sentences = 0L
    var ci = 0
    while (ci < text.length) {
      val c = text.charAt(ci)
      if (c == '.' || c == '!' || c == '?') sentences += 1
      ci += 1
    }
    val hasLorem = text.toLowerCase(java.util.Locale.ROOT).contains("lorem ipsum")
    val hasBrace = text.indexOf('{') >= 0
    val keep = kept >= minKeptLines && !hasLorem && !hasBrace
    InternalRow(lines.length.toLong, kept.toLong, sentences, hasLorem, hasBrace, keep)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("c4feat", this, classOf[C4Features].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass length/stopword/alpha quality features — the exact fields of
  * [[graft.llm.TextOps.qualityFeatures]] (unrounded; rounding stays in
  * TextOps). */
case class QualityFeatures(child: Expression, enStopwords: Seq[String])
    extends UnaryExpression {
  import TextFeatureEval._

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("mean_tok_len", DoubleType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_quality expects string, got $t")
  }

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    enStopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): InternalRow = {
    val text = input.toString
    val toks = tokens(text)
    val nChars = codePoints(text)
    val nToks = toks.length.toLong
    var sumLen = 0L
    var stopHits = 0L
    var ti = 0
    while (ti < toks.length) {
      sumLen += codePoints(toks(ti))
      if (stopSet.contains(toks(ti))) stopHits += 1
      ti += 1
    }
    val meanTokLen = sumLen.toDouble / math.max(nToks, 1L)
    val stopRatio = stopHits.toDouble / math.max(nToks, 1L)
    var alphaChars = 0
    var ci = 0
    while (ci < text.length) {
      val c = text.charAt(ci)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alphaChars += 1
      ci += 1
    }
    val alphaRatio = alphaChars.toDouble / math.max(nChars, 1L)
    // staged: least(nToks, 200).cast(double) / 200 * 0.3 + stop*0.4 + alpha*0.3
    val score = math.min(nToks, 200L).toDouble / 200 * 0.3 + stopRatio * 0.4 + alphaRatio * 0.3
    InternalRow(nChars, nToks, meanTokLen, stopRatio, alphaRatio, score)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quality", this, classOf[QualityFeatures].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass Gopher repetition signals — the exact fields of
  * [[graft.llm.TextOps.repetitionFeatures]] (unrounded). The staged
  * top-token fold is O(|distinct|·|toks|); one hash-count pass makes it
  * O(|toks|) with the identical result (max multiplicity). top_tok_ratio
  * is NULL for token-less documents (array_max of an empty array). */
case class RepetitionFeatures(child: Expression)
    extends UnaryExpression {
  import TextFeatureEval._

  override def dataType: DataType = StructType(Seq(
    StructField("dup_word_ratio", DoubleType, nullable = false),
    StructField("dup_2gram_ratio", DoubleType, nullable = false),
    StructField("top_tok_ratio", DoubleType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_repetition expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    evalText(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalText(input: UTF8String): InternalRow = {
    val toks = tokens(input.toString)
    val nToks = toks.length.toLong
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var maxCnt = 0
    var ti = 0
    while (ti < toks.length) {
      val c = counts.merge(toks(ti), 1, (a, b) => a + b)
      if (c > maxCnt) maxCnt = c
      ti += 1
    }
    val dupWord = 1.0 - counts.size.toDouble / math.max(nToks, 1L)
    var dup2 = 0.0
    if (toks.length >= 2) {
      val n2 = (toks.length - 1).toLong
      val grams = new java.util.HashSet[String](toks.length * 2)
      var gi = 0
      while (gi < toks.length - 1) {
        grams.add(toks(gi) + " " + toks(gi + 1))
        gi += 1
      }
      dup2 = 1.0 - grams.size.toDouble / n2
    }
    val topRatio: Any =
      if (toks.isEmpty) null else maxCnt.toDouble / math.max(nToks, 1L)
    InternalRow(dupWord, dup2, topRatio)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repetition", this, classOf[RepetitionFeatures].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass stopword language ID over a TOKEN ARRAY — the exact semantics
  * of [[graft.llm.TextOps.langId]]: per-language hit counts (every
  * occurrence votes, a token may vote for several languages), winner by
  * strictly-greater fold in declaration order (earlier language wins
  * ties), "und" when every count is zero. Input is the token array so the
  * call composes with however the caller tokenized. */
case class LangIdFeature(child: Expression, langWords: Seq[(String, Seq[String])])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("score", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_langid expects array<string>, got $t")
  }

  @transient private lazy val langNames: Array[UTF8String] =
    langWords.map(l => UTF8String.fromString(l._1)).toArray
  // token → bitmask of languages listing it
  @transient private lazy val wordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    langWords.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }
  @transient private lazy val und = UTF8String.fromString("und")

  override def nullSafeEval(input: Any): Any =
    evalToks(input.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalToks(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val scores = new Array[Long](langNames.length)
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      val m = if (t == null) null else wordMask.get(t)
      if (m != null) {
        var b = m.intValue()
        var j = 0
        while (b != 0) {
          if ((b & 1) != 0) scores(j) += 1
          b >>>= 1
          j += 1
        }
      }
      i += 1
    }
    // strictly-greater fold in declaration order: earlier lang wins ties
    var best = 0
    var j = 1
    while (j < scores.length) {
      if (scores(j) > scores(best)) best = j
      j += 1
    }
    if (scores(best) == 0L) InternalRow(und, 0L)
    else InternalRow(langNames(best), scores(best))
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langid", this, classOf[LangIdFeature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalToks($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** In-vocabulary adjacent token pairs for bigram-LM training — the exact
  * pair stream of [[graft.llm.LangModel.bigramTrain]]'s staged
  * `transform(sequence(...), struct(toks[i], toks[i+1]))` + explode +
  * both-in-vocab filter, generated in one pass with the vocabulary probe
  * fused (the staged tree built every pair struct interpretedly and
  * filtered after the explode). */
case class VocabBigrams(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_vbigrams expects array<string>, got $t")
  }

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    evalToks(input.asInstanceOf[ArrayData])

  /** Public entry for generated code (nullSafeEval is protected). */
  def evalToks(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    val out = new java.util.ArrayList[Any](n - 1)
    i = 0
    while (i < n - 1) {
      val a = toks(i); val b = toks(i + 1)
      if (a != null && b != null && vocabSet.contains(a) && vocabSet.contains(b))
        out.add(InternalRow(UTF8String.fromString(a), UTF8String.fromString(b)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Generates a real codegen call (r22): CodegenFallback disqualifies the
    * enclosing Project from WholeStageCodegen, splitting the fused span at
    * this expression; the generated code delegates to the same JVM eval
    * through a reference object, keeping the span intact. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vbigrams", this, classOf[VocabBigrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalToks($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
