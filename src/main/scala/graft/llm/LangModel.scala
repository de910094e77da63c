package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Unigram language-model scoring for training-data quality filtering —
  * the CCNet/Gopher-style "perplexity filter" step: score every document
  * by its average per-token negative log-likelihood under a smoothed
  * unigram model of the corpus and drop (or bucket) the tails. A full
  * KenLM is out of scope for a SQL-oracle-checkable operator; the unigram
  * variant keeps the exact pipeline shape (train a model over the corpus,
  * broadcast it, score every document in one map pass) with arithmetic
  * every engine can restate.
  *
  * Scale shape (100 TB): training is ONE token-count aggregation — a
  * word-count with map-side partial aggregation, the canonical scalable
  * shuffle — followed by a driver collect bounded to `topV` rows (the
  * vocabulary is a model object, like the k-means centers and PQ
  * codebooks). Scoring is shuffle-free: the (token → log-prob) map rides
  * in the task binary as a literal and each document folds over its own
  * tokens. Nothing driver-side ever sees a document.
  *
  * Determinism: vocabulary = top `topV` tokens by (count DESC, token ASC)
  * — integer-ordered, no float boundary; probabilities are Laplace
  * (add-one) with a single OOV bucket, p(t) = (c_t + 1) / (T + V + 1),
  * where T counts ALL token occurrences and V = |vocab|; the per-document
  * sum is a left fold in token order so the oracle's `list_reduce`
  * reproduces the same double sequence.
  */
object LangModel {

  /** (token → ln p) for the vocabulary, plus the OOV log-prob. */
  case class UnigramModel(lp: Map[String, Double], oovLp: Double,
      total: Long, vocabSize: Int)

  /** Train on one aggregation pass + a bounded driver collect. */
  def unigramTrain(docs: DataFrame, textCol: String, topV: Int): UnigramModel =
    unigramTrainToks(
      docs.select(TextOps.tokens(col(textCol)).as("toks")), "toks", topV)

  /** Train from a PRE-TOKENIZED frame — the shared-tokens path for
    * multi-stage pipelines (Pipeline.curate materializes (id, toks) once
    * and feeds train, scoring, and packing from it instead of
    * re-tokenizing the corpus per stage). */
  def unigramTrainToks(toksDf: DataFrame, toksCol: String, topV: Int): UnigramModel = {
    require(topV > 0, "vocabulary size must be positive")
    val counts = toksDf
      .select(explode(col(toksCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val (total, vocab) = vocabAndTotal(counts, topV)
      val denom = (total + vocab.length + 1).toDouble
      UnigramModel(
        vocab.map { case (t, c) => t -> math.log((c + 1).toDouble / denom) }.toMap,
        math.log(1.0 / denom), total, vocab.length)
    } finally { counts.unpersist(blocking = false) }
  }

  /** The two model inputs — the top-`topV` (count DESC, token ASC)
    * vocabulary and the TOTAL token-occurrence count — in ONE driver
    * round-trip (r22, guide §1.2: the pipeline's serial job count is
    * latency, not data): a null-token marker row carries the corpus total
    * alongside the vocabulary rows, and the persisted `counts` feeds both
    * union branches inside the single collect job. Vocabulary rows and
    * the total are exactly the old two-action values. */
  private def vocabAndTotal(counts: DataFrame, topV: Int): (Long, Array[(String, Long)]) = {
    val rows = counts.orderBy(col("cnt").desc, col("token")).limit(topV)
      .select(col("token"), col("cnt"))
      .unionAll(counts.agg(
        lit(null).cast("string").as("token"), sum(col("cnt")).as("cnt")))
      .collect()
    val (totRow, vocabRows) = rows.partition(_.isNullAt(0))
    require(totRow.nonEmpty && !totRow.head.isNullAt(1),
      "cannot train a unigram language model on an empty corpus (no tokens)")
    (totRow.head.getLong(1), vocabRows.map(r => r.getString(0) -> r.getLong(1)))
  }

  /** Interpolated bigram model: raw (not log) probabilities so the mixture
    * λ·p_bi + (1−λ)·p_uni is formed before the log. `uniP` is Laplace like
    * [[UnigramModel]]; `biP` is the ML estimate c(ab)/c(a) for the top
    * `topB` in-vocabulary bigrams — both driver-bounded model objects. */
  case class BigramModel(uniP: Map[String, Double], oovP: Double,
      biP: Map[String, Double], lambda: Double)

  /** Two aggregation passes (unigram word-count, bigram pair-count) and
    * two bounded collects — the KenLM-shaped training loop at map-reduce
    * scale: counts shuffle, models don't. */
  def bigramTrain(docs: DataFrame, textCol: String, topV: Int, topB: Int,
      lambda: Double = 0.7): BigramModel = {
    require(topV > 0 && topB > 0 && lambda >= 0 && lambda <= 1)
    val toks = docs.select(TextOps.tokens(col(textCol)).as("toks"))
      .persist()
    try {
      val counts = toks.select(explode(col("toks")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .persist()
      val (total, vocab) = try vocabAndTotal(counts, topV)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            "cannot train a bigram language model on an empty corpus (no tokens)", e)
        }
      counts.unpersist(blocking = false)
      val vocabSet = vocab.map(_._1).toSeq
      val uniCnt = vocab.toMap
      val denom = (total + vocab.length + 1).toDouble
      // bigram pairs via the fused native generator (one pass per doc,
      // vocabulary probe fused — the staged transform/struct tree built
      // every pair interpretedly and filtered after the explode; same
      // pair stream, NativeExprParitySpec pins it); vocabulary membership
      // filters BEFORE the aggregation so the pair shuffle is vocab², not
      // corpus²
      val pairs = toks
        .filter(size(col("toks")) > 1)
        .select(explode(ColumnBridge.column(graft.expressions.VocabBigrams(
          ColumnBridge.expression(col("toks")), vocabSet))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(topB)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      BigramModel(
        vocab.map { case (t, c) => t -> ((c + 1).toDouble / denom) }.toMap,
        1.0 / denom,
        pairs.map { case (a, b, c) => s"$a $b" -> c.toDouble / uniCnt(a).toDouble }.toMap,
        lambda)
    } finally { toks.unpersist(blocking = false) }
  }

  /** Per-document average NLL under the interpolated bigram model: the
    * first token scores as unigram, each following as
    * ln(λ·p(tᵢ|tᵢ₋₁) + (1−λ)·p(tᵢ)); same left-fold/rounding contract as
    * [[avgNll]]. Scoring is shuffle-free — both maps are task literals,
    * folded by the fused native expression
    * ([[graft.expressions.BigramNllSum]] — bit-identical arithmetic, one
    * hash probe per token instead of an interpreted lambda concatenating a
    * lookup key and linearly scanning two map literals per pair;
    * LlmSpec pins native ≡ staged). */
  def avgNllBigram(docs: DataFrame, idCol: String, textCol: String,
      model: BigramModel): DataFrame = {
    val nll = ColumnBridge.column(graft.expressions.BigramNllSum(
      ColumnBridge.expression(col("toks")), model.uniP, model.oovP, model.biP, model.lambda))
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), size(col("toks")).cast("long").as("n_tok"),
        round(-nll / size(col("toks")), 5).as("avg_nll"))
  }

  /** The staged builtin composition of [[avgNllBigram]]'s fold — kept as
    * the semantic reference the native expression is pinned against. */
  private[graft] def avgNllBigramStaged(docs: DataFrame, idCol: String,
      textCol: String, model: BigramModel): DataFrame = {
    val mu = typedlit(model.uniP)
    val mb = typedlit(model.biP)
    def pUni(t: org.apache.spark.sql.Column) =
      coalesce(element_at(mu, t), lit(model.oovP))
    val toksC = col("toks")
    val first = log(pUni(element_at(toksC, 1)))
    val rest = when(size(toksC) > 1,
      aggregate(sequence(lit(1), size(toksC) - 1), lit(0.0), (acc, i) => {
        val pb = coalesce(
          element_at(mb, concat(element_at(toksC, i), lit(" "), element_at(toksC, i + 1))),
          lit(0.0))
        acc + log(lit(model.lambda) * pb + lit(1.0 - model.lambda) * pUni(element_at(toksC, i + 1)))
      })).otherwise(lit(0.0))
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), size(col("toks")).cast("long").as("n_tok"),
        round(-(first + rest) / size(col("toks")), 5).as("avg_nll"))
  }

  /** Per-document average negative log-likelihood (natural log), rounded
    * to 5 decimals; empty-token documents are dropped (no defined score).
    * Output: (idCol, n_tok, avg_nll). */
  def avgNll(docs: DataFrame, idCol: String, textCol: String,
      model: UnigramModel): DataFrame =
    avgNllToks(
      docs.select(col(idCol), TextOps.tokens(col(textCol)).as("toks")),
      idCol, "toks", model)

  /** [[avgNll]] over a pre-tokenized (idCol, toksCol) frame — identical
    * fold order and rounding, so scores are bit-equal to the text path.
    * The fold runs in the fused native expression
    * ([[graft.expressions.UnigramNllSum]]): same left fold, one hash-map
    * probe per token instead of an interpreted lambda linearly scanning a
    * map LITERAL per element (O(|vocab|) per token — at vocab 4096 the
    * staged tree WAS the scoring stage; LlmSpec pins native ≡ staged). */
  def avgNllToks(toksDf: DataFrame, idCol: String, toksCol: String,
      model: UnigramModel): DataFrame = {
    val nll = ColumnBridge.column(graft.expressions.UnigramNllSum(
      ColumnBridge.expression(col("toks")), model.lp, model.oovLp))
    toksDf
      .select(col(idCol), col(toksCol).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), size(col("toks")).cast("long").as("n_tok"),
        round(-nll / size(col("toks")), 5).as("avg_nll"))
  }

  /** The staged builtin composition of [[avgNllToks]]'s fold — kept as the
    * semantic reference the native expression is pinned against. */
  private[graft] def avgNllToksStaged(toksDf: DataFrame, idCol: String,
      toksCol: String, model: UnigramModel): DataFrame = {
    val m = typedlit(model.lp)
    toksDf
      .select(col(idCol), col(toksCol).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), size(col("toks")).cast("long").as("n_tok"),
        round(
          -aggregate(col("toks"), lit(0.0),
            (acc, t) => acc + coalesce(element_at(m, t), lit(model.oovLp)))
            / size(col("toks")),
          5).as("avg_nll"))
  }
}
