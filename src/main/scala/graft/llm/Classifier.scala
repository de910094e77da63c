package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Learned text classification for training-data curation — the
  * fastText-style linear classifier real pipelines train to keep
  * "reference-quality" documents (the GPT-3/Llama quality-filter design):
  * hashing-trick bag-of-words features, logistic regression, distributed
  * scoring.
  *
  * Spark-first split, like every model object in this repo:
  *  - TRAIN on the driver over a BOUNDED deterministic sample
  *    (hash-ordered, like pqTrain): full-batch gradient descent with a
  *    fixed schedule — bit-stable across retrains, no RNG, no
  *    distributed optimizer state;
  *  - SCORE distributed and shuffle-free: the weight vector rides in the
  *    task binary as a literal array, each document folds its token
  *    hashes through it (tf-weighted dot + bias → sigmoid).
  *
  * The hashing trick keeps the feature space fixed-width (`dim` buckets
  * of the repo-wide 60-bit md5 hash) so the model never grows with the
  * vocabulary — at 100 TB that is the difference between a model object
  * and a second corpus.
  */
object Classifier {

  case class LogisticModel(weights: Seq[Double], bias: Double, dim: Int)

  private[graft] def featurize(text: String, dim: Int): Array[(Int, Double)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val counts = scala.collection.mutable.HashMap.empty[Int, Double]
    toks.foreach { t =>
      val b = (TextOps.jvmH60(t) % dim).toInt
      counts.update(b, counts.getOrElse(b, 0.0) + 1.0)
    }
    // l2-normalized tf so long documents don't dominate the gradient
    val nrm = math.sqrt(counts.values.map(v => v * v).sum)
    counts.iterator.map { case (b, v) => (b, if (nrm > 0) v / nrm else 0.0) }
      .toArray.sortBy(_._1)
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Full-batch logistic regression on a deterministic hash-ordered
    * sample of ≤ `maxSample` labeled rows. `labelCol` must be 0/1. */
  def trainLogistic(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 1 << 16,
      iters: Int = 200,
      lr: Double = 1.0,
      l2: Double = 1e-4,
      maxSample: Int = 65536): LogisticModel = {
    val rows = docs
      .select(col(idCol).cast("string").as("sid"), col(textCol).cast("string").as("t"),
        col(labelCol).cast("double").as("y"))
      .orderBy(md5(col("sid")))
      .limit(maxSample)
      .collect()
    trainLogisticRows(
      rows.map(r => (r.getString(1), r.getDouble(2))), dim, iters, lr, l2)
  }

  /** The driver GD over an ALREADY-collected (text, label) sample — the
    * fused-action path (q_text_classify pulls the sample and the teacher
    * median in ONE job and labels on the driver). Sample ORDER defines
    * the gradient fold's FP accumulation order: callers must pass rows in
    * the same md5(sid)-ascending order [[trainLogistic]] collects, and
    * then the model bits are identical (the Verify cross-check replays
    * the staged path and asserts bit-equality). */
  private[graft] def trainLogisticRows(
      sample: Array[(String, Double)],
      dim: Int,
      iters: Int,
      lr: Double = 1.0,
      l2: Double = 1e-4): LogisticModel = {
    val rows = sample
    require(rows.nonEmpty, "trainLogistic needs a non-empty labeled sample")
    // primitive parallel arrays: the GD loop touches every feature of
    // every sample per iteration — boxed tuples there dominate runtime.
    // Featurization (an md5 per token of the whole sample) is per-sample
    // independent, so it runs on the common FJ pool; results land by
    // index, identical regardless of thread interleaving.
    val idxs = new Array[Array[Int]](rows.length)
    val vals = new Array[Array[Double]](rows.length)
    val ys = new Array[Double](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { s =>
      val f = featurize(rows(s)._1, dim)
      idxs(s) = f.map(_._1)
      vals(s) = f.map(_._2)
      ys(s) = rows(s)._2
    }
    val w = new Array[Double](dim)
    var b = 0.0
    val n = rows.length.toDouble
    val errs = new Array[Double](rows.length)
    for (_ <- 0 until iters) {
      // Phase 1 (parallel): per-sample logits/errors read only the
      // iteration-stable (w, b) — each err is the same serial dot product,
      // so the doubles are bit-identical to the single-threaded loop.
      java.util.stream.IntStream.range(0, rows.length).parallel().forEach { s =>
        val is = idxs(s); val vs = vals(s)
        var z = b
        var j = 0
        while (j < is.length) { z += w(is(j)) * vs(j); j += 1 }
        errs(s) = sigmoid(z) - ys(s)
      }
      // Phase 2 (serial, sample order): gradient accumulation — the one
      // part whose FP ADD ORDER defines the model bits stays sequential.
      val gw = new Array[Double](dim)
      var gb = 0.0
      var s = 0
      while (s < idxs.length) {
        val is = idxs(s); val vs = vals(s); val err = errs(s)
        var j = 0
        while (j < is.length) { gw(is(j)) += err * vs(j); j += 1 }
        gb += err
        s += 1
      }
      var i = 0
      while (i < dim) { w(i) -= lr * (gw(i) / n + l2 * w(i)); i += 1 }
      b -= lr * gb / n
    }
    LogisticModel(w.toSeq, b, dim)
  }

  /** Distributed scoring: adds `score` (sigmoid of the linear logit,
    * rounded to `prec`). Shuffle-free — the weights are a literal.
    *
    * Both folds run over the SORTED bucket array so the floating-point
    * accumulation order is canonical: [[scoreDriver]] replays the same
    * arithmetic on the driver and matches BIT-EXACTLY (the Verify
    * cross-check and LlmSpec assert equality, not tolerance). Σ w[h(t)]·
    * tf(t)/nrm == (Σ w[h(t)] per occurrence)/nrm because tf-weighted sums
    * distribute over occurrences. */
  def score(docs: DataFrame, textCol: String, model: LogisticModel,
      prec: Int = 5): DataFrame = {
    // Fused native logit ([[graft.expressions.ClassifierLogit]]): same
    // sorted-bucket folds, bit-identical doubles (LlmSpec pins native ≡
    // staged ≡ scoreDriver); removes the interpreted HOF chain and — the
    // dominant cost — a per-token element_at into a dim-sized (65536)
    // array LITERAL.
    val logit = ColumnBridge.column(graft.expressions.ClassifierLogit(
      ColumnBridge.expression(col(textCol)), model.weights.toArray, model.dim))
    docs.withColumn("score",
      round(lit(1.0) / (lit(1.0) + exp(-(logit + lit(model.bias)))), prec))
  }

  /** The staged builtin composition of [[score]] — the semantic reference
    * the native expression is pinned against (LlmSpec). */
  private[graft] def scoreStaged(docs: DataFrame, textCol: String, model: LogisticModel,
      prec: Int = 5): DataFrame = {
    val wLit = typedlit(model.weights)
    val toks = TextOps.tokens(col(textCol))
    val bucket = (t: org.apache.spark.sql.Column) =>
      (TextOps.h60(t) % model.dim).cast("int")
    val buckets = array_sort(transform(toks, t => bucket(t)))
    val rawDot = aggregate(buckets, lit(0.0),
      (acc, b) => acc + element_at(wLit, b + 1))
    // nrm = sqrt(Σ tf²) over distinct buckets: count occurrences per
    // bucket via the sorted bucket array
    val tfSq = aggregate(
      zip_with(buckets, slice(concat(array(lit(-1)), buckets), lit(1), size(buckets)),
        (cur, prev) => struct(cur.as("b"), (cur === prev).as("rep"))),
      struct(lit(0.0).as("acc"), lit(0.0).as("run")),
      (st, e) => {
        val newRun = when(e.getField("rep"), st.getField("run") + 1).otherwise(lit(1.0))
        // Σ tf² incrementally: adding the k-th copy of a bucket raises its
        // tf² contribution by k² − (k−1)² = 2k − 1
        struct((st.getField("acc") + newRun * 2 - 1).as("acc"), newRun.as("run"))
      }).getField("acc")
    val nrm = sqrt(tfSq)
    docs.withColumn("score",
      round(lit(1.0) / (lit(1.0) +
        exp(-(when(nrm > 0, rawDot / nrm).otherwise(lit(0.0)) + lit(model.bias)))), prec))
  }

  /** Driver-side replay of [[score]]'s exact column arithmetic — same
    * sorted-bucket fold order, same incremental Σtf² recurrence, same
    * HALF_UP rounding — so distributed and driver scores are BIT-EQUAL.
    * This is the Verify cross-check oracle for q_text_classify. */
  private[graft] def scoreDriver(text: String, model: LogisticModel,
      prec: Int = 5): Double = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).trim
      .split("\\s+").filter(_.nonEmpty)
    val buckets = toks.map(t => (TextOps.jvmH60(t) % model.dim).toInt).sorted
    var rawDot = 0.0
    var i = 0
    while (i < buckets.length) { rawDot += model.weights(buckets(i)); i += 1 }
    var acc = 0.0
    var run = 0.0
    i = 0
    while (i < buckets.length) {
      run = if (i > 0 && buckets(i) == buckets(i - 1)) run + 1 else 1.0
      acc = acc + (run * 2 - 1)
      i += 1
    }
    val nrm = math.sqrt(acc)
    val logit = (if (nrm > 0) rawDot / nrm else 0.0) + model.bias
    val s = 1.0 / (1.0 + math.exp(-logit))
    BigDecimal(s).setScale(prec, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
