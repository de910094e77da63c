package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Byte-pair-encoding tokenization (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the real subword
  * tokenizer a training-data pipeline runs for token accounting and
  * sequence packing, not the regex approximation (TextOps keeps that as
  * the cheap estimator).
  *
  * Spark-first split, mirroring every model object in this repo
  * (centers, PQ codebooks, unigram vocab):
  *  - TRAIN on the driver over a BOUNDED word-frequency dictionary — one
  *    token-count aggregation (the canonical word-count shuffle) and a
  *    `maxWords`-capped collect; the classic merge loop then runs over
  *    ≤ maxWords (word, count) entries, never over the corpus. This is
  *    the standard practice: BPE merge tables are trained on frequency
  *    dicts, and the dict saturates long before the corpus does.
  *  - ENCODE distributed and shuffle-free via the native BpeEncode
  *    expression: the merge ranks ride in the task binary; each document
  *    greedily merges its own tokens in one tight JVM pass.
  *
  * Determinism: the word dict is top `maxWords` by (count DESC, word ASC);
  * each merge round picks the pair with (count DESC, pair ASC) — integer
  * counts and string order only, so retrains are bit-stable.
  */
object Bpe {

  /** End-of-word marker (attached to a word's final symbol, the Sennrich
    * convention, so "low" as a whole word and "low" inside "lower" encode
    * differently). */
  val EOW = "</w>"

  /** Ordered merge list; rank = position. */
  case class BpeModel(merges: Seq[(String, String)]) {
    @transient lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
  }

  /** Train `numMerges` merges from the corpus word-frequency dictionary. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 65536): BpeModel = {
    val dict = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    trainFromDict(dict.toSeq, numMerges)
  }

  /** The classic merge loop over a (word, count) dict — driver-local. */
  private[graft] def trainFromDict(dict: Seq[(String, Long)],
      numMerges: Int): BpeModel = {
    // each word as its symbol sequence (chars, EOW glued to the last)
    var words: Array[(Array[String], Long)] = dict.map { case (w, c) =>
      (symbolsOf(w), c)
    }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var done = false
    var round = 0
    while (round < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // (count DESC, pair ASC) — deterministic
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += joined; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
        }
        round += 1
      }
    }
    BpeModel(merges.result())
  }

  private[graft] def symbolsOf(w: String): Array[String] = {
    val cs = w.toCharArray.map(_.toString)
    if (cs.isEmpty) cs else { cs(cs.length - 1) = cs(cs.length - 1) + EOW; cs }
  }

  /** Greedy encode of one word under the model — lowest-rank pair merges
    * first (the standard BPE encode order; NOT the same as replaying
    * merges over the word, which is equivalent but quadratic). */
  private[graft] def encodeWord(w: String, model: BpeModel): Array[String] = {
    var syms = symbolsOf(w)
    if (syms.length < 2) return syms
    var continue = true
    while (continue && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        model.ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) continue = false
      else {
        // merge EVERY occurrence of the chosen pair left-to-right
        val a = syms(bestAt); val b = syms(bestAt + 1); val joined = a + b
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += joined; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Distributed encode: adds `subwords` (array<string>) — whitespace
    * tokens each greedily merged under the model, concatenated in order. */
  def encode(docs: DataFrame, textCol: String, model: BpeModel): DataFrame = {
    docs.withColumn("subwords", ColumnBridge.column(graft.expressions.BpeEncode(
      ColumnBridge.expression(col(textCol)), model)))
  }
}
