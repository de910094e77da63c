package graft

import graft.llm._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `graft.llm` operators bind each native expression to its Column
  * when the DataFrame is built: running every operator that reaches a
  * native leaves the session's function registry exactly as it was (no
  * temp function is written to resolve a Column by name). */
class NativeColumnRegistrySpec extends SparkSpec {

  test("llm operators that build native expressions leave the function registry unchanged") {
    val s2 = spark.newSession()
    import s2.implicits._
    val registry = s2.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val prevActive = SparkSession.getActiveSession
    // a Column factory that wrote to the active session's registry would
    // write to s2's, where the snapshot sees it
    SparkSession.setActiveSession(s2)
    try {
      val docs = Seq(
        (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1L, "the quick brown fox jumps over the lazy dog near the river bend"),
        (2L, "completely different words about spark query engines.\nand shuffles."),
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text")
      val bench = Seq((9L, "over the lazy dog near the river")).toDF("doc_id", "text")
      val mk = (x: Double, y: Double) => Seq(x.toFloat, y.toFloat, 0f, 1f)
      val emb = Seq((0L, mk(1, 0)), (1L, mk(0, 1)), (2L, mk(0.9, 0.1)), (3L, mk(0.1, 0.9)))
        .toDF("vec_id", "embedding")
      def run(df: DataFrame): Unit = { df.collect(); () }

      // Similarity: dot / norm / cosine, k-means
      run(Similarity.knnBrute(emb, "vec_id", "embedding", col("vid") === 0L, 2))
      Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 2, iterations = 2, rounds = 1)
      // Classifier, BPE, PQ
      run(Classifier.score(docs, "text", Classifier.LogisticModel(Seq.fill(16)(0.1), 0.0, 16)))
      run(Bpe.encode(docs, "text", Bpe.BpeModel(Seq(("t", "h"), ("th", "e")))))
      val codebooks = Seq.fill(2)(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
      run(Pq.pqEncode(emb, "embedding", Pq.PqModel(2, 2, 2, codebooks)))
      // Dedup: shingles + minhash, simhash, demote + sorted intersect, spans
      run(Dedup.signatureBands(docs, "doc_id", "text"))
      run(Dedup.simhashPairs(docs, "doc_id", "text"))
      assert(Dedup.heavyShingles(Dedup.shingleHashes(docs, "doc_id", "text", 3), 4L, 0.3, 16)
        .nonEmpty, "the demote path needs a heavy shingle")
      run(Dedup.ngramJaccard(docs, "doc_id", "text", maxShingleDfFrac = 0.3))
      run(Dedup.dedupSpans(docs, "doc_id", "text", n = 4))
      // Decontaminate: whole-document flags and span surgery
      run(Decontaminate.contamination(docs, bench, "doc_id", "text", n = 3))
      run(Decontaminate.decontaminateSpans(docs, bench, "doc_id", "text", n = 3))
      // Mix importance resampling: bucket featurizer + log-ratio fold
      run(Mix.importanceResample(docs, "doc_id", "text", col("doc_id") < 2L, k = 2, buckets = 64))
      // LangModel: unigram and bigram scoring, bigram training
      run(LangModel.avgNll(docs, "doc_id", "text", LangModel.unigramTrain(docs, "text", 8)))
      val bigram = LangModel.bigramTrain(docs, "text", topV = 8, topB = 8)
      run(LangModel.avgNllBigram(docs, "doc_id", "text", bigram))
      // TextOps feature columns
      val (lang, score) = TextOps.langId(TextOps.tokens(col("text")))
      val feats = TextOps.qualityFeatures(col("text")) ++
        TextOps.repetitionFeatures(col("text")) ++ TextOps.c4Features(col("text")) ++
        TextOps.gopherRules(col("text"))
      run(docs.select(lang.as("lang") +: score.as("score") +:
        feats.map { case (n, c) => c.as(n) }: _*))
    } finally prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)

    val added = registry.listFunction().toSet -- before
    assert(added.isEmpty, s"registry grew by: ${added.mkString(", ")}")
  }
}
