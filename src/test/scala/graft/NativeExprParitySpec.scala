package graft

import graft.llm.{Classifier, LangModel, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Pins the r21 fused native expressions bit-for-bit against the staged
  * builtin compositions they replaced (the optimization-round contract:
  * faster, but NEVER a different value). Texts include the adversarial
  * corners the stagings are sensitive to: trailing newlines (Spark's split
  * keeps trailing empties), multi-whitespace, unicode, '#'/'...' runs,
  * bullets, empty-ish docs, OOV-only docs. */
class NativeExprParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val texts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank",
    "The   QUICK\tbrown\nfox ...",
    "- bullet one\n* bullet two\n• bullet three\nplain line",
    "ends with ellipsis ...\nand ... mid line\n....\n......",
    "#### hash #heavy# text with # marks",
    "unicode café naïve 😀 emoji token",
    "single",
    "a\nb\nc\n",
    "  ",
    "of the and to be that have with of the and",
    "zz qq xx vv kk pp")
  private lazy val docs = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("UnigramNllSum: native avgNllToks == staged fold, bit-exact") {
    val model = LangModel.unigramTrain(docs, "text", 8)
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val native = LangModel.avgNllToks(toks, "doc_id", "toks", model)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val staged = LangModel.avgNllToksStaged(toks, "doc_id", "toks", model)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(native.nonEmpty && native.toSeq == staged.toSeq)
  }

  test("BigramNllSum: native avgNllBigram == staged fold, bit-exact") {
    val model = LangModel.bigramTrain(docs, "text", 8, 16)
    val native = LangModel.avgNllBigram(docs, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val staged = LangModel.avgNllBigramStaged(docs, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(native.nonEmpty && native.toSeq == staged.toSeq)
  }

  test("GopherFeatures: native gopherRules == staged tree on every feature") {
    def run(f: org.apache.spark.sql.Column => Seq[(String, org.apache.spark.sql.Column)]) =
      docs.select(col("doc_id") +: f(col("text")).map { case (n, c) => c.as(n) }: _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val native = run(TextOps.gopherRules)
    val staged = run(TextOps.gopherRulesStaged)
    assert(native.keySet == staged.keySet)
    for (k <- native.keySet) assert(native(k) == staged(k), s"doc $k differs")
  }

  test("GopherFeatures: a mid-length realistic doc flips keep identically") {
    // 60 filler words + 2 distinct gopher stopwords → keep = true on both
    val body = (1 to 60).map(i => s"word$i").mkString(" ") + " the and"
    val d2 = Seq((0L, body), (1L, body + " ####################")).toDF("doc_id", "text")
    def keepOf(f: org.apache.spark.sql.Column => Seq[(String, org.apache.spark.sql.Column)]) =
      d2.select(col("doc_id"), f(col("text")).toMap.apply("keep").as("k"))
        .as[(Long, Boolean)].collect().toMap
    val n = keepOf(TextOps.gopherRules)
    val s = keepOf(TextOps.gopherRulesStaged)
    assert(n == s && n(0L) && !n(1L))
  }

  test("ClassifierLogit: native score == staged score == driver replay") {
    val labeled = docs.withColumn("label", (col("doc_id") % 2 === 0).cast("int"))
    val model = Classifier.trainLogistic(labeled, "doc_id", "text", "label",
      dim = 1 << 12, iters = 20, maxSample = 64)
    val native = Classifier.score(docs, "text", model)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val staged = Classifier.scoreStaged(docs, "text", model)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(native == staged)
    val driver = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> Classifier.scoreDriver(t, model)
    }.toMap
    assert(native == driver)
  }

  test("trainLogistic is deterministic across runs (parallel featurize/err phases)") {
    val labeled = docs.withColumn("label", (col("doc_id") % 2 === 0).cast("int"))
    val m1 = Classifier.trainLogistic(labeled, "doc_id", "text", "label",
      dim = 1 << 10, iters = 15, maxSample = 64)
    val m2 = Classifier.trainLogistic(labeled, "doc_id", "text", "label",
      dim = 1 << 10, iters = 15, maxSample = 64)
    assert(m1.bias == m2.bias && m1.weights == m2.weights)
  }

  test("Tokens: native tokenizer == staged filter(split(lower(trim))) on ASCII, unicode, whitespace edges") {
    val edge = Seq(
      "simple words here",
      "  leading and trailing  ",
      "tab\tseparated\nand newline",
      "MIXED Case ÄÖÜ STRASSE İstanbul ΣΟΦΙΑ",
      "non breaking space stays one token", // NBSP is not \s
      "multi   runs\t\t\nof   whitespace",
      "", "   ", "\u0001control\u0002bytes",
      "emoji 🙂 and ℻ digits １２３")
    val d2 = edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = d2.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val staged = d2.select(col("doc_id"), TextOps.tokensStaged(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native == staged)
    // and on the real corpus
    val nc = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val sc2 = docs.select(col("doc_id"), TextOps.tokensStaged(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(nc == sc2)
  }

  test("classifyModelFused: one-job median+sample path yields the staged chain's exact model bits (r22)") {
    // staged chain — q_text_classify's pre-r22 construction: separate
    // median action, distributed label join, trainLogistic's own collect
    val sfDir = "/root/testdata/sf0.001"
    val d = graft.Graft.table(spark, sfDir, "documents")
    val teacher = graft.llm.LangModel.unigramTrain(d, "text", topV = 256)
    val scored = graft.llm.LangModel.avgNll(d, "doc_id", "text", teacher)
    val med = graft.queries.LlmQueries.boundedLowerMedian(scored, "avg_nll")
    val labeled = d.join(
      scored.select(col("doc_id"), (col("avg_nll") <= med).cast("int").as("label")),
      "doc_id")
    val staged = Classifier.trainLogistic(
      labeled, "doc_id", "text", "label", dim = 1 << 14, iters = 100)
    val (fused, fusedMed, _) = graft.queries.LlmQueries.classifyModelFused(spark, sfDir)
    assert(fusedMed == med, "fused lower median drifted")
    assert(fused.bias == staged.bias && fused.weights == staged.weights,
      "fused-action training sample or order drifted from the staged chain")
  }

  test("DsirGramBuckets: native bucket ids == staged md5-prefix bucketing") {
    val buckets = 64
    val toks = filter(
      split(lower(trim(coalesce(col("text"), lit("")))), "\\s+"), t => t =!= "")
    val bigrams = when(size(toks) > lit(1),
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).otherwise(array())
    val grams = concat(toks, bigrams)
    val staged = docs.select(col("doc_id"),
      transform(grams,
        g => conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = docs.select(col("doc_id"),
      ColumnBridge.column(graft.expressions.DsirGramBuckets(
        ColumnBridge.expression(coalesce(col("text"), lit(""))), buckets)).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == staged)
  }

  test("C4Features / QualityFeatures / RepetitionFeatures: native == staged") {
    def run(f: org.apache.spark.sql.Column => Seq[(String, org.apache.spark.sql.Column)]) =
      docs.select(col("doc_id") +: f(col("text")).map { case (n, c) => c.as(n) }: _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // c4-sensitive corners: trailing '\r' before $ anchors, space-only trim
    val extra = Seq(
      (100L, "line one.\r\nline two! \nlorem IPSUM marker"),
      (101L, "brace { code }\nclean line."),
      (102L, "tab-trimmed.\t\nspace-trimmed. ")).toDF("doc_id", "text")
    for (d <- Seq(docs, extra)) {
      def runOn(f: org.apache.spark.sql.Column => Seq[(String, org.apache.spark.sql.Column)]) =
        d.select(col("doc_id") +: f(col("text")).map { case (n, c) => c.as(n) }: _*)
          .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(runOn(TextOps.c4Features(_)) == runOn(TextOps.c4FeaturesStaged(_)))
      assert(runOn(TextOps.qualityFeatures) == runOn(TextOps.qualityFeaturesStaged))
      assert(runOn(TextOps.repetitionFeatures) == runOn(TextOps.repetitionFeaturesStaged))
    }
    assert(run(TextOps.c4Features(_)).nonEmpty)
  }

  test("LangIdFeature: native == staged over multilingual token arrays") {
    val multi = (texts ++ Seq(
      "der hund ist nicht ein zu mit auf der die",
      "el la los las es un una por que para",
      "le chat est dans la maison pour que les",
      "la es le und the")) // cross-language ambiguity → tie-break order
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toks = TextOps.tokens(col("text"))
    def run(f: org.apache.spark.sql.Column => (org.apache.spark.sql.Column, org.apache.spark.sql.Column)) = {
      val (lang, score) = f(toks)
      multi.select(col("doc_id"), lang.as("l"), score.as("s"))
        .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }
    assert(run(TextOps.langId) == run(TextOps.langIdStaged))
  }

  test("VocabBigrams: native pair stream == staged transform+filter") {
    val vocab = Seq("the", "quick", "brown", "fox", "a", "b", "c", "und")
    val toks = TextOps.tokens(col("text"))
    val stagedPairs = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").isInCollection(vocab) && col("b").isInCollection(vocab))
      .as[(Long, String, String)].collect().toSeq.sorted
    val nativePairs = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(ColumnBridge.column(graft.expressions.VocabBigrams(
        ColumnBridge.expression(col("toks")), vocab))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(nativePairs == stagedPairs && nativePairs.nonEmpty)
  }

  test("CleanRuns: native span surgery == staged coverage/runs fold") {
    // boilerplate 8-gram shared by docs 0 and 1 at different offsets; doc 2
    // untouched; doc 3 fully covered (vanishes); doc 4 short tail fragments
    val boiler = "one two three four five six seven eight"
    val d = Seq(
      (0L, s"alpha beta $boiler gamma delta epsilon"),
      (1L, s"$boiler zeta eta"),
      (2L, "totally unrelated words that survive whole"),
      (3L, boiler),
      (4L, s"x $boiler y")).toDF("doc_id", "text")
    for ((margin, minKeep) <- Seq((0, 1), (1, 2), (0, 3))) {
      def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          String, String, Int, Int, Int) => org.apache.spark.sql.DataFrame) =
        f(d, graft.llm.Dedup.spanBadPositions(d, "doc_id", "text", 8),
          "doc_id", "text", 8, margin, minKeep)
          .as[(Long, Long, String, Long)].collect().toSeq.sorted
      val native = run(graft.llm.Decontaminate.fragmentByBadStarts)
      val staged = run(graft.llm.Decontaminate.fragmentByBadStartsStaged)
      assert(native == staged, s"margin=$margin minKeep=$minKeep")
      assert(native.nonEmpty)
    }
  }

  test("LamMicroSum: native fold == aggregate over the literal table") {
    val lam = Array.tabulate(64)(i => (i * 2654435761L) % 1000001L - 500000L)
    val lamCol = typedlit(lam.toSeq)
    val arrs = Seq(Seq(0L, 5L, 63L, 5L), Seq.empty[Long], Seq(17L)).toDF("a")
    val both = arrs.select(
      ColumnBridge.column(graft.expressions.LamMicroSum(
        ColumnBridge.expression(col("a")), lam)).as("n"),
      aggregate(col("a"), lit(0L),
        (acc, b) => acc + element_at(lamCol, (b + 1).cast("int"))).as("s"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (n, s) => n == s })
  }
}
