package graft

import graft.llm.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
    (2L, "completely different words about spark query engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank")) // exact dup of 0
    .toDF("doc_id", "text")

  test("tokens lowercases, trims and drops empty tokens") {
    val out = Seq("  Hello   World  ").toDF("t")
      .select(TextOps.tokens(col("t"))).as[Seq[String]].head()
    assert(out == Seq("hello", "world"))
  }

  test("shingles produces n-grams, short docs collapse to one shingle") {
    val out = Seq("a b c d").toDF("t")
      .select(TextOps.shingles(TextOps.tokens(col("t")), 3)).as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextOps.shingles(TextOps.tokens(col("t")), 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("exact dedup marks later copies, keeps canonical id") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .select("doc_id", "dup_of", "is_dup").as[(Long, Long, Boolean)]
      .collect().toSet
    assert(out == Set((0L, 0L, false), (1L, 1L, false), (2L, 2L, false), (3L, 0L, true)))
  }

  test("minhash: identical docs agree fully, near-dups score high, unrelated don't pair") {
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text")
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) >= 0.5)
    assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("simhash: hamming 0 for identical docs, blocking finds near-dups") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 3L)) == 0L)
    assert(pairs.get((0L, 1L)).forall(_ <= 3L))
  }

  test("ngram jaccard computes the exact set overlap") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 3L)) == 1.0)
    // 13 tokens → 11 distinct shingles each; editing the final word changes
    // only the final shingle → 10 common / 12 union
    assert(pairs((0L, 1L)) == math.round(10.0 / 12 * 1e6) / 1e6)
  }

  test("ngram jaccard: df-demotion keeps boilerplate out of candidate generation, losslessly") {
    // 121 docs sharing a 10-token boilerplate header (8 all-docs 3-grams,
    // the "All rights reserved." scale killer) + a 12-token unique tail so
    // no cross-doc pair qualifies at t=0.5; doc 1000 is a planted near-dup
    // of doc 0 (one tail word changed → J = 19/21).
    val boiler = "all rights reserved by the original publisher of this work"
    val base = (0 until 120).map { i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i u${i}j u${i}k u${i}l")
    }
    val planted = (1000L,
      s"$boiler u0a u0b u0c u0d u0e u0f u0g u0h u0i u0j u0k zz")
    val d = (base :+ planted).toDF("doc_id", "text")
    val sets = Dedup.shingleHashes(d, "doc_id", "text", 3)
      .withColumn("nsh", size(col("sh")).cast("long"))
    val heavy = Dedup.heavyShingles(sets, 121L, 0.05, 4096)
    // exactly the 8 windows fully inside the boilerplate exceed df cap 6
    assert(heavy.length == 8)
    // DemoteHeavy must run as GENERATED code: with fallback disabled a
    // janino compile error fails the count instead of silently degrading
    // the candidate hot path to interpreted eval
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val candDemoted =
      try Dedup.ngramCandidates(sets, 0.5, heavy).count()
      finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    val candPlain = Dedup.ngramCandidates(sets, 0.5, Array.emptyLongArray).count()
    // demoted: candidates are ~linear (only genuinely-overlapping docs
    // collide); plain hash order: the boilerplate posting lists blow up
    // quadratically in the number of docs sharing the header
    assert(candDemoted <= 2, s"demoted candidates should be ~linear, got $candDemoted")
    assert(candPlain > 100 * math.max(candDemoted, 1),
      s"expected quadratic blowup without demotion, got $candPlain vs $candDemoted")
    // losslessness: identical verified output with and without the guard
    def pairs(frac: Double) =
      Dedup.ngramJaccard(d, "doc_id", "text", maxShingleDfFrac = frac)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val guarded = pairs(0.05)
    assert(guarded == pairs(1.0))
    assert(guarded.map(p => (p._1, p._2)) == Set((0L, 1000L)))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)), // identical to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.9f, 0.1f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("knnBrute ranks the identical vector first with cosine 1") {
    val out = Similarity.knnBrute(vecs, "vec_id", "embedding", col("vid") === 0, 3)
      .select("rk", "neighbor_id", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(out.head == ((1L, 1L, 1.0)))
    assert(out.map(_._2) == Seq(1L, 3L, 2L))
  }

  test("topSimilarPairs reports the identical pair first") {
    val out = Similarity.topSimilarPairs(vecs, "vec_id", "embedding", 2)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(out.head == ((0L, 1L, 1.0)))
  }

  test("nearDupPairsLsh finds every planted near-duplicate, agreeing with the all-pairs baseline") {
    // 200 deterministic pseudo-random 64-dim vectors + 10 planted near-dups
    // (copy with tiny perturbation, cos > 0.99) — the workload the LSH
    // report exists for; the all-pairs baseline is the oracle
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map(i => i.toLong -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val planted = (0 until 10).map { i =>
      val (srcId, v) = base(i * 17)
      (1000L + srcId) -> v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    }
    val all = (base ++ planted).toDF("vec_id", "embedding")
    val lsh = Similarity.nearDupPairsLsh(all, "vec_id", "embedding", 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.topSimilarPairs(all, "vec_id", "embedding", 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 10).map(i => (i * 17).toLong -> (1000L + i * 17)).toSet
    assert(exact == expected) // the planted pairs ARE the true top-10
    assert(lsh == expected, "LSH candidates must recall all planted near-duplicates")
  }

  test("lsh buckets identical vectors together; knnLsh finds the twin") {
    val hp = Similarity.hyperplanes(8, 3)
    assert(hp.length == 8 && hp.head.length == 3 && hp.flatten.forall(v => v == 1.0 || v == -1.0))
    val out = Similarity.knnLsh(vecs, "vec_id", "embedding", col("vid") === 0, 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out.contains(1L))
  }

  test("native minhash expression matches the builtin composition") {
    val hs = transform(TextOps.shingleSet(col("text"), 3), s => TextOps.h60(s))
    val both = corpus.select(hs.as("hs"))
      .select(TextOps.minhashSigFromHashes(col("hs"), 16).as("a"),
        TextOps.minhashSigFromHashesHof(col("hs"), 16).as("b"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.forall { case (a, b) => a == b })
  }

  test("native shingle-hash expression matches the staged builtin pipeline") {
    val text = ColumnBridge.expression(col("text"))
    val staged = corpus
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), TextOps.shingles(col("toks"), 3).as("shw"), col("toks"))
      .select(col("doc_id"), col("text"),
        array_distinct(transform(col("shw"), s => TextOps.h60(s))).as("builtin3"),
        transform(col("toks"), t => TextOps.h60(t)).as("builtin1"))
    val both = staged
      .select(
        ColumnBridge.column(graft.expressions.ShingleHashes(text, 3, distinct = true))
          .as("native3"), col("builtin3"),
        ColumnBridge.column(graft.expressions.ShingleHashes(text, 1, distinct = false))
          .as("native1"), col("builtin1"))
      .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
    both.foreach { case (n3, b3, n1, b1) =>
      assert(n3.toSet == b3.toSet && n3.length == b3.length)
      assert(n1 == b1)
    }
  }

  test("native sorted intersect count matches array_intersect") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val both = df.select(
      ColumnBridge.column(graft.expressions.IntersectCountSorted(
        ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b")))).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (n, b) => n == b })
  }

  test("native dot product matches the interpreted fold") {
    val fold = aggregate(
      zip_with(transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val both = vecs.select(Similarity.dot(col("embedding"), col("embedding")).as("a"), fold.as("b"))
      .as[(Double, Double)].collect()
    assert(both.forall { case (a, b) => a == b })
  }

  test("langId predicts en for English stopword-rich text, und for none") {
    val out = Seq("the cat sat on the mat", "xyzzy plugh").toDF("t")
      .select(TextOps.langId(TextOps.tokens(col("t")))._1).as[String].collect().toSeq
    assert(out == Seq("en", "und"))
  }

  test("fingerprint is stable and prefix-insensitive to later edits") {
    val fp = Seq("a b c d e f g h", "a b c d e f g h")
      .toDF("t").select(TextOps.fingerprint(col("t"), 4)).as[Seq[Long]].collect()
    assert(fp(0) == fp(1) && fp(0).length == 4 && fp(0) == fp(0).sorted)
  }

  test("minhash pairs → connectedComponents recovers the planted duplicate clusters") {
    // the end-to-end dedup-cluster pipeline: near-dup PAIRS from LSH, then
    // cluster assignment — a 3-doc near-dup family plus an exact twin pair
    // land in two clusters keyed by their min doc ids
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (10L, "completely unrelated text about catalyst expression code generation"),
      (11L, "completely unrelated text about catalyst expression code generation"),
      (20L, "a lone document with no duplicate partner anywhere in this corpus"))
      .toDF("doc_id", "text")
    val clusters = Dedup.connectedComponents(
      Dedup.minhashLsh(docs, "doc_id", "text"), "id_a", "id_b")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(clusters == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // doc 20 pairs with nothing → absent (keep-policy: no cluster, keep it)
  }

  test("connectedComponents labels each pair-graph component with its min doc id") {
    // two chains (1-2-3, 10-11) and an isolated pair (20,21): transitive
    // closure through shared neighbors, no cross-component bleed
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // a long path needs diameter rounds — exercise the iteration
    val path = (0L until 12L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val chained = Dedup.connectedComponents(path, "id_a", "id_b")
      .as[(Long, Long)].collect().toSeq
    assert(chained.forall(_._2 == 0L) && chained.size == 12)
  }

  test("repetition features: planted spam scores high, varied text low") {
    val rows = Seq(
      (1L, "buy now buy now buy now buy now"),          // 8 toks, 2 distinct
      (2L, "each word appears exactly once here now"),  // all distinct
      (3L, "solo"))                                     // 1 token, no 2-grams
      .toDF("doc_id", "text")
    val feats = graft.llm.TextOps.repetitionFeatures(col("text"))
    val out = rows.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").as[(Long, Double, Double, Double)].collect().toSeq
    // spam: 1-2/8 dup words; 2-grams = 7 with 2 distinct ("buy now"/"now buy");
    // top token 4/8
    assert(out(0) == ((1L, 0.75, BigDecimal(1.0 - 2.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.5)))
    assert(out(1) == ((2L, 0.0, 0.0, BigDecimal(1.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(2) == ((3L, 0.0, 0.0, 1.0)))
  }

  test("decontamination flags a planted benchmark span and only it") {
    // doc 10 copies an 8-word span of benchmark doc 1 → 4 distinct 5-gram
    // overlaps; doc 11 shares nothing; doc 12 shares a 5-word span → exactly
    // 1 overlap, below minOverlap=2
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (10L, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
      (11L, "completely different content with no shared spans at all here"),
      (12L, "prefix alpha beta gamma delta epsilon suffix tail words end"))
      .toDF("doc_id", "text")
    val out = graft.llm.Decontaminate
      .contamination(docs, bench, "doc_id", "text", n = 5, minOverlap = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L, 4L)))
    // maxGramDf=0 drops every benchmark gram → nothing can flag
    val capped = graft.llm.Decontaminate
      .contamination(docs, bench, "doc_id", "text", n = 5, minOverlap = 1L, maxGramDf = 0L)
      .count()
    assert(capped == 0L)
  }

  test("span decontamination cuts the contaminated span, keeps clean fragments") {
    // n=3, bench grams = {the quick brown, quick brown fox}; docA's bad
    // starts {3,4} cover tokens 3..6 → fragments "aa bb" + "cc dd"; docB
    // is clean → whole doc as fragment 0; docC IS the benchmark text →
    // fully covered, zero fragments
    val bench = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "aa bb the quick brown fox cc dd"),
      (11L, "xx yy zz"),
      (12L, "the quick brown fox"))
      .toDF("doc_id", "text")
    val out = graft.llm.Decontaminate
      .decontaminateSpans(docs, bench, "doc_id", "text",
        n = 3, margin = 0, minKeepTokens = 2, minOverlap = 1L)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      (10L, 0L, "aa bb", 2L),
      (10L, 1L, "cc dd", 2L),
      (11L, 0L, "xx yy zz", 3L)))
    // margin=1 widens coverage to tokens 2..7: the 1-token remnants fall
    // under minKeepTokens=2 and docA vanishes entirely...
    val margined = graft.llm.Decontaminate
      .decontaminateSpans(docs, bench, "doc_id", "text",
        n = 3, margin = 1, minKeepTokens = 2, minOverlap = 1L)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(margined === Seq((11L, 0L, "xx yy zz", 3L)))
    // ...but survives as two 1-token fragments at minKeepTokens=1
    val loose = graft.llm.Decontaminate
      .decontaminateSpans(docs, bench, "doc_id", "text",
        n = 3, margin = 1, minKeepTokens = 1, minOverlap = 1L)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(loose === Seq(
      (10L, 0L, "aa", 1L), (10L, 1L, "dd", 1L), (11L, 0L, "xx yy zz", 3L)))
    // a minOverlap above the shared-gram count leaves the doc untouched
    val strict = graft.llm.Decontaminate
      .decontaminateSpans(docs, bench, "doc_id", "text",
        n = 3, margin = 0, minKeepTokens = 1, minOverlap = 5L)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(strict.map(_._1).distinct === Seq(10L, 11L, 12L))
    assert(strict.forall(_._2 == 0L)) // every doc whole
  }

  test("dedupSpans cuts cross-doc repeated n-grams, keeps the smallest doc_id's copy") {
    // "one two three four" is pasted into docs 1, 5 and 9: doc 1 (the
    // smallest id) keeps it, the others lose the covered tokens. Doc 7's
    // repeats are intra-document only (min doc = max doc per gram) and
    // are NOT touched — that defect belongs to the repetition scorer.
    val docs = Seq(
      (1L, "one two three four tail1 tail2 tail3"),
      (5L, "head1 head2 head3 one two three four"),
      (9L, "one two three four"),
      (7L, "aa bb cc dd aa bb cc dd"))
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.dedupSpans(docs, "doc_id", "text", n = 3, minKeepTokens = 2)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      (1L, 0L, "one two three four tail1 tail2 tail3", 7L),
      (5L, 0L, "head1 head2 head3", 3L), // doc 9 is fully covered: vanishes
      (7L, 0L, "aa bb cc dd aa bb cc dd", 8L)))
    // a higher fragment floor drops doc 5's 3-token remnant too
    val strictKeep = graft.llm.Dedup
      .dedupSpans(docs, "doc_id", "text", n = 3, minKeepTokens = 4)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(strictKeep.map(_._1) === Seq(1L, 7L))
  }

  test("driver union-find path equals the distributed star labels on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(300)(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(edges, "id_a", "id_b", maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toSet
    assert(driver == dist && driver.nonEmpty)
  }

  test("connectedComponents converges on a 100-node chain within O(log n) rounds") {
    // diameter 99 ≫ the 12-round star budget (plus the fixed ≤4-round
    // propagation prelude) — only the alternating-star contraction
    // (rounds ~ log₂ diameter) can converge here; a diameter-bound
    // label-propagation loop cannot, so this pins the phase-2 path AND
    // the star∘propagation label composition
    val path = (0L until 100L).sliding(2).map(w => (w(1), w(0))).toSeq
      .toDF("id_a", "id_b")
    // maxDriverEdges=0 forces the DISTRIBUTED path — the star contraction
    // is what this test pins, not the driver union-find shortcut
    val out = Dedup.connectedComponents(path, "id_a", "id_b", maxIter = 12,
      maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(out.size == 100 && out.forall(_._2 == 0L))
    assert(out.map(_._1).sorted == (0L until 100L))
  }

  test("keepBest keeps exactly the longest member of each duplicate cluster") {
    val docs = Seq(
      (0L, "aaaa", 4L), (1L, "aaaaaa", 6L), (2L, "aa", 2L), // cluster {0,1,2}
      (10L, "bbb", 3L), (11L, "bbb", 3L), // cluster {10,11}: tie → min id
      (20L, "solo", 4L)) // unpaired: not clustered, not emitted
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(docs, pairs)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, false), (1L, 0L, true), (2L, 0L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("stratifiedSample is deterministic, domain-weighted, and id-stable") {
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "web" else "books"))
      .toDF("id", "domain")
    val out = graft.llm.Mix.stratifiedSample(df, "id", "domain",
      Map("web" -> 0.25), defaultRate = 0.75)
    val counts = out.groupBy("domain").count().as[(String, Long)].collect().toMap
    // md5 buckets are uniform: 2000 web rows at 25% ≈ 500, books at 75% ≈ 1500
    assert(math.abs(counts("web") - 500L) < 120, s"web=${counts("web")}")
    assert(math.abs(counts("books") - 1500L) < 120, s"books=${counts("books")}")
    // exactly reproducible (no RNG), and membership is a pure id function:
    // re-sampling a shuffled/filtered frame keeps the same ids
    val again = graft.llm.Mix.stratifiedSample(
        df.orderBy(rand(7)).filter(col("id") < 2000), "id", "domain",
        Map("web" -> 0.25), defaultRate = 0.75)
      .select("id").as[Long].collect().toSet
    val firstHalf = out.filter(col("id") < 2000).select("id").as[Long].collect().toSet
    assert(again == firstHalf)
  }

  test("importanceResample prefers raw documents that look like the target domain") {
    // target docs speak "quantum physics energy"; half the raw corpus
    // mimics that vocabulary, the other half talks about cooking —
    // DSIR selection must strongly favor the physics-flavored raw docs
    val physics = "quantum physics energy field particle wave function state"
    val cooking = "butter flour sugar oven whisk dough recipe bake"
    val rows =
      (0L until 40L).map(i => (i, s"$physics sample $i", "target")) ++
      (100L until 140L).map(i => (i, s"$physics doc $i", "raw")) ++
      (200L until 240L).map(i => (i, s"$cooking doc $i", "raw"))
    val df = rows.toDF("doc_id", "text", "source")
    val out = graft.llm.Mix.importanceResample(df, "doc_id", "text",
      col("source") === "target", k = 30, buckets = 512)
    val picked = out.select("doc_id").as[Long].collect().toSet
    assert(picked.size === 30)
    val physicsPicked = picked.count(_ < 200L)
    assert(physicsPicked >= 25, s"only $physicsPicked physics docs selected")
    // deterministic: same inputs, same selection (md5 Gumbel, no RNG)
    val again = graft.llm.Mix.importanceResample(df.orderBy(rand(3)), "doc_id", "text",
      col("source") === "target", k = 30, buckets = 512)
      .select("doc_id").as[Long].collect().toSet
    assert(again === picked)
    // scoring is shuffle-free: the only exchanges feed the bounded
    // bucket aggregate and the final top-k, never a per-doc join
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("upsample emits fractional epoch copies deterministically") {
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "web" else "code"))
      .toDF("id", "domain")
    val out = graft.llm.Mix.upsample(df, "id", "domain",
      Map("web" -> 2.5, "code" -> 0.25), defaultRepeat = 1.0)
    val counts = out.groupBy("domain").count().as[(String, Long)].collect().toMap
    // 1000 web rows at 2.5× ≈ 2500 epochs; 2000 code rows at 0.25× ≈ 500
    assert(math.abs(counts("web") - 2500L) < 150, s"web=${counts("web")}")
    assert(math.abs(counts("code") - 500L) < 150, s"code=${counts("code")}")
    // every web row keeps epochs 0 and 1; the fractional 3rd is an id-pure draw
    val perId = out.filter(col("domain") === "web").groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    assert(perId.size == 1000 && perId.values.forall(c => c == 2 || c == 3))
    // reproducible across a reshuffle
    val again = graft.llm.Mix.upsample(df.orderBy(rand(3)), "id", "domain",
      Map("web" -> 2.5, "code" -> 0.25), defaultRepeat = 1.0)
      .select("id", "epoch").as[(Long, Int)].collect().toSet
    assert(again == out.select("id", "epoch").as[(Long, Int)].collect().toSet)
  }

  test("repeatsForWeights rebalances observed sizes to target shares") {
    val r = graft.llm.Mix.repeatsForWeights(
      sizes = Map("web" -> 8000L, "code" -> 2000L),
      targetWeights = Map("web" -> 0.5, "code" -> 0.5))
    // web is 80% observed but wants 50% → 0.625×; code 20% → 50% → 2.5×
    assert(math.abs(r("web") - 0.625) < 1e-12 && math.abs(r("code") - 2.5) < 1e-12)
    // domains with no observed rows are dropped, not divided by zero
    val r2 = graft.llm.Mix.repeatsForWeights(
      Map("web" -> 100L), Map("web" -> 1.0, "ghost" -> 1.0))
    assert(r2 == Map("web" -> 0.5))
  }

  test("c4Features counts kept lines and flags boilerplate markers") {
    val df = Seq(
      ("Good line.\nno ending\nAnother one!", false, false),
      ("lorem ipsum dolor.\nFine line.\nMore here.", true, false),
      ("has code { inside }\nEnd here.\nYes.", false, true))
      .toDF("text", "exp_lorem", "exp_brace")
    val feats = TextOps.c4Features(col("text"))
    val out = df.select(
      feats.toMap.apply("n_lines"), feats.toMap.apply("n_kept_lines"),
      feats.toMap.apply("has_lorem"), feats.toMap.apply("has_brace"),
      feats.toMap.apply("keep"))
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(out(0) == ((3L, 2L, false, false, true)))
    assert(out(1) == ((3L, 3L, true, false, false))) // lorem kills it
    assert(out(2) == ((3L, 2L, false, true, false))) // brace kills it
  }

  test("piiFeatures counts emails/IPs/phones and redacts deterministically") {
    val feats = TextOps.piiFeatures(col("text")).toMap
    val out = Seq(
      "mail a@b.com and c.d@e.org, host 10.0.0.1, call +1 555 010 0042 now",
      "nothing sensitive here")
      .toDF("text")
      .select(feats("n_emails"), feats("n_ipv4"), feats("n_phones"), feats("has_pii"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out(0) == ((2L, 1L, 1L, true)))
    assert(out(1) == ((0L, 0L, 0L, false)))
    val red = Seq("write a@b.com at 10.0.0.1").toDF("text")
      .select(regexp_replace(regexp_replace(col("text"), TextOps.emailRe, "<EMAIL>"),
        TextOps.ipv4Re, "<IP>")).as[String].head()
    assert(red == "write <EMAIL> at <IP>")
  }

  test("connectedComponents degrades gracefully at maxIter instead of throwing") {
    // maxIter=1 cannot finish a 40-node chain; the contract is best-effort
    // labels for every node (never discard completed rounds), not a crash
    val path = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(path, "id_a", "id_b", maxIter = 1,
      maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(out.size == 40)
    // labels only ever move downward and stay within the component
    assert(out.forall { case (n, l) => l <= n && l >= 0L })
  }

  test("unigram LM: Laplace probabilities, OOV bucket, left-fold scoring") {
    val d = Seq((0L, "a a b"), (1L, "a c"), (2L, "z z")).toDF("doc_id", "text")
    val m = graft.llm.LangModel.unigramTrain(d, "text", topV = 256)
    // T=7 tokens, vocab {a:3, b:1, c:1, z:2}, V=4 -> denom 12
    assert(m.total == 7L && m.vocabSize == 4)
    assert(m.lp("a") == math.log(4.0 / 12) && m.lp("z") == math.log(3.0 / 12))
    assert(m.oovLp == math.log(1.0 / 12))
    val scores = graft.llm.LangModel.avgNll(d, "doc_id", "text", m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exp0 = BigDecimal(-(2 * math.log(4.0 / 12) + math.log(2.0 / 12)) / 3)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scores(0L) == (3L, exp0))
    // OOV only: a model trained elsewhere scores unseen tokens at oovLp
    val m2 = graft.llm.LangModel.unigramTrain(d.filter($"doc_id" < 2), "text", topV = 2)
    val s2 = graft.llm.LangModel.avgNll(d.filter($"doc_id" === 2), "doc_id", "text", m2)
      .as[(Long, Long, Double)].collect().head
    val expOov = BigDecimal(-m2.oovLp)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s2 == (2L, 2L, expOov))
  }

  test("bigram LM: ML pair probabilities, interpolation, unigram first token") {
    val d = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val m = graft.llm.LangModel.bigramTrain(d, "text", topV = 10, topB = 10, lambda = 0.7)
    // unigrams: a:2 b:2 c:1, T=5, V=3 -> denom 9
    assert(m.uniP("a") == 3.0 / 9 && m.uniP("c") == 2.0 / 9 && m.oovP == 1.0 / 9)
    // bigrams: (a,b):2 of c(a)=2 -> 1.0; (b,a):1/2; (b,c):1/2
    assert(m.biP("a b") == 1.0 && m.biP("b a") == 0.5 && m.biP("b c") == 0.5)
    assert(m.biP.size == 3)
    val scored = graft.llm.LangModel.avgNllBigram(d, "doc_id", "text", m)
      .as[(Long, Long, Double)].collect().head
    val lam = 0.7
    val exp = -(math.log(3.0 / 9) +
      math.log(lam * 1.0 + (1.0 - lam) * (3.0 / 9)) + // a->b
      math.log(lam * 0.5 + (1.0 - lam) * (3.0 / 9)) + // b->a
      math.log(lam * 1.0 + (1.0 - lam) * (3.0 / 9)) + // a->b
      math.log(lam * 0.5 + (1.0 - lam) * (2.0 / 9))) / 5 // b->c
    assert(scored == ((0L, 5L,
      BigDecimal(exp).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // single-token docs score as pure unigram
    val one = graft.llm.LangModel.avgNllBigram(
      Seq((1L, "a")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Long, Double)].collect().head
    assert(one == ((1L, 1L, BigDecimal(-math.log(3.0 / 9))
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("topV caps the vocabulary by (count desc, token asc)") {
    val d = Seq((0L, "b b a a c")).toDF("doc_id", "text")
    val m = graft.llm.LangModel.unigramTrain(d, "text", topV = 2)
    // ties on count break by token: a before b at count 2, c dropped
    assert(m.lp.keySet == Set("a", "b") && m.vocabSize == 2)
  }

  test("semanticDedup flags within-cluster near-dups with min-id representative") {
    val mk = (x: Double, y: Double) => Array(x, y, 0.0, 0.0)
    val emb = Seq(
      (0L, mk(1, 0)), (1L, mk(0, 1)),                  // the two centroids
      (10L, mk(0.99, 0.10)), (11L, mk(0.992, 0.105)),  // near-dups, cluster 0
      (12L, mk(0.70, 0.70)),                           // cluster boundary, alone
      (20L, mk(0.05, 0.99)), (21L, mk(0.04, 0.995))    // near-dups, cluster 1
    ).toDF("vec_id", "embedding")
    val centroids = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", centroids, 0.999)
      .as[(Long, Int, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // cluster 0: cos(0,10)=0.9949 and cos(0,11)=0.9944 stay under 0.999,
    // cos(10,11)=0.99998 -> 11 dups to 10. cluster 1: the centroid vector 1
    // is a corpus member, cos(1,21)=0.99919 >= 0.999 -> 21 dups to min id 1,
    // while cos(1,20)=0.9987 leaves 20 a keeper
    assert(!out(10L)._4 && out(11L)._4 && out(11L)._3 == 10L)
    assert(!out(20L)._4 && out(21L)._4 && out(21L)._3 == 1L)
    assert(!out(12L)._4 && out(12L)._3 == 12L)
    assert(out.size == 7)
    // scale guard: the pair comparison is an equi-join on cid, never a
    // cartesian over the corpus
    val plan = Similarity.semanticDedup(emb, "vec_id", "embedding", centroids, 0.999)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("BPE train follows the classic merge order on Sennrich's dictionary") {
    val dict = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = graft.llm.Bpe.trainFromDict(dict, numMerges = 4)
    // counts round 1: (e,s)=9 ties (s,t</w>)=9 -> pair-asc picks (e,s);
    // then (es,t</w>)=9; then (l,o)=7; then the 6-count tie (e,w)/(n,e)/
    // (w,est</w>) breaks to (e,w)
    assert(m.merges == Seq(("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w")))
  }

  test("BPE encode merges lowest-rank-first and respects the end-of-word marker") {
    val m = graft.llm.Bpe.trainFromDict(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(graft.llm.Bpe.encodeWord("lowest", m).toSeq == Seq("lo", "w", "est</w>"))
    assert(graft.llm.Bpe.encodeWord("low", m).toSeq == Seq("lo", "w</w>"))
    assert(graft.llm.Bpe.encodeWord("x", m).toSeq == Seq("x</w>"))
    val d = Seq((0L, "Low  LOWER")).toDF("doc_id", "text")
    val out = graft.llm.Bpe.encode(d, "text", m)
      .select("subwords").as[Seq[String]].head()
    assert(out == Seq("lo", "w</w>", "lo", "w", "e", "r</w>"))
  }

  test("BPE distributed encode equals driver encode across a corpus") {
    val model = graft.llm.Bpe.train(corpus, "text", numMerges = 30, maxWords = 100)
    val dist = graft.llm.Bpe.encode(corpus, "text", model)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toMap
    val local = corpus.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .flatMap(w => graft.llm.Bpe.encodeWord(w, model)).toSeq
    }.toMap
    assert(dist == local && dist.values.forall(_.nonEmpty))
    // round-trip: subwords reassemble the original tokens
    val docs0 = dist(0L).mkString("").split(java.util.regex.Pattern.quote("</w>")).toSeq
    assert(docs0 == corpus.as[(Long, String)].collect()
      .toMap.apply(0L).toLowerCase.split("\\s+").toSeq)
  }

  test("packSequences: concat-then-split per shard, documents spill across packs") {
    val d = Seq(
      (0L, "a", "t0 " * 300), (1L, "a", "t1 " * 300), (2L, "a", "t2 " * 100),
      (3L, "b", "t3 " * 10), (4L, "b", "")
    ).toDF("doc_id", "source", "text")
    val out = graft.llm.Mix.packSequences(d, "doc_id", "text", "source", 512)
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // shard a: starts 0, 300, 600 -> packs 0, 0, 1; offsets 0, 300, 88
    assert(out(0L) == (0L, "a", 300L, 0L, 0L))
    assert(out(1L) == (1L, "a", 300L, 0L, 300L))
    assert(out(2L) == (2L, "a", 100L, 1L, 88L))
    // shard b packs independently; empty docs are dropped
    assert(out(3L) == (3L, "b", 10L, 0L, 0L))
    assert(!out.contains(4L) && out.size == 4)
  }

  test("tfidfTopK ranks corpus-rare terms above universal ones") {
    val d = Seq(
      (0L, "spark spark shuffle common"),
      (1L, "duck oracle common"),
      (2L, "spark common")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopK(d, "doc_id", "text", 2)
      .as[(Long, Long, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // doc 0: "shuffle" (df=1) beats "spark" (tf=2, df=2): 1*ln(4/2)=0.693
    // vs 2*ln(4/3)=0.575; "common" (df=3) scores 1*ln(4/4)=0 everywhere
    assert(out(0L) == Seq("shuffle", "spark"))
    assert(out(1L).head == "duck" || out(1L).head == "oracle") // tie: term asc
    assert(out(1L) == Seq("duck", "oracle"))
    // df counts distinct docs, not occurrences
    val spark0 = TextOps.tfidfTopK(d, "doc_id", "text", 10)
      .filter($"term" === "spark").select("df").distinct().as[Long].collect().toSeq
    assert(spark0 == Seq(2L))
  }

  test("logistic classifier separates planted classes; distributed ≡ driver; retrain bit-stable") {
    val pos = (0 until 30).map(i => (i.toLong, s"clean fluent prose sentence number $i with clear structure", 1))
    val neg = (0 until 30).map(i => ((100 + i).toLong, s"buy cheap pills now click spam link $i offer offer", 0))
    val d = (pos ++ neg).toDF("doc_id", "text", "label")
    val m = graft.llm.Classifier.trainLogistic(d, "doc_id", "text", "label",
      dim = 512, iters = 300, lr = 1.0, maxSample = 1000)
    val scored = graft.llm.Classifier.score(d, "text", m)
      .select("doc_id", "label", "score").as[(Long, Int, Double)].collect()
    // full separation on the training classes
    assert(scored.filter(_._2 == 1).map(_._3).min >
      scored.filter(_._2 == 0).map(_._3).max)
    assert(scored.forall(r => (r._3 >= 0.5) == (r._2 == 1)))
    // distributed scoring is BIT-EQUAL to the scoreDriver mirror (both
    // fold in sorted-bucket order — no associativity slack)
    val texts = d.as[(Long, String, Int)].collect()
    texts.foreach { case (id, t, _) =>
      val exact = graft.llm.Classifier.scoreDriver(t, m)
      val dist = scored.find(_._1 == id).get._3
      assert(dist == exact, s"doc $id: distributed $dist != driver $exact")
    }
    // …and agrees with the independent featurize-based arithmetic (w·tf
    // per distinct bucket — a different but mathematically equal fold)
    // up to double associativity at the 5-decimal rounding
    texts.foreach { case (id, t, _) =>
      val fs = graft.llm.Classifier.featurize(t, m.dim)
      val z = m.bias + fs.map { case (i, v) => m.weights(i) * v }.sum
      val loc = BigDecimal(1.0 / (1.0 + math.exp(-z)))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(scored.find(_._1 == id).get._3 - loc) <= 1e-5)
    }
    // deterministic retrain
    val m2 = graft.llm.Classifier.trainLogistic(d, "doc_id", "text", "label",
      dim = 512, iters = 300, lr = 1.0, maxSample = 1000)
    assert(m2.weights == m.weights && m2.bias == m.bias)
  }

  test("Pipeline.curate span-dedup stage: the shared boilerplate is cut once, packing sees the cut counts") {
    // docs 1 and 4 share a 10-token boilerplate suffix (3 cross-doc
    // 8-grams); span dedup keeps doc 1's copy, cuts doc 4 down to its
    // 9-token body, and packing must consume the POST-CUT token counts
    // without re-tokenizing (spanNTok feeds packSequencesCounted)
    val boiler = "all rights reserved contact the site admin for license terms."
    val rows = Seq(
      (1L, "web", s"alpha body with its own words here today.\n$boiler"),
      (4L, "web", s"totally different second body text goes right here now.\n$boiler"),
      (9L, "web", "an unrelated document stands completely alone in the corpus.\nnothing shared appears between these two tidy lines."))
      .toDF("doc_id", "source", "text")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val out = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(nearDup = false, spanDedup = true, seqLen = 12),
      Some(counts))
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toMap
    assert(counts("span_dedup") == 3L) // nothing vanished, one doc shrank
    assert(out == Map(1L -> 18L, 4L -> 9L, 9L -> 17L))
    // without the stage the suffix stays, and doc 4 keeps all 19 tokens
    val off = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(nearDup = false, seqLen = 12))
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toMap
    assert(off(4L) == 19L)
  }

  test("Pipeline.curate gopher + paragraph-dedup stages compose with packing") {
    // doc 7 repeats doc 1's license line; doc 8 is a bullet wall the
    // gopher rules drop outright
    val body1 = Seq.fill(4)(
      "the quick brown fox jumps over that lazy dog with style and it keeps going today").mkString(" ")
    val body7 = Seq.fill(4)(
      "a different useful body of english prose keeps the reader moving along with every line written here").mkString(" ")
    val lic = "licensed to the public under the terms written here."
    val rows = Seq(
      (1L, "web", s"$body1\n$lic"),
      (7L, "web", s"$body7\n$lic"),
      (8L, "web", ("- item\n" * 40) + "the end with some words of that have be to."))
      .toDF("doc_id", "source", "text")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val out = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(nearDup = false, requireC4Keep = false,
        langs = Set.empty, gopherRules = true, paragraphDedup = true,
        seqLen = 64),
      Some(counts))
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toMap
    assert(counts("gopher") === 2L) // the bullet wall died on rules
    assert(counts("paragraph_dedup") === 2L)
    // doc 1 keeps body+license; doc 7 loses the shared license line
    val b1 = body1.split("\\s+").length + lic.split("\\s+").length
    val b7 = body7.split("\\s+").length
    assert(out === Map(1L -> b1.toLong, 7L -> b7.toLong))
  }

  test("Pipeline.curate runs the full C4/CCNet recipe with per-stage audit counts") {
    val en1 = "the quick brown fox jumps over the lazy dog.\nit runs to the river for a drink."
    val en2 = "a solid paragraph of useful english text is here.\nit is written for the reader in full sentences."
    val rows = Seq(
      (1L, "web", en1),
      (2L, "web", en1),                                              // exact dup of 1
      (3L, "web", en1.replace("drink", "swim")),                     // near-dup of 1
      (4L, "web", en2),
      (5L, "web", "der hund und die katze ist nicht auf dem tisch.\nund das ist ein ganzer satz mit worten zu lesen."), // German
      (6L, "web", "lorem ipsum dolor sit amet.\nthe rest of it is a template for the page."), // boilerplate
      (7L, "books", "the held out benchmark sentence lives here verbatim.\nit is used to test the model for leakage."),
      (8L, "books", en2.replace("reader", "listener"))               // near-dup of 4? different source, still near-dup
    ).toDF("doc_id", "source", "text")
    val bench = Seq((100L, "the held out benchmark sentence lives here verbatim"))
      .toDF("doc_id", "text")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val out = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(
        benchmark = Some(bench), minOverlap = 3L, seqLen = 16),
      Some(counts))
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // stage audit: 5 drops de, 6 drops lorem; 2 exact-dups away; 3 (and
    // possibly 8) near-dup away keeping the longer member; 7 contaminated
    assert(counts("heuristics") == 6L) // 5 and 6 gone
    assert(counts("exact_dedup") == counts("perplexity") - 1) // doc 2
    assert(counts("decontaminated") == counts("near_dedup") - 1) // doc 7
    assert(counts("packed") == counts("mixed"))
    val survivors = out.keySet
    assert(!survivors.contains(2L) && !survivors.contains(5L)
      && !survivors.contains(6L) && !survivors.contains(7L))
    assert(survivors.contains(1L) || survivors.contains(3L)) // one of the near-dups
    // packing restarts per shard: every shard has a pack 0 at offset 0
    val shards = out.values.groupBy(_._2)
    shards.values.foreach(g => assert(g.exists(r => r._4 == 0L && r._5 == 0L)))
    // determinism end-to-end
    val again = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(
        benchmark = Some(bench), minOverlap = 3L, seqLen = 16))
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("Pipeline.curate token-budget mixing: stage 7 fills budgets, counts feed packing") {
    // unique texts so dedup/decon pass everything through — the budget
    // stage's effect is isolated
    val rows = (1L to 12L).map(i => (i,
      if (i <= 8) "web" else "books",
      s"document number $i with some distinct words w$i x$i y$i z$i here")).toSeq
      .toDF("doc_id", "source", "text")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val out = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
      graft.llm.Pipeline.CurationConfig(
        langs = Set.empty, requireC4Keep = false, nearDup = false,
        mixTokenBudgets = Map("web" -> 30L, "books" -> 15L), seqLen = 16),
      Some(counts))
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // survivors = exactly tokenBudgetSample over the same frame
    val direct = graft.llm.Mix.tokenBudgetSample(rows, "doc_id", "text", "source",
      Map("web" -> 30L, "books" -> 15L), -1L)
      .select("doc_id").as[Long].collect().toSet
    assert(out.keySet === direct)
    assert(counts("mixed") === direct.size.toLong)
    assert(counts("packed") === counts("mixed"))
    // packing used the budget stage's exact token counts: every doc is 12
    // tokens ("document number N with some distinct words wN xN yN zN
    // here"), so pack offsets advance by 12 within each shard
    val web = out.values.filter(_._2 == "web").toSeq.sortBy(_._1)
    assert(web.forall(_._3 === 12L))
    assert(web.map(r => r._4 * 16 + r._5) === web.indices.map(_ * 12L))
  }

  test("tokenBudgetSample fills each domain's budget in md5 order; boundary doc kept") {
    val d = (1L to 20L).map(i => (i, if (i <= 10) "a" else "b",
      Seq.fill(10)(s"w$i").mkString(" "))) // every doc exactly 10 tokens
      .toDF("doc_id", "source", "text")
    val out = graft.llm.Mix.tokenBudgetSample(d, "doc_id", "text", "source",
      budgets = Map("a" -> 25L), defaultBudget = -1L)
      .as[(Long, String, String, Long, Long)].collect()
    val a = out.filter(_._2 == "a")
    val b = out.filter(_._2 == "b")
    // budget 25 over 10-token docs: docs starting at 0, 10, 20 are kept
    // (the third STARTS inside the budget), the fourth starts at 30 — cut
    assert(a.length === 3)
    assert(a.map(_._5).sorted.toSeq === Seq(0L, 10L, 20L))
    // unlimited domain keeps everything
    assert(b.length === 10)
    // the kept set is the md5-order prefix: recompute it independently
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectA = (1L to 10L).sortBy(i => (md5hex(i.toString), i)).take(3).toSet
    assert(a.map(_._1).toSet === expectA)
    // deterministic on rerun
    val again = graft.llm.Mix.tokenBudgetSample(d, "doc_id", "text", "source",
      budgets = Map("a" -> 25L), defaultBudget = -1L)
      .as[(Long, String, String, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    // a zero budget keeps nothing (no doc STARTS inside it)
    assert(graft.llm.Mix.tokenBudgetSample(d, "doc_id", "text", "source",
      budgets = Map.empty, defaultBudget = 0L).count() === 0)
    // review finding: a NULL id hashes to a null bucket — the offsets
    // join must be null-safe on the bucket too, or the row silently
    // vanishes under a finite budget
    val withNull = d.unionByName(
      Seq((Option.empty[Long], "a", "nul doc here")).toDF("doc_id", "source", "text"))
    val nsOut = graft.llm.Mix.tokenBudgetSample(withNull, "doc_id", "text", "source",
      budgets = Map("a" -> 1000L), defaultBudget = -1L)
      .as[(Option[Long], String, String, Long, Long)].collect()
    assert(nsOut.count(_._1.isEmpty) === 1) // the null-id row survives
    assert(nsOut.filter(_._1.isEmpty).forall(_._5 >= 0L)) // with a real tok_start
  }

  test("PROPERTY: dedupSpans matches a brute-force span cut on random corpora") {
    // independent reference implementation: per-doc n-grams, a gram is
    // dup iff it occurs in >1 distinct doc, keep = min doc; covered
    // positions cut; maximal clean runs >= minKeep survive in order
    def brute(docs: Seq[(Long, String)], n: Int, minKeep: Int): Set[(Long, Long, String, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val occ = toks.toSeq.flatMap { case (id, ts) =>
        ts.sliding(n).filter(_.length == n).zipWithIndex
          .map { case (g, i) => (g.mkString(" "), id, i + 1) } }
      val keepOf = occ.groupBy(_._1).filter(_._2.map(_._2).distinct.length > 1)
        .map { case (g, os) => g -> os.map(_._2).min }
      val badByDoc = occ.filter { case (g, id, _) =>
        keepOf.get(g).exists(_ != id) }.groupBy(_._2)
      toks.flatMap { case (id, ts) =>
        val bad = badByDoc.getOrElse(id, Nil).map(_._3).toSet
        val clean = (1 to ts.length).filterNot(t =>
          bad.exists(p => t >= p && t <= p + n - 1))
        val runs = clean.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: rest), t) if h.head + 1 == t => (t :: h) :: rest
          case (acc, t) => List(t) :: acc
        }.map(_.reverse).reverse.filter(_.length >= minKeep)
        runs.zipWithIndex.map { case (r, i) =>
          (id, i.toLong, r.map(p => ts(p - 1)).mkString(" "), r.length.toLong) }
      }.toSet
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    (1 to 5).foreach { trial =>
      val docs = (1L to 12L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val n = 2 + rnd.nextInt(3) // 2..4: tiny vocab makes dup grams plentiful
      val minKeep = 1 + rnd.nextInt(2)
      val got = graft.llm.Dedup
        .dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n = n,
          minKeepTokens = minKeep)
        .as[(Long, Long, String, Long)].collect().toSet
      val want = brute(docs, n, minKeep)
      assert(got == want, s"trial $trial (n=$n, minKeep=$minKeep): " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("PROPERTY: decontaminateSpans is consistent with contamination on the corpus") {
    // on the real documents table: every doc flagged by contamination is
    // either fragmented (frag count >= 1 with LESS than its token count
    // surviving) or gone; every unflagged doc appears exactly once,
    // whole; no fragment text contains a benchmark n-gram
    val d = graft.Graft.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = d.filter($"doc_id" % 97 =!= 0)
    val bench = d.filter($"doc_id" % 97 === 0)
    val flagged = graft.llm.Decontaminate
      .contamination(corpus, bench, "doc_id", "text", n = 3, minOverlap = 3L)
      .select("doc_id").distinct().as[Long].collect().toSet
    val frags = graft.llm.Decontaminate
      .decontaminateSpans(corpus, bench, "doc_id", "text",
        n = 3, margin = 0, minKeepTokens = 1, minOverlap = 3L)
      .as[(Long, Long, String, Long)].collect()
    val nTok = corpus.select($"doc_id",
        size(graft.llm.TextOps.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(flagged.nonEmpty, "weak fixture: nothing contaminated at sf0.001")
    val byDoc = frags.groupBy(_._1)
    flagged.foreach { id =>
      byDoc.get(id).foreach { fs =>
        assert(fs.map(_._4).sum < nTok(id), s"doc $id lost no tokens")
      }
    }
    nTok.keySet.diff(flagged).foreach { id =>
      val fs = byDoc.getOrElse(id, Array.empty)
      assert(fs.length == 1 && fs.head._2 == 0L && fs.head._4 == nTok(id),
        s"clean doc $id not whole")
    }
    // no surviving fragment still contains a benchmark 3-gram
    val benchGrams = bench.select(
        explode(graft.llm.TextOps.shingles(graft.llm.TextOps.tokens($"text"), 3)))
      .distinct().as[String].collect().toSet
    frags.filter(f => flagged(f._1)).foreach { f =>
      val toks = f._3.split(" ")
      (0 to toks.length - 3).foreach { i =>
        val g = toks.slice(i, i + 3).mkString(" ")
        assert(!benchGrams(g), s"doc ${f._1} frag ${f._2} still contains '$g'")
      }
    }
  }

  test("decontaminateSpans under foreachBatch micro-batches ≡ batch (doc-local surgery)") {
    // the surgery is per-document against a STATIC benchmark — no
    // cross-document state — so the streaming pattern is foreachBatch
    // and the output must be invariant to where batch boundaries fall
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val d = graft.Graft.table(spark, "/root/testdata/sf0.001", "documents")
    val bench = d.filter($"doc_id" % 97 === 0).select("doc_id", "text").cache()
    val corpus = d.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= graft.llm.Decontaminate
            .decontaminateSpans(batch, bench, "doc_id", "text",
              n = 3, margin = 0, minKeepTokens = 2, minOverlap = 3L)
            .as[(Long, Long, String, Long)].collect()
        }
        ()
      }
      .outputMode("update").start()
    try {
      corpus.grouped(150).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val batchOut = graft.llm.Decontaminate
      .decontaminateSpans(d.filter($"doc_id" % 97 =!= 0), bench, "doc_id", "text",
        n = 3, margin = 0, minKeepTokens = 2, minOverlap = 3L)
      .as[(Long, Long, String, Long)].collect()
    assert(got.sortBy(r => (r._1, r._2)).toSeq === batchOut.sortBy(r => (r._1, r._2)).toSeq)
    assert(batchOut.nonEmpty)
  }

  test("Pipeline.curate scrub mode keeps a contaminated doc minus its benchmark span") {
    // doc 7 embeds the benchmark passage between clean halves; drop mode
    // loses all of doc 7, scrub mode keeps both halves and packs with
    // the REDUCED token count
    val cleanA = "aa bb cc dd ee ff gg hh"
    val cleanB = "pp qq rr ss tt uu vv ww"
    val benchSpan = "the held out benchmark sentence lives here verbatim"
    val rows = Seq(
      (4L, "web", "a solid paragraph of useful english text is here written in full sentences for the reader."),
      (7L, "books", s"$cleanA $benchSpan $cleanB"))
      .toDF("doc_id", "source", "text")
    val bench = Seq((100L, benchSpan)).toDF("doc_id", "text")
    def run(scrub: Boolean) = {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      val out = graft.llm.Pipeline.curate(rows, "doc_id", "text", "source",
        graft.llm.Pipeline.CurationConfig(
          langs = Set.empty, requireC4Keep = false, nearDup = false,
          benchmark = Some(bench), contaminationN = 3, minOverlap = 3L,
          scrubSpans = scrub, minFragTokens = 2, seqLen = 8),
        Some(counts))
        .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      (out, counts)
    }
    val (dropped, dropCounts) = run(scrub = false)
    assert(!dropped.contains(7L) && dropped.contains(4L))
    assert(dropCounts("decontaminated") == 1L)
    val (scrubbed, scrubCounts) = run(scrub = true)
    assert(scrubCounts("decontaminated") == 2L) // doc 7 SURVIVES scrubbed
    // 8 + 8 clean tokens remain of doc 7's 8 + 8 + 8: the packed n_tok
    // must reflect the scrub, not the original text
    assert(scrubbed(7L)._3 === 16L)
    assert(dropped(4L)._3 === scrubbed(4L)._3) // clean doc untouched
    // determinism of the scrub path
    assert(run(scrub = true)._1 === scrubbed)
  }

  test("q_text_classify distills the perplexity teacher with >=85% agreement; labels stable") {
    val out = graft.queries.LlmQueries.textClassifyQ(spark, "/root/testdata/sf0.001")
    val acc = out.select(
      avg(($"pred" === ($"label" === 1)).cast("double"))).head.getDouble(0)
    assert(acc >= 0.85, f"teacher agreement $acc%.3f below 0.85")
    // the histogram-walk teacher median is deterministic → the distilled
    // labels (and scores) are identical on a rerun
    val rows = out.as[(Long, Long, Double, Boolean)].collect().toSeq
    val again = graft.queries.LlmQueries.textClassifyQ(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(rows == again)
  }

  test("sourceOverlap counts cross-source exact duplicates pairwise") {
    val d = Seq(
      (1L, "common page", "a"), (2L, "unique a", "a"),
      (3L, "common page", "b"), (4L, "also shared", "b"),
      (5L, "also shared", "c"), (6L, "common page", "c"),
      (7L, "unique c", "c"))
      .toDF("doc_id", "text", "source")
    val out = graft.llm.Report.sourceOverlap(d, "text", "source")
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // a: {common, unique a}; b: {common, shared}; c: {shared, common, unique c}
    assert(out === Seq(
      ("a", "b", 1L, 2L, 2L, 1.0 / 3),
      ("a", "c", 1L, 2L, 3L, 0.25),
      ("b", "c", 2L, 2L, 3L, 2.0 / 3)).map(t =>
      t.copy(_6 = math.round(t._6 * 1e6) / 1e6)))
  }

  test("embedOutliers flags the planted far vector, not the tight cluster") {
    // one tight cluster near e1 plus one vector pointing away
    def v(x: Double, y: Double) = Array(x, y) ++ Array.fill(62)(0.0)
    val rows = (0 until 20).map(i => (i.toLong, v(1.0, 0.001 * i))) :+
      (99L, v(0.2, 0.98))
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Seq((0, v(1.0, 0.0))).toDF("cid", "cvec")
    val out = graft.llm.Similarity.embedOutliers(emb, "vec_id", "embedding",
        cents, zThreshold = 2.0)
      .as[(Long, Int, Double, Double, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 21)
    assert(byId(99L)._5, s"planted outlier not flagged: ${byId(99L)}")
    assert((0 until 20).forall(i => !byId(i.toLong)._5))
    // deterministic on rerun
    val again = graft.llm.Similarity.embedOutliers(emb, "vec_id", "embedding",
      cents).as[(Long, Int, Double, Double, Boolean)].collect()
    assert(out.toSeq === again.toSeq)
  }

  test("dedupParagraphs cuts cross-doc repeated blocks, keeps the smallest doc's copy") {
    val d = Seq(
      (1L, "alpha one\nSHARED BLOCK\nalpha two"),
      (2L, "beta one\nSHARED BLOCK\nbeta two\nSHARED BLOCK"),
      (3L, "gamma\n\nother"), // blank block: structure, kept
      (4L, "delta\nrepeat me\nrepeat me")) // intra-doc only: kept
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.dedupParagraphs(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "alpha one\nSHARED BLOCK\nalpha two", 3L, 0L), // keeper: untouched
      (2L, "beta one\nbeta two", 4L, 2L), // BOTH copies cut in the later doc
      (3L, "gamma\n\nother", 3L, 0L),
      (4L, "delta\nrepeat me\nrepeat me", 3L, 0L)))
  }

  test("spanDupRatio: a quoting doc scores near 1, originals score its grams too") {
    val body = (1 to 20).map(i => s"w$i").mkString(" ") // 20 unique tokens
    val d = Seq(
      (1L, body), // 13 8-grams, all shared with doc 2's prefix
      (2L, body + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8"),
      (3L, "a b c d e f g h i j k l m")) // alone: ratio 0
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.spanDupRatio(d, "doc_id", "text", n = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    // doc1: 13 grams, every one also in doc2 → ratio 1
    assert(out.head === ((1L, 13L, 13L, 1.0)))
    // doc2: 21 grams, the 13 body grams duplicated, the 8 tail-crossing
    // ones unique
    assert(out(1)._2 === 21L && out(1)._3 === 13L)
    assert(out(2) === ((3L, 6L, 0L, 0.0)))
    // a doc shorter than n contributes nothing
    assert(graft.llm.Dedup.spanDupRatio(
      Seq((9L, "too short")).toDF("doc_id", "text"), "doc_id", "text", 8)
      .count() === 0)
  }

  test("dedupParagraphs is idempotent and identity on dup-free corpora") {
    // pseudo-random multi-paragraph docs off a fixed seed
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def para() = Seq.fill(3 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
    val docs = (0L until 30L).map { i =>
      val own = Seq.fill(2 + rnd.nextInt(2))(s"doc $i ${para()}")
      val shared = if (i % 4 == 0) Seq(s"shared ${i % 3} ${"x " * 3}".trim) else Nil
      (i, (own ++ shared).mkString("\n"))
    }.toDF("doc_id", "text")
    val once = graft.llm.Dedup.dedupParagraphs(docs, "doc_id", "text")
      .select("doc_id", "text")
    val twice = graft.llm.Dedup.dedupParagraphs(once, "doc_id", "text")
      .select("doc_id", "text")
    assert(twice.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      once.as[(Long, String)].collect().sortBy(_._1).toSeq)
    // a corpus with no cross-doc blocks passes through untouched
    val unique = (0L until 10L).map(i => (i, s"only doc $i\nsecond line $i"))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.dedupParagraphs(unique, "doc_id", "text")
      .filter(col("n_removed") > 0).count() === 0)
  }

  test("gopher rules: each threshold trips on its planted shape") {
    val longGood = ("the data and that point have to move with the rest " * 10).trim
    val d = Seq(
      (1L, longGood), // passes every rule
      (2L, "short text"), // n_words < 50
      (3L, longGood + "\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k\n- l"), // bullets > 0.9? 12/13 lines
      (4L, longGood + " " + ("#### " * 30).trim), // symbol ratio > 0.1
      (5L, ("zq wx vv kj pp mm nn oo " * 16).trim)) // no stopwords, no alpha issue
      .toDF("doc_id", "text")
    val feats = TextOps.gopherRules(col("text"))
    val out = d.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("keep"))
    assert(!out(1).getAs[Boolean]("keep") && out(1).getAs[Long]("n_words") === 2L)
    assert(out(2).getAs[Double]("bullet_frac") > 0.9 && !out(2).getAs[Boolean]("keep"))
    assert(out(3).getAs[Double]("symbol_ratio") > 0.1 && !out(3).getAs[Boolean]("keep"))
    assert(out(4).getAs[Long]("stop_hits") === 0L && !out(4).getAs[Boolean]("keep"))
    // ellipsis lines + the '...' symbol count share the marker
    val e = Seq((9L, longGood + "\nwait...\nmore...\nhm...")).toDF("doc_id", "text")
    val r = e.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*).head
    assert(r.getAs[Double]("ellipsis_frac") === 0.75)
  }

  test("assignSplit: deterministic, joinable, proportions near fractions") {
    val d = spark.range(0, 2000).toDF("doc_id")
    val out = graft.llm.Mix.assignSplit(d, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(out.keySet === Set("train", "val", "test"))
    assert(out("train") > 1700 && out("train") < 1900)
    assert(out("val") > 50 && out("val") < 150)
    // repartitioning does not move a row's split (joinable)
    val a = graft.llm.Mix.assignSplit(d, "doc_id", Seq("x" -> 0.5, "y" -> 0.5))
      .as[(Long, String)].collect().toMap
    val b = graft.llm.Mix.assignSplit(d.repartition(17), "doc_id",
      Seq("x" -> 0.5, "y" -> 0.5)).as[(Long, String)].collect().toMap
    assert(a === b)
    // fractions summing under 1: the remainder lands in the LAST split
    val c = graft.llm.Mix.assignSplit(d, "doc_id", Seq("a" -> 0.1, "b" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(c("b") > c("a") * 5)
    intercept[IllegalArgumentException](
      graft.llm.Mix.assignSplit(d, "doc_id", Seq("a" -> 0.9, "b" -> 0.2)))
  }

  test("shuffleShards: deterministic, uniform-ish, dense within-shard positions") {
    val d = spark.range(0, 1000).toDF("doc_id")
    val out = graft.llm.Mix.shuffleShards(d, "doc_id", numShards = 8)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val again = graft.llm.Mix.shuffleShards(d.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(out === again) // partitioning-independent
    val byShard = out.groupBy(_._2)
    assert(byShard.size === 8)
    byShard.foreach { case (_, rows) =>
      // positions are exactly 0..n-1 within each shard
      assert(rows.map(_._3).sorted === (0L until rows.size).toSeq)
      assert(rows.size > 60 && rows.size < 190) // uniform-ish for n=1000
    }
    // a different seed reshuffles
    val re = graft.llm.Mix.shuffleShards(d, "doc_id", 8, seed = "7")
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(re !== out)
  }

  test("chunkDocs tiles tokens with overlap and hashes each window") {
    val d = Seq((7L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(d, "doc_id", "text", chunkLen = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2)
    assert(out.map(c => (c._2, c._3)).toSeq ==
      Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 1L)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0)._4 == md5hex("t0 t1 t2 t3"))
    assert(out(3)._4 == md5hex("t9"))
    // empty docs contribute nothing
    assert(TextOps.chunkDocs(Seq((1L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 3).count() == 0)
  }
}
