package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, deterministic hashing, language ID, quality
  * scoring, token counting and document fingerprinting.
  *
  * Everything here is a pure Catalyst expression tree (higher-order array
  * functions + builtin scalars, no UDFs), so the whole pipeline stays inside
  * whole-stage codegen and distributes embarrassingly: per-document work
  * only, no shuffle until an operator groups or joins.
  *
  * Determinism contract: [[h60]] is a 60-bit integer derived from md5, which
  * any engine can reproduce (`('0x' || substr(md5(s),1,15))::BIGINT` in
  * DuckDB) — the verification oracle computes the *identical* signatures.
  */
object TextOps {

  /** 60-bit deterministic hash of a string: the first 15 hex chars of its
    * md5, as a non-negative Long. 60 bits keeps all downstream arithmetic
    * (shifts, mods, mins) inside BIGINT range on every engine. */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Whitespace tokens of the lowercased, trimmed text; empty tokens
    * filtered so leading/trailing/multiple whitespace is harmless.
    * One native expression (r22): the staged
    * `filter(split(lower(trim(text)), "\\s+"), t -> t <> "")` kept its
    * ArrayFilter HOF — CodegenFallback — so every tokenizing Project fell
    * out of WholeStageCodegen; [[graft.expressions.Tokens]] calls the
    * same UTF8String methods those builtins evaluate (bit-parity by
    * construction, pinned in NativeExprParitySpec against the staged
    * chain kept below). */
  def tokens(text: Column): Column =
    ColumnBridge.column(graft.expressions.Tokens(ColumnBridge.expression(text)))

  /** The staged builtin composition of [[tokens]] — kept as the semantic
    * reference the native expression is pinned against. */
  private[graft] def tokensStaged(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Word n-shingles joined by a single space; a document shorter than n
    * tokens contributes its whole token string as one shingle. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** Distinct word n-shingles (the set used for Jaccard similarity). */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(tokens(text), n))

  // ------------------------------------------------------------- MinHash

  /** JVM-side h60 (identical to the Column version) for deriving constants
    * embedded in both the Spark plan and the oracle SQL, and for hot
    * driver-side loops (Classifier.featurize hashes every token of the
    * training sample): thread-local digest, value from the first 8 raw
    * bytes — the first 15 hex chars are exactly the high 60 bits. */
  @transient private lazy val md5Digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue() = java.security.MessageDigest.getInstance("MD5")
    }
  private[graft] def jvmH60(s: String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Per-family multipliers for the MinHash mixing hash: 30-bit odd
    * constants derived from md5, so each family is
    * `xor(hi(h)*a_i, lo(h)*b_i)` with every product < 2^60 — overflow-safe
    * BIGINT arithmetic on any engine. */
  private[graft] def minhashConsts(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i =>
      ((jvmH60(s"mh:a:$i") % (1L << 30)) | 1L, (jvmH60(s"mh:b:$i") % (1L << 30)) | 1L))

  private val mask30 = (1L << 30) - 1
  private[graft] val mixPrime = 2147483647L // 2^31 - 1

  /** Family-i mix of a 60-bit hash: universal-style
    * `(hi*a_i + lo*b_i) mod (2^31-1)`. The modular wrap is essential — it
    * destroys the cross-family ordering correlation a plain product would
    * keep (all families would elect the same argmin). Every intermediate
    * stays below 2^61: exact on any engine's BIGINT. */
  private[graft] def mixHash(h: Column, consts: (Long, Long)): Column =
    (shiftright(h, 30) * lit(consts._1) + h.bitwiseAND(lit(mask30)) * lit(consts._2)) % lit(mixPrime)

  /** k-element MinHash signature over a *hash* array (one h60 per shingle,
    * computed once upstream in its own projection). Fused native expression
    * (graft.expressions.MinHashSig): one codegen'd pass computes all k
    * mins, versus k interpreted `array_min(transform(...))` trees. */
  def minhashSigFromHashes(hashArr: Column, k: Int): Column =
    ColumnBridge.column(graft.expressions.MinHashSig(
      ColumnBridge.expression(hashArr), minhashConsts(k)))

  /** Reference composition of the same signature from builtins (used by
    * tests to pin the native expression's semantics). */
  private[graft] def minhashSigFromHashesHof(hashArr: Column, k: Int): Column = {
    val consts = minhashConsts(k)
    array((0 until k).map(i => array_min(transform(hashArr, h => mixHash(h, consts(i))))): _*)
  }

  /** LSH band keys for a MinHash signature: `bands` bands of `rows` rows,
    * each hashed to a compact string key. Two documents are candidate
    * duplicates iff they collide on at least one band. */
  def minhashBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat(b.cast("string"), lit("|"),
        array_join(slice(sig, b * rows + 1, lit(rows)), ","))))

  /** Estimated Jaccard similarity from two equal-length MinHash signatures:
    * fraction of agreeing components. Integer-derived, so engines agree
    * exactly. */
  def minhashEstimate(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast("double") / k

  // ------------------------------------------------------------- SimHash

  /** 32-bit SimHash over a precomputed token-hash array: bit b of the
    * result is set when the sum over tokens of (2*bit_b(hash) - 1) is
    * positive, so each occurrence votes and near-duplicates land within a
    * small Hamming distance. 32 bits keeps every intermediate in Long
    * range. The hash array must be materialized in its own projection
    * upstream, because each of the 32 bit-vote aggregates references it
    * (re-inlining would recompute the md5s 32×). */
  def simhash32FromHashes(ths: Column): Column = {
    val bits = (0 until 32).map { b =>
      val vote = aggregate(ths, lit(0L), (acc, h) => acc + (shiftright(h, b) % 2) * 2 - 1)
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The `chunks`-way byte-split of a SimHash used for candidate blocking:
    * two 32-bit hashes within Hamming distance (chunks-1) MUST share at
    * least one chunk (pigeonhole), so blocking on chunks is lossless for
    * a ≤ chunks-1 distance threshold. */
  def simhashChunk(sh: Column, chunkIdx: Int, chunkBits: Int): Column =
    shiftright(sh, chunkIdx * chunkBits) % (1L << chunkBits)

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------- language ID

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small and embedded so the oracle can restate
    * them as literals. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "por", "que", "para"),
    "fr" -> Seq("le", "la", "les", "est", "un", "une", "et", "dans", "pour", "que"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni", "ta", "men", "zai", "you", "he"))

  /** Number of tokens that appear in the given stopword list. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Predicted language: the stopword list with the most hits; ties break
    * by declaration order (strictly-greater fold); zero hits everywhere →
    * "und" (undetermined). One fused native pass
    * ([[graft.expressions.LangIdFeature]]) instead of 5 interpreted
    * stopword-filter folds; NativeExprParitySpec pins native ≡ staged. */
  def langId(toks: Column): (Column, Column) = {
    val f = ColumnBridge.column(graft.expressions.LangIdFeature(
      ColumnBridge.expression(toks), stopwords))
    (f.getField("lang"), f.getField("score"))
  }

  /** The staged builtin composition of [[langId]] — the parity reference. */
  private[graft] def langIdStaged(toks: Column): (Column, Column) = {
    val scores = stopwords.map { case (lang, words) => lang -> stopwordHits(toks, words) }
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    val pred = when(best.getField("s") === 0, lit("und")).otherwise(best.getField("l"))
    (pred, best.getField("s").cast("long"))
  }

  // ----------------------------------------------------- quality scoring

  /** Length / stopword / alphabetic-ratio quality features and a composite
    * score in [0,1]. Linear combination only (no transcendentals) so every
    * engine computes bit-identical doubles. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val f = ColumnBridge.column(graft.expressions.QualityFeatures(
      ColumnBridge.expression(text), stopwords.head._2))
    Seq(
      "n_chars" -> f.getField("n_chars"),
      "n_tokens" -> f.getField("n_tokens"),
      "mean_tok_len" -> round(f.getField("mean_tok_len"), 6),
      "stop_ratio" -> round(f.getField("stop_ratio"), 6),
      "alpha_ratio" -> round(f.getField("alpha_ratio"), 6),
      "quality" -> round(f.getField("quality"), 6))
  }

  /** The staged builtin composition of [[qualityFeatures]] — parity ref. */
  private[graft] def qualityFeaturesStaged(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text).cast("long")
    val nToks = size(toks).cast("long")
    val meanTokLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(nToks, lit(1L))
    val stopHits = stopwordHits(toks, stopwords.head._2) // en list
    val stopRatio = stopHits.cast("double") / greatest(nToks, lit(1L))
    val alphaRatio = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(nChars, lit(1L))
    val score = least(nToks, lit(200L)).cast("double") / 200 * 0.3 +
      stopRatio * 0.4 + alphaRatio * 0.3
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "mean_tok_len" -> round(meanTokLen, 6),
      "stop_ratio" -> round(stopRatio, 6),
      "alpha_ratio" -> round(alphaRatio, 6),
      "quality" -> round(score, 6))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    * duplicate-n-gram family RefinedWeb/Dolma reuse): high values mark
    * boilerplate/spam documents a quality filter drops before training.
    *  - dup_word_ratio: 1 − |distinct tokens| / |tokens|
    *  - dup_2gram_ratio: 1 − |distinct 2-grams| / |2-grams| (0 when < 2 toks)
    *  - top_tok_ratio: occurrences of the most frequent token / |tokens|
    * Pure array-column expressions (no UDF, no shuffle): per-document cost
    * is bounded by the tokenizer output, and the top-token fold is
    * O(|distinct|·|toks|) on documents, not corpus pairs. Ratios are
    * count-derived, so every engine rounds identically. */
  def repetitionFeatures(text: Column): Seq[(String, Column)] = {
    val f = ColumnBridge.column(graft.expressions.RepetitionFeatures(
      ColumnBridge.expression(text)))
    Seq(
      "dup_word_ratio" -> round(f.getField("dup_word_ratio"), 6),
      "dup_2gram_ratio" -> round(f.getField("dup_2gram_ratio"), 6),
      "top_tok_ratio" -> round(f.getField("top_tok_ratio"), 6))
  }

  /** The staged builtin composition of [[repetitionFeatures]] — parity
    * ref (the staged top-token fold is O(|distinct|·|toks|); the native
    * hash-count pass is O(|toks|) with the identical max multiplicity). */
  private[graft] def repetitionFeaturesStaged(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nToks = size(toks).cast("long")
    val dupWord = lit(1.0) - size(array_distinct(toks)).cast("double") /
      greatest(nToks, lit(1L))
    // sequence(1, 0) would generate DESCENDING [1,0] — guard short docs
    val grams2 = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val n2 = size(grams2).cast("long")
    val dup2 = when(n2 === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams2)).cast("double") / n2)
    val topCnt = array_max(transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))).cast("double")
    val topRatio = topCnt / greatest(nToks, lit(1L))
    Seq(
      "dup_word_ratio" -> round(dupWord, 6),
      "dup_2gram_ratio" -> round(dup2, 6),
      "top_tok_ratio" -> round(topRatio, 6))
  }

  // ------------------------------------------------------ token counting

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token count: alphabetic runs, digit runs, and isolated
    * non-space symbols each count as one token (a portable approximation
    * of byte-pair tokenizer behavior). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** The classic chars/4 LLM token estimate. */
  def approxTokenCount(text: Column): Column = ceil(length(text).cast("double") / 4).cast("long")

  // -------------------------------------------------------- fingerprints

  /** Document fingerprint: the `k` smallest distinct word-3-shingle hashes
    * (a winnowing-style sketch). Stable under small edits anywhere else in
    * the document; compact enough to index at 100 TB scale. */
  def fingerprint(text: Column, k: Int): Column = {
    val hashes = array_distinct(transform(shingleSet(text, 3), s => h60(s)))
    slice(array_sort(hashes), 1, k)
  }

  // --------------------------------------------------- C4-style filters

  /** C4-style document-quality heuristics (Raffel et al. 2020 §2.2, the
    * line-level rule family RefinedWeb/Dolma inherit): per document,
    *  - n_lines / n_kept_lines: lines whose trimmed text ends in terminal
    *    punctuation (. ! ? or a closing quote) survive;
    *  - n_sentences: terminal-punctuation marks in the whole text;
    *  - has_lorem / has_brace: the "lorem ipsum" and `{` boilerplate/code
    *    markers C4 drops outright;
    *  - keep: ≥ minKeptLines surviving lines and neither marker.
    * Pure line-array expressions — per-document cost, no shuffle, no UDF;
    * the keep decision compares integer counts only. */
  def c4Features(text: Column, minKeptLines: Int = 2): Seq[(String, Column)] = {
    val f = ColumnBridge.column(graft.expressions.C4Features(
      ColumnBridge.expression(text), minKeptLines))
    Seq(
      "n_lines" -> f.getField("n_lines"),
      "n_kept_lines" -> f.getField("n_kept_lines"),
      "n_sentences" -> f.getField("n_sentences"),
      "has_lorem" -> f.getField("has_lorem"),
      "has_brace" -> f.getField("has_brace"),
      "keep" -> f.getField("keep"))
  }

  /** The staged builtin composition of [[c4Features]] — parity ref. */
  private[graft] def c4FeaturesStaged(text: Column, minKeptLines: Int = 2): Seq[(String, Column)] = {
    val lines = split(text, "\n")
    val kept = filter(lines, l => trim(l).rlike("[.!?\"']$"))
    val nKept = size(kept).cast("long")
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept_lines" -> nKept,
      "n_sentences" -> size(regexp_extract_all(text, lit("[.!?]"), lit(0))).cast("long"),
      "has_lorem" -> hasLorem,
      "has_brace" -> hasBrace,
      "keep" -> (nKept >= minKeptLines && !hasLorem && !hasBrace))
  }

  // --------------------------------------------------- Gopher rule set

  /** The eight Gopher-stopword types whose presence (≥ 2 distinct) gates a
    * document (Rae et al. 2021 Table A1 last row). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-level quality RULES (Rae et al. 2021 Table A1 — the
    * threshold family MassiveText/RefinedWeb/Dolma apply before training;
    * complements [[repetitionFeatures]], which is the same paper's
    * duplicate-n-gram family):
    *  - n_words in [50, 100000];
    *  - mean word length in [3, 10];
    *  - symbol-to-word ratio (`#` chars + `...` occurrences per word)
    *    ≤ 0.1;
    *  - ≤ 90% of lines start with a bullet (`-`, `*`, `•`);
    *  - ≤ 30% of lines end with an ellipsis;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 distinct [[gopherStopwords]] present.
    * `keep` ANDs the unrounded rule values. Per-document cost, no shuffle,
    * no UDF; every ratio is integer-count-derived, so external engines
    * compute bit-identical doubles.
    *
    * Evaluation is ONE fused native pass per document
    * ([[graft.expressions.GopherFeatures]]) — the staged builtin tree
    * (kept below as [[gopherRulesStaged]], the parity reference LlmSpec
    * pins) is ~10 interpreted HOF folds plus four regex passes over
    * re-derived token/line arrays, the most expensive per-row expression
    * in the curate recipe; the native struct carries the UNROUNDED values
    * and the display rounding stays here. */
  def gopherRules(text: Column): Seq[(String, Column)] = {
    val f = ColumnBridge.column(graft.expressions.GopherFeatures(
      ColumnBridge.expression(text)))
    Seq(
      "n_words" -> f.getField("n_words"),
      "mean_word_len" -> round(f.getField("mean_word_len"), 6),
      "symbol_ratio" -> round(f.getField("symbol_ratio"), 6),
      "bullet_frac" -> round(f.getField("bullet_frac"), 6),
      "ellipsis_frac" -> round(f.getField("ellipsis_frac"), 6),
      "alpha_word_frac" -> round(f.getField("alpha_word_frac"), 6),
      "stop_hits" -> f.getField("stop_hits"),
      "keep" -> f.getField("keep"))
  }

  /** The staged builtin composition of [[gopherRules]] — the semantic
    * reference the native expression is pinned against (LlmSpec). */
  private[graft] def gopherRulesStaged(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nToks = size(toks).cast("long")
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / greatest(nToks, lit(1L))
    val hashCnt = length(text) - length(regexp_replace(text, "#", ""))
    val ellCnt = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))).cast("double") / 3
    val symRatio = (hashCnt + ellCnt) / greatest(nToks, lit(1L))
    val lines = split(text, "\n")
    val nLines = greatest(size(lines).cast("long"), lit(1L))
    val bulletFrac = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
      .cast("double") / nLines
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]")))
      .cast("double") / greatest(nToks, lit(1L))
    val stopHits = size(array_distinct(
      filter(toks, t => t.isin(gopherStopwords.map(x => x: Any): _*)))).cast("long")
    val keep = nToks >= 50 && nToks <= 100000 &&
      meanLen >= 3 && meanLen <= 10 && symRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && alphaFrac >= 0.8 &&
      stopHits >= 2
    Seq(
      "n_words" -> nToks,
      "mean_word_len" -> round(meanLen, 6),
      "symbol_ratio" -> round(symRatio, 6),
      "bullet_frac" -> round(bulletFrac, 6),
      "ellipsis_frac" -> round(ellipsisFrac, 6),
      "alpha_word_frac" -> round(alphaFrac, 6),
      "stop_hits" -> stopHits,
      "keep" -> keep)
  }

  // ----------------------------------------------------- PII detection

  /** PII surface detection: counts of email / IPv4 / phone-shaped spans
    * plus an md5 of the text with emails and IPv4s redacted to typed
    * placeholder tokens — the redact-before-training pass. Regexes stay in
    * the Java∩RE2 common subset (no backrefs/lookarounds) so external
    * engines (and the DuckDB oracle) count identical spans. Pure
    * `regexp_count`/`regexp_replace` projections: codegen'd, no shuffle. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+?\\d[\\d\\- ]{7,}\\d"
  def piiFeatures(text: Column): Seq[(String, Column)] = {
    val nEmail = size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long")
    val nIp = size(regexp_extract_all(text, lit(ipv4Re), lit(0))).cast("long")
    val nPhone = size(regexp_extract_all(text, lit(phoneRe), lit(0))).cast("long")
    val redacted = regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), ipv4Re, "<IP>")
    Seq(
      "n_emails" -> nEmail,
      "n_ipv4" -> nIp,
      "n_phones" -> nPhone,
      "has_pii" -> (nEmail + nIp + nPhone > 0),
      "redacted_md5" -> md5(redacted))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword/topic signal a
    * corpus-analysis pass produces (domain tagging, boilerplate
    * discovery). tf = in-document term count, idf = ln((N+1)/(df+1))
    * (add-one so corpus-universal terms score 0⁺ instead of dividing by
    * zero), score rounded to 6, ranked (score DESC, term ASC).
    *
    * Scale shape: two aggregations over the exploded token stream (per-doc
    * tf, corpus df — both map-side-combining word-counts), an equi-join on
    * term, and a per-doc top-k window. N rides as a literal (one count,
    * model-style). The df table is vocabulary-sized, not corpus-sized.
    */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val nDocs = docs.count()
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df counts over tf's OWN aggregate. The `tf >= 1` predicate is
    // vacuously true (a group exists ⟹ count ≥ 1) — it is there so column
    // pruning cannot drop `tf` from this branch's inner aggregate, which
    // keeps the two (doc, term) subplans canonically identical and lets
    // ReuseExchange serve both from ONE tokenize+shuffle pass (without it
    // the corpus was exploded and shuffled twice — measured 3.5 s → 2.3 s
    // at 50k docs).
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, 1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score",
        round(col("tf") * log((lit(nDocs) + 1).cast("double") / (col("df") + 1)), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Token-window document chunking — the training-data prep step that
    * splits documents into fixed-size token windows with overlap
    * (stride < chunkLen) so context survives the cut. One row per chunk:
    * (id, chunk_id, n_tok, chunk_md5) — the md5 stands in for the chunk
    * text so downstream equality/dedup work on a fixed-width key.
    *
    * Scale shape: pure per-row explode — tokenize once, generate the
    * stride grid with `sequence`, slice per start. No shuffle, no state;
    * fan-out is len/stride rows per document, the intended output volume.
    */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkLen: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      "need 0 < stride <= chunkLen")
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col(idCol),
        (col("start") / stride).cast("long").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(chunkLen)).as("ctoks"))
      .select(col(idCol), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tok"),
        md5(array_join(col("ctoks"), " ")).as("chunk_md5"))
  }
}
