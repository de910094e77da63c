package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash and exact n-gram Jaccard (inverted-index form).
  *
  * Scale posture (the whole point of these designs):
  *   - exact: one hash-shuffle on the content hash; no driver state.
  *   - minhash LSH: per-doc signature is map-side only; the only shuffle is
  *     the band-bucket self-join, whose key cardinality grows with corpus
  *     size so buckets stay small; estimated-Jaccard filtering happens
  *     before any full-text comparison.
  *   - simhash: candidate pairs come from chunk-collision blocking which is
  *     *lossless* for Hamming ≤ chunks-1 (pigeonhole), so no all-pairs
  *     comparison ever materializes.
  *   - ngram Jaccard: inverted index (explode shingles → equi-join) so only
  *     pairs sharing ≥1 shingle are generated; set sizes travel with the
  *     rows, making the final Jaccard a pure map-side computation.
  */
object Dedup {

  /** Materialize the (small) result eagerly, then release every cached
    * intermediate. Near-dup outputs are pair lists — orders of magnitude
    * smaller than the exploded indexes that produce them — so pinning the
    * result via localCheckpoint and dropping the big caches immediately is
    * the right trade at any scale; without this the session accumulates
    * one inverted index per invocation. */
  private def eagerRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** (doc_id, sh) frame where sh is the distinct word-n-shingle *hash*
    * set, computed by the fused native expression
    * (graft.expressions.ShingleHashes) — one JVM pass per document instead
    * of the interpreted tokens→shingles→md5→distinct HOF chain. */
  private[graft] def shingleHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    docs.select(col(idCol).as("doc_id"), ColumnBridge.column(graft.expressions.ShingleHashes(
      ColumnBridge.expression(col(textCol)), n, distinct = true)).as("sh"))
  }

  /** Exact duplicate marking: every row keeps its content hash and the
    * smallest doc_id bearing the same hash (`dup_of`); `is_dup` flags
    * non-canonical copies. One shuffle on the 128-bit content hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol))
    val w = Window.partitionBy(col("content_hash"))
    docs.select(col(idCol), h.as("content_hash"))
      .withColumn("dup_of", min(col(idCol)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("dup_of")).cast("boolean"))
  }

  /** Cross-document exact PARAGRAPH removal — the line/paragraph-level
    * dedup of the RefinedWeb/Dolma pipelines: a newline-delimited block
    * whose trimmed text appears (byte-exact) in more than one document is
    * removed everywhere except the smallest doc_id (keep-first, like
    * [[dedupSpans]]; intra-document repeats in the keeper survive —
    * that's the repetition scorer's defect, not this one's). Blank
    * blocks are structure, not content: never dup-checked, always kept.
    *
    * Output: one row per document — the reassembled text (surviving
    * blocks re-joined with `\n`, order preserved), block and removal
    * counts.
    *
    * Scale shape: the one corpus-volume shuffle is a partial+final
    * min/max-of-doc_id aggregate per 128-bit block hash (16 bytes of agg
    * state per distinct block — cross-doc ⟺ min ≠ max, no posting
    * lists); the duplicated-block set (duplication volume) joins back on
    * the hash — AQE broadcasts it when small — and reassembly is one
    * groupBy(doc) whose partitions hold single documents. */
  /** The shared paragraph front-end: one row per newline block with its
    * 0-based index and (for non-blank blocks) the md5 of its trimmed
    * text — [[dedupParagraphs]] and the streaming twin
    * ([[graft.streaming.ParagraphDedupStream]]) both consume it. */
  private[graft] def paragraphOccurrences(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("p_idx", "para")))
      .withColumn("__ph",
        when(trim(col("para")) =!= "", md5(trim(col("para")))))

  def dedupParagraphs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val withH = paragraphOccurrences(docs, idCol, textCol)
    val dupSet = withH.filter(col("__ph").isNotNull)
      .groupBy(col("__ph"))
      .agg(min(col(idCol)).as("__keep_doc"), max(col(idCol)).as("__mx"))
      .filter(col("__keep_doc") =!= col("__mx"))
      .select(col("__ph"), col("__keep_doc"))
    withH.join(dupSet, Seq("__ph"), "left")
      .withColumn("__keep",
        col("__keep_doc").isNull || col("__keep_doc") === col(idCol))
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n", sort_array(collect_list(when(col("__keep"),
          struct(col("p_idx"), col("para"))))).getField("para")).as("text"),
        count(lit(1)).as("n_paras"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Cross-document exact duplicate-SPAN removal — the substring-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), restated at word-n-gram granularity:
    * document-level dedup misses boilerplate (licenses, templates, quoted
    * passages) pasted into otherwise-distinct pages, so the span pass
    * cuts any n-token run that also appears in ANOTHER document, keeping
    * the occurrence in the smallest doc_id (keep-first, deterministic).
    * Intra-document repeats are a different defect with a different
    * treatment ([[TextOps]]' repetition scorer); a gram repeated only
    * within one document is NOT cut here.
    *
    * Output matches [[Decontaminate.decontaminateSpans]]: one row per
    * surviving fragment (idCol, frag_idx, frag_text, n_tok), untouched
    * documents whole at frag_idx 0.
    *
    * Scale shape: positional grams are a per-row generator (no shuffle);
    * the duplicated-gram table needs only (min, max) of doc_id per gram —
    * cross-doc ⟺ min ≠ max — so the one corpus-volume shuffle is a
    * partial+final min/max agg, NO count(DISTINCT) Expand and no
    * position collection (an adversarially common gram costs 16 bytes of
    * agg state, not a posting list). The duplicated-gram set
    * (duplication volume, not corpus volume) joins back to the gram
    * stream on the 60-bit hash — AQE broadcasts it when small — and only
    * AFFECTED documents take the positional fragment fold. */
  def dedupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      margin: Int = 0,
      minKeepTokens: Int = 1): DataFrame =
    Decontaminate.fragmentByBadStarts(
      docs, spanBadPositions(docs, idCol, textCol, n), idCol, textCol,
      n, margin, minKeepTokens)

  /** Per-document cross-corpus duplication ratio — the NOVELTY score a
    * curation pass thresholds ("mostly boilerplate" detection, dedup
    * prioritization): for each document with ≥ n tokens, the fraction of
    * its positional word-n-grams that also occur in ANY other document.
    * Same one-shuffle min/max-per-gram machinery as [[dedupSpans]] (no
    * posting lists); docs shorter than n tokens contribute no grams and
    * are absent from the output. */
  def spanDupRatio(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, "n-gram size must be positive")
    val grams = Decontaminate.positionalGrams(docs, idCol, textCol, n)
    val dup = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("gram")
    val tot = grams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val dupc = grams.join(dup, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup_grams"))
    tot.join(dupc, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        round(coalesce(col("n_dup_grams"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("dup_ratio"))
  }

  /** The bad-position half of [[dedupSpans]]: per affected document, the
    * sorted 1-based gram START positions whose n-gram also occurs in a
    * smaller-id document — (idCol, badPos array<int>). Public so the
    * streaming parity harness ([[graft.streaming.SpanDedupStream]]) can
    * compare against the exact batch definition. */
  def spanBadPositions(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be positive")
    val grams = Decontaminate.positionalGrams(docs, idCol, textCol, n)
    val dup = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__keep"), max(col(idCol)).as("__mx"))
      .filter(col("__keep") =!= col("__mx"))
      .select(col("gram"), col("__keep"))
    grams.join(dup, "gram")
      .filter(col(idCol) =!= col("__keep"))
      .groupBy(idCol).agg(sort_array(collect_set(col("pos"))).as("badPos"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * k-component signatures over word-`shingleN` shingles, banded `bands` ×
    * `rows`; pairs colliding on ≥1 band are scored by signature agreement
    * and kept when the estimate reaches `threshold`. With bands=4, rows=4
    * the LSH S-curve crosses ~ (1/4)^(1/4) ≈ 0.71 true Jaccard.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      rows: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (pairs, banded) = minhashLshParts(docs, idCol, textCol, k, bands, rows, threshold)
    eagerRelease(pairs, banded)
  }

  /** [[minhashLsh]] split into its LAZY pair frame and the persisted
    * signature table backing it — for SINGLE-consumer pipelines (r22):
    * the eagerRelease checkpoint above exists so REPEATED consumers stop
    * re-running the self-join against the persist, but curate's near-dup
    * stage consumes the pairs exactly once (the connected-components
    * probe), so checkpointing them first is a whole extra serial
    * materialization job. The caller materializes `pairs` through its own
    * single action and then unpersists `banded`. */
  private[graft] def minhashLshParts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      rows: Int = 4,
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    require(bands * rows == k, "bands*rows must equal k")
    // materialize one h60 per shingle in its own projection, then derive
    // the k families arithmetically — the md5s are computed exactly once
    // (CollapseProject keeps multi-referenced non-trivial columns apart)
    // materialize the tiny signature+band table before the self-join:
    // both join sides would otherwise recompute the full text→signature
    // pipeline, and generators re-evaluate interpreted expression chains
    // per output row. Signatures are O(k) longs per doc — at 100 TB of
    // text this is the table you keep, not the corpus.
    val banded = signatureBands(docs, idCol, textCol, k, bands, rows)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(TextOps.minhashEstimate(col("sig_a"), col("sig_b"), k), 6).as("est_jaccard"))
      .distinct() // a pair may collide on several bands
      .filter(col("est_jaccard") >= threshold)
    (pairs, banded)
  }

  /** The (doc_id, sig, band, bh) signature+band table — the shared front
    * half of MinHash LSH, used by the batch self-join ([[minhashLsh]]) and
    * the incremental streaming detector
    * (graft.streaming.DedupStream.nearDupPairs). */
  def signatureBands(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, rows: Int = 4): DataFrame = {
    require(bands * rows == k, "bands*rows must equal k")
    val sigs = shingleHashes(docs, idCol, textCol, 3)
      .select(col("doc_id"), TextOps.minhashSigFromHashes(col("sh"), k).as("sig"))
    sigs.select(col("doc_id"), col("sig"),
      posexplode(TextOps.minhashBands(col("sig"), bands, rows)).as(Seq("band", "bh")))
  }

  /** SimHash near-duplicate pairs: 32-bit simhash, `chunks`-way blocking,
    * Hamming distance ≤ maxHamming (must be < chunks for the blocking to be
    * lossless). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunks: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < chunks, "blocking is only lossless for maxHamming < chunks")
    // 60-bit simhash → 15-bit chunks → 32k blocking buckets per band; the
    // old 32-bit hash left 8-bit chunks whose 256 buckets collide
    // quadratically once the corpus outgrows a few thousand docs
    val chunkBits = 60 / chunks
    val hashed = docs
      .select(col(idCol).as("doc_id"), ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(textCol)), 1, distinct = false)).as("ths"))
      .select(col("doc_id"), ColumnBridge.column(graft.expressions.SimHashBits(
        ColumnBridge.expression(col("ths")), 60)).as("sh"))
    // one 64-bit hash per doc: materialize before the fan-out (see
    // minhashLsh for rationale)
    val blocked = hashed.select(col("doc_id"), col("sh"),
      posexplode(array((0 until chunks).map(c =>
        TextOps.simhashChunk(col("sh"), c, chunkBits)): _*)).as(Seq("chunk_idx", "chunk")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = blocked.select(col("chunk_idx"), col("chunk"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("chunk_idx"), col("chunk"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextOps.hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    eagerRelease(pairs, blocked)
  }

  /** Exact n-gram Jaccard via **prefix filtering** (the AllPairs/PPJoin
    * family): order each document's distinct shingles by a global total
    * order and index only the first |A| − ⌈t·|A|⌉ + 1 of them. Two sets
    * with Jaccard ≥ t must overlap in ≥ ⌈t·max(|A|,|B|)⌉ elements, which
    * cannot fit entirely in either suffix — so every qualifying pair
    * collides on some indexed prefix shingle. The filter is LOSSLESS for
    * ANY global total order (the verification oracle states the naive
    * full inverted join and the outputs are identical).
    *
    * The global order is **df-demoted hash order**: ascending 60-bit hash
    * (which ShingleHashes already emits per document — the canonical
    * position is the array index, for free), EXCEPT that shingles whose
    * document frequency exceeds `maxShingleDfFrac`·D (the `heavyLimit`
    * heaviest of them) sort AFTER every ordinary shingle, ordered among
    * themselves by ascending df. Pure hash order was the r9-r12 design
    * and is fine under uniform df, but it has no boilerplate guard: a
    * header 3-gram present in df documents lands in ~half their prefixes
    * and the candidate equi-join generates ~(df/2)² rows before any
    * filter can see them. Demotion keeps those shingles out of posting
    * lists — the heaviest shingle can only reach a prefix when a document
    * consists of almost nothing else (the classic rarest-first PPJoin
    * argument, applied only where it pays). Cost: ONE map-side-combining
    * df aggregation over the exploded shingles and a bounded driver
    * collect (≤ heavyLimit rows) — the heavy list then rides in the task
    * binary and the per-row reorder is a fused native pass
    * (graft.expressions.DemoteHeavy), not the three corpus shuffles full
    * df-ordering would cost (inverted index + join back + per-doc window).
    * Candidates are then verified exactly on the full shingle sets. */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleDfFrac: Double = 0.05,
      heavyLimit: Int = 4096): DataFrame = {
    // hashed shingle sets: verification compares 60-bit hashes, not
    // strings (the chance of an in-pair collision at 2^-60 is negligible
    // against the corpus sizes this runs at)
    val sets = shingleHashes(docs, idCol, textCol, n)
      .withColumn("nsh", size(col("sh")).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numDocs = sets.count() // also materializes the persist
    val heavy = heavyShingles(sets, numDocs, maxShingleDfFrac, heavyLimit)
    val candidates = ngramCandidates(sets, threshold, heavy)
    // exact verification on the full hashed sets
    val setsA = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("nsh").as("n_a"))
    val setsB = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("nsh").as("n_b"))
    val verified = candidates.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("common", ColumnBridge.column(graft.expressions.IntersectCountSorted(
        ColumnBridge.expression(col("sh_a")), ColumnBridge.expression(col("sh_b")))))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
    eagerRelease(verified, sets)
  }

  /** The demoted shingle list: the `heavyLimit` highest-df shingles whose
    * df exceeds `maxShingleDfFrac`·numDocs, returned in GLOBAL ORDER
    * (ascending df, then hash — the heaviest sorts last). Bounded driver
    * intake by construction; `maxShingleDfFrac >= 1` disables demotion.
    * If more than `heavyLimit` shingles exceed the cap, the excess stay at
    * their hash-order positions — still lossless, the guard just covers
    * the worst offenders first. */
  private[graft] def heavyShingles(
      sets: DataFrame, numDocs: Long,
      maxShingleDfFrac: Double, heavyLimit: Int): Array[Long] = {
    if (maxShingleDfFrac >= 1.0 || numDocs == 0) return Array.emptyLongArray
    // Above the floor, detect heavy shingles on a DETERMINISTIC 5% doc
    // sample (xxhash64 of the id — stable across runs, no RNG), with the
    // cap scaled to the sample size: the aggregation shrinks 20× and a
    // true offender (df ≫ cap — the boilerplate the guard exists for) is
    // caught with Chernoff-tight probability. A shingle sitting AT the cap
    // is missed ~half the time and that is fine by construction — the cap
    // is the designed-acceptable posting-list load, and the prefix filter
    // stays lossless under any order, so detection errors only shift
    // constant factors. Small corpora (specs, sf0.001) stay exact.
    val sampleFloor = 1000L
    val exact = numDocs < sampleFloor
    val src =
      if (exact) sets
      else sets.filter(pmod(xxhash64(col("doc_id")), lit(20)) === 0)
    // expected sample size, not a counted one: above the floor the binomial
    // concentration makes the ±few-percent cap shift irrelevant (see the
    // boundary argument above) and it saves a whole Spark job — detection
    // is then ONE pass: explode → partial/final agg → TakeOrdered collect
    val basis = if (exact) numDocs else math.max(1L, numDocs / 20L)
    val cap = math.max(1L, (maxShingleDfFrac * basis).toLong)
    val rows = src.select(explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .orderBy(col("df").desc, col("shingle"))
      .limit(heavyLimit)
      .collect()
    rows.map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2)
  }

  /** PPJoin candidate generation under the df-demoted order: prefix
    * posting-list equi-join + size filter + positional filter. Factored
    * out so the planted-boilerplate spec can count candidates directly. */
  private[graft] def ngramCandidates(
      sets: DataFrame, threshold: Double, heavy: Array[Long]): DataFrame = {
    // The exploded prefix index is intentionally NOT persisted: it is
    // ≈ the token count of the corpus — recomputing the (cached-sets →
    // posexplode) projection for its two join sides is cheaper than
    // pinning it, and at 100 TB it's the one table you must never cache.
    val ordered =
      if (heavy.isEmpty) col("sh")
      else ColumnBridge.column(graft.expressions.DemoteHeavy(
        ColumnBridge.expression(col("sh")), heavy.toSeq))
    val pos = sets
      .select(col("doc_id"), col("nsh"), posexplode(ordered).as(Seq("__idx", "shingle")))
      .filter(col("__idx") + 1 <= col("nsh") - ceil(col("nsh") * threshold) + 1)
    val a = pos.select(col("shingle"), col("doc_id").as("id_a"),
      (col("__idx") + 1).as("pos_a"), col("nsh").as("na"))
    val b = pos.select(col("shingle"), col("doc_id").as("id_b"),
      (col("__idx") + 1).as("pos_b"), col("nsh").as("nb"))
    // size filter: J ≥ t bounds the size ratio; positional filter (PPJoin):
    // a collision whose remaining tails cannot reach the required overlap
    // α = ⌈t/(1+t)·(na+nb)⌉ is discarded. A qualifying pair's FIRST common
    // prefix element (in the demoted global order) passes both, so the
    // filters stay lossless.
    val alpha = ceil(lit(threshold) / (1 + threshold) * (col("na") + col("nb")))
    // Keep the posting-list self-join SORT-MERGE even under the session's
    // preferSortMergeJoin=false: both sides are the corpus-volume prefix
    // index, so a shuffled-hash build has no small side and inherits the
    // posting-list skew (boilerplate shingles), where SMJ spills
    // gracefully (guide §3.1). Measured: on the saturated-df sf1 corpus
    // SHJ read 8.7 s vs SMJ 7.6 s, with no sf0.1 penalty — the family's
    // SHJ win comes from the bounded signature/verification joins, which
    // keep it.
    a.hint("merge").join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("na") >= ceil(col("nb") * threshold) && col("nb") >= ceil(col("na") * threshold))
      .filter(lit(1) + least(col("na") - col("pos_a"), col("nb") - col("pos_b")) >= alpha)
      .select("id_a", "id_b").distinct()
  }

  /** Duplicate-cluster assignment: connected components over a near-dup
    * PAIR graph — the step that turns pairwise reports into "keep one doc
    * per cluster". Returns (doc_id, cluster_id) for every doc appearing in
    * a pair, cluster_id = the smallest doc_id in its component.
    *
    * Algorithm — two phases, bounded in BOTH directions:
    *
    *  1. Min-label propagation for a few cheap rounds (seed = min(self,
    *     neighbors) in one aggregate; each round = one equi-join + one
    *     min-aggregate + one changed-count action). Near-dup clusters are
    *     shallow (duplicates of a common source), so this is the fast path
    *     that almost always converges — measured 2.3× cheaper per round
    *     than a star round on the sf0.1 pair graph.
    *  2. If propagation has NOT converged within its prelude budget, the
    *     component diameter is large: relabel the edges through the
    *     current labels (quotient graph — same components, contracted)
    *     and switch to alternating large-star/small-star (Kiveris et al.,
    *     "Connected Components in MapReduce and Beyond", SoCC'14), whose
    *     round count is O(log n) **independent of diameter**; the final
    *     label composes star∘propagation.
    *
    * Scale shape: the graph is the PAIR table (≪ corpus — candidates
    * already survived LSH + verification); every propagation/star round
    * shuffles on node id so the partitioning is reused, lazily checkpoints
    * (cutting compounding iterative lineage), and runs exactly ONE Spark
    * action — the convergence count that also materializes the checkpoint.
    * If maxIter is ever hit the method degrades gracefully: it logs a
    * warning and returns best-effort labels instead of discarding the
    * completed rounds. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 50,
      maxDriverEdges: Long = 4_000_000L): DataFrame = {
    // canonical oriented edge set (a > b), self-loops dropped
    val raw = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val edges0 = raw
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // size dispatch (the holtWintersAuto pattern), fused to ONE action
    // (r22, guide §1.2 — serial job count is latency): a bounded probe of
    // cap+1 edges replaces the count-then-collect pair. The probe is
    // unordered: union-find labels are component minima, so edge order
    // cannot change the result, and an ordered probe (TakeOrderedAndProject)
    // would ship up to cap+1 rows per partition to the driver. A probe
    // shorter than cap+1 IS the complete edge set. The pair graph
    // is candidates-that-survived-LSH — usually FAR below corpus scale —
    // and under the cap a driver union-find (path compression, min-root
    // reps) labels it in milliseconds where the iterative distributed
    // loop pays multiple Spark jobs per round. 4M edges ≈ 64 MB of longs.
    val probeN = (math.min(maxDriverEdges, (Int.MaxValue - 1).toLong) + 1L).toInt
    val probe = edges0.limit(probeN).collect()
    if (probe.length < probeN) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      probe.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // min root wins → labels are component minima
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(row.getLong(0), find(row.getLong(0)))
        parent.getOrElseUpdate(row.getLong(1), find(row.getLong(1)))
      }
      val out = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      edges0.unpersist(false)
      import spark.implicits._
      return out.toDF("doc_id", "cluster_id")
    }
    val sym = edges0.union(edges0.select(col("b").as("a"), col("a").as("b")))

    // ---- phase 1: label propagation (seed counts as its first round).
    // The prelude is a FIXED ≤4 rounds and does not consume maxIter —
    // maxIter budgets the star phase, whose round count is the bounded one.
    val propRounds = math.min(4, maxIter)
    var lbl = sym.groupBy("a").agg(min("b").as("nb"))
      .select(col("a").as("node"), least(col("a"), col("nb")).as("label"))
      .localCheckpoint(false)
    var converged = false
    var i = 1
    while (!converged && i < propRounds) {
      val nbrMin = sym.join(lbl, sym("b") === lbl("node"))
        .groupBy(sym("a").as("node")).agg(min("label").as("nbr"))
      val next = lbl.select("node", "label").join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .localCheckpoint(false)
      converged = next.filter(col("label") < col("prev")).count() == 0
      lbl = next.select("node", "label")
      i += 1
    }
    // one-round graphs (propRounds == 1) never measured convergence; the
    // star phase below settles them
    if (converged) {
      val out = lbl.select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .localCheckpoint(true)
      edges0.unpersist(false)
      return out
    }

    // ---- phase 2: alternating star on the quotient graph
    val la = lbl.select(col("node").as("na"), col("label").as("la"))
    val lb = lbl.select(col("node").as("nb2"), col("label").as("lb"))
    var cur = edges0
      .join(la, col("a") === col("na")).join(lb, col("b") === col("nb2"))
      .filter(col("la") =!= col("lb"))
      .select(greatest(col("la"), col("lb")).as("a"), least(col("la"), col("lb")).as("b"))
      .distinct().localCheckpoint(false)
    var s = 0
    while (!converged && s < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      // ONE action: count edges in exactly one of {cur, next} — downstream
      // of next's lazy checkpoint, so the same job materializes the round
      val changed = next.select(col("a"), col("b"), lit(1).as("src"))
        .union(cur.select(col("a"), col("b"), lit(2).as("src")))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .filter(col("n") === 1).count()
      cur = next
      converged = changed == 0
      s += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not reach a fixpoint in $maxIter rounds; " +
          "returning best-effort labels from the partially-contracted graph")
    // At the star fixpoint every non-root repr carries exactly one edge to
    // its component min, so repr label = min-of-targets (self as fallback);
    // the node label composes star(prop(v)). The same extraction is the
    // best-effort answer on the degraded path.
    val starLbl = cur.groupBy(col("a").as("repr")).agg(min("b").as("slbl"))
    val out = lbl.join(starLbl, lbl("label") === starLbl("repr"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("slbl"), col("label")).as("cluster_id"))
      .localCheckpoint(true)
    edges0.unpersist(false)
    out
  }

  /** Canonical-document selection: for every duplicate cluster (connected
    * component of `pairs`), keep exactly the highest-weight member (ties →
    * smallest id) and mark the rest for dropping — the keep-one decision a
    * dedup pass feeds back into the corpus. 100 TB shape: the cluster
    * table is ~linear in TRUE duplicates (≪ corpus), so the weight join is
    * a broadcast of the cluster side against the corpus projection, and
    * the per-cluster argmax windows over the tiny clustered subset only. */
  def keepBest(
      docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", weightCol: String = "n_chars",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val clusters = connectedComponents(pairs, aCol, bCol)
    val weights = docs.select(col(idCol).cast("long").as("doc_id"),
      col(weightCol).cast("long").as("__w"))
    val win = Window.partitionBy("cluster_id")
      .orderBy(col("__w").desc, col("doc_id").asc)
    // prune the corpus projection down to clustered docs (broadcast
    // semi-join — the corpus never shuffles), then attach weights
    val clusteredWeights = weights
      .join(broadcast(clusters.select("doc_id")), "doc_id")
    clusters.join(broadcast(clusteredWeights), "doc_id")
      .withColumn("keep", row_number().over(win) === 1)
      .select(col("doc_id"), col("cluster_id"), col("keep"))
  }

  /** Large-star step: every node u connects its strictly-larger neighbors
    * to m = min(Γ(u) ∪ {u}). One window-min over the symmetrized edges
    * partitioned by node. Preserves connectivity; never increases any
    * node's smallest reachable label. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    sym.withColumn("m", least(col("a"), min(col("b")).over(Window.partitionBy("a"))))
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star step: orient edges toward the larger endpoint, then every
    * node u connects its smaller neighbors AND ITSELF to m = min of the
    * smaller neighborhood. Output stays oriented (a > b). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
    val withMin = oriented.withColumn("m", min(col("b")).over(Window.partitionBy("a")))
    withMin.select(col("b").as("node"), col("m"))
      .union(withMin.select(col("a").as("node"), col("m")))
      .filter(col("node") =!= col("m"))
      .select(col("node").as("a"), col("m").as("b"))
      .distinct()
  }
}
