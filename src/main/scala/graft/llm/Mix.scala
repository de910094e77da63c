package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Data-mixing operators: deterministic domain-weighted sampling for
  * assembling a training corpus from heterogeneous sources.
  *
  * Why hash-based instead of `df.sample()`: at 100 TB the sample must be
  * (a) exactly reproducible across retries, re-partitionings, and engine
  * versions (Spark's sampler is seed-stable only per partitioning), and
  * (b) joinable — two tables sampled on the same key keep referential
  * integrity. Hashing the row's own id gives both, and the decision is a
  * narrow codegen'd projection + filter: no RNG state, no shuffle, fully
  * pushed past the scan when the id/domain columns are leading parquet
  * columns.
  */
object Mix {

  /** The sampling bucket in [0, 10000): first 8 md5 hex digits of the id
    * rendered as a string, mod 10⁴ — identical to DuckDB's
    * `('0x' || substr(md5(id::VARCHAR),1,8))::BIGINT % 10000`. */
  def sampleBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 10000

  /** Keep a row iff its bucket falls under its domain's rate: rates are
    * fractions in [0,1] resolved to integer per-myriad thresholds, so the
    * keep decision compares integers (never a float boundary). Domains
    * absent from `rates` use `defaultRate`. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val threshold = rates.foldLeft(lit((defaultRate * 10000).toLong)) {
      case (acc, (d, r)) => when(col(domainCol) === d, lit((r * 10000).toLong)).otherwise(acc)
    }
    df.withColumn("sample_bucket", sampleBucket(col(idCol)))
      .filter(col("sample_bucket") < threshold)
  }

  /** Up/down-sample each domain by a (possibly fractional) repeat factor,
    * emitting one row per epoch: factor 2.3 yields 2 copies of every row
    * plus a 3rd for the deterministic 30% of ids whose bucket falls under
    * the fraction. Output adds `epoch` (0-based copy index); rows whose
    * domain resolves to factor 0 (and lose the fractional draw) vanish.
    *
    * The factor is resolved to an integer per-myriad count so the whole
    * decision — whole copies and the fractional extra — is integer
    * arithmetic on the same md5 bucket as [[stratifiedSample]]: exactly
    * reproducible, shuffle-free (a projection + generator), and id-stable
    * under repartitioning. This is the standard corpus-assembly move for
    * hitting target domain weights when a domain must be seen more than
    * once per epoch (factor > 1) or thinned (factor < 1). */
  def upsample(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      repeats: Map[String, Double],
      defaultRepeat: Double): DataFrame = {
    val myriad = repeats.foldLeft(lit(math.round(defaultRepeat * 10000))) {
      case (acc, (d, r)) => when(col(domainCol) === d, lit(math.round(r * 10000))).otherwise(acc)
    }
    val copies = (myriad / 10000).cast("int") +
      when(sampleBucket(col(idCol)) < myriad % 10000, 1).otherwise(0)
    // sequence(0, -1) would descend, so guard the zero-copy case with an
    // empty array (explode drops those rows).
    df.withColumn("epoch",
      explode(when(copies > 0, sequence(lit(0), copies - 1))
        .otherwise(array().cast("array<int>"))))
  }

  /** Sequence packing, concatenate-then-split style (the T5/GPT data-prep
    * step): within each shard (`shardCol`), documents concatenate in id
    * order and the token stream splits into fixed `seqLen` sequences; each
    * document reports the pack its first token lands in and its offset
    * there. A document longer than the remaining pack space spills into
    * the next pack(s) — exactly what concat-then-split training does.
    *
    * Scale shape: ONE shuffle on the shard key, then a per-shard ordered
    * window (running token sum). Shards are the pipeline's own output
    * partitioning (source/dump/crawl-segment), so the window never sees
    * more than a shard — packing 100 TB is embarrassingly parallel across
    * shards, and a global order would be both unnecessary and wrong (packs
    * must not cross shard boundaries). All arithmetic is integer.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shardCol: String,
      seqLen: Int): DataFrame =
    packSequencesCounted(
      docs.select(col(idCol), col(shardCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok")),
      idCol, shardCol, "n_tok", seqLen)

  /** [[packSequences]] over documents whose token counts are already a
    * column (`nTokCol`) — the shared-tokens path: a pipeline that has
    * materialized per-document token counts upstream packs without
    * re-tokenizing the corpus. Same shuffle (one, on the shard key),
    * same integer arithmetic. */
  def packSequencesCounted(
      docs: DataFrame,
      idCol: String,
      shardCol: String,
      nTokCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
    docs
      .select(col(idCol), col(shardCol), col(nTokCol).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("__start", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col(idCol), col(shardCol), col("n_tok"),
        expr(s"__start DIV $seqLen").as("pack_id"),
        (col("__start") % seqLen).as("pack_offset"))
  }

  /** Token-budget sampling — fill each domain's TOKEN budget instead of
    * sampling by rate: documents take a deterministic per-domain order
    * (md5 of the id, the repo-wide reproducible shuffle), accumulate a
    * running token sum, and a document is kept iff it STARTS inside the
    * budget (the first doc to cross the line is kept, so every non-empty
    * budget yields at least one document — the standard "fill then cut"
    * convention). Domains absent from `budgets` use `defaultBudget`;
    * budget < 0 means unlimited.
    *
    * Scale shape — a TWO-PHASE prefix sum, because training mixes have
    * few, huge domains (5-100 domains over 100 TB): a single
    * `Window.partitionBy(domain)` would sort-and-scan an entire domain
    * in ONE task. Instead the first 2 md5 hex digits bucket each domain
    * into 256 slices (the bucket is a PREFIX of the ordering key, so
    * slice boundaries respect the order and the arithmetic is
    * unchanged): per-(domain, bucket) token totals aggregate map-side
    * into a tiny frame (domains × 256 rows), cumulative bucket offsets
    * come from a window over THAT frame, and the offsets broadcast back
    * onto a running sum windowed within (domain, bucket) — the widest
    * task owns 1/256th of a domain. Costs one extra (partial-agg) pass
    * over the corpus; callers with pre-counted tokens can keep that
    * pass cheap by projecting only (id, domain, n_tok).
    *
    * All arithmetic integer, so the keep decision is exactly
    * reproducible across engines and repartitionings. Output adds
    * `tok_start` (tokens accumulated before this doc) and `n_tok`. */
  def tokenBudgetSample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long = -1L): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (d, b)) => when(col(domainCol) === d, lit(b)).otherwise(acc)
    }
    val base = docs
      // null text = empty document (0 tokens), the Report.corpusStats
      // convention — not a null that silently drops the row
      .withColumn("n_tok",
        size(TextOps.tokens(coalesce(col(textCol), lit("")))).cast("long"))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("__bk", substring(col("__h"), 1, 2))
    // phase 1: per-(domain, bucket) totals → cumulative offsets. The
    // aggregate is tiny by construction; its window is over that tiny
    // frame, not the corpus.
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d")).orderBy(col("__b"))
    val offsets = base
      .groupBy(col(domainCol).as("__d"), col("__bk").as("__b"))
      .agg(sum(col("n_tok")).as("__btok"))
      .withColumn("__off",
        coalesce(sum(col("__btok")).over(wOff) - col("__btok"), lit(0L)))
      .select(col("__d"), col("__b"), col("__off"))
    // phase 2: running sum inside each (domain, bucket) slice + the
    // broadcast bucket offset = the exact per-domain running sum
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol), col("__bk"))
      .orderBy(col("__h"), col(idCol))
    base
      // null-safe on BOTH keys: a null domain is one group (as it was
      // under partitionBy(domain)), and a null id hashes to a null
      // bucket — `===` there would miss the offsets row and silently
      // drop the row under a finite budget.
      // No broadcast hint: offsets is |domains|×256 rows, tiny for the
      // documented 5-100 huge-domain shape but unbounded for
      // many-small-domain corpora — let AQE pick the join strategy.
      .join(offsets,
        col(domainCol) <=> col("__d") && col("__bk") <=> col("__b"), "left")
      .withColumn("tok_start", col("__off") + coalesce(
        sum(col("n_tok")).over(wRun) - col("n_tok"), lit(0L)))
      .withColumn("__budget", budget)
      .filter(col("__budget") < 0 || col("tok_start") < col("__budget"))
      .drop("__budget", "__h", "__bk", "__d", "__b", "__off")
  }

  /** Deterministic train/validation/test split assignment: each row's
    * md5(seed:id) bucket in [0, 10000) falls through the splits'
    * cumulative per-myriad thresholds in declaration order (integer
    * comparisons only — no float boundary, the [[stratifiedSample]]
    * discipline), so the split is reproducible across engines/retries/
    * partitionings and JOINABLE — two tables split on the same key land
    * in the same split. Fractions must sum to ≤ 1; any remainder falls
    * to the LAST split (the catch-all). Shuffle-free codegen'd
    * projection. */
  def assignSplit(docs: DataFrame, idCol: String,
      splits: Seq[(String, Double)], seed: String = "42"): DataFrame = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    val myriads = splits.map { case (n, f) =>
      require(f >= 0 && f <= 1, s"split $n fraction out of [0,1]")
      n -> math.round(f * 10000).toInt
    }
    require(myriads.map(_._2.toLong).sum <= 10000L, "split fractions exceed 1")
    val bucket = conv(substring(
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") % 10000
    val cum = myriads.scanLeft(0)(_ + _._2).tail
    val expr = myriads.map(_._1).zip(cum).dropRight(1)
      .foldRight(lit(myriads.last._1): Column) { case ((name, bound), acc) =>
        when(col("__sb") < bound, lit(name)).otherwise(acc)
      }
    docs.withColumn("__sb", bucket)
      .withColumn("split", expr)
      .drop("__sb")
  }

  /** Deterministic global shuffle + shard assignment — the terminal step
    * of a training-data pipeline: fix a pseudo-random total order over
    * the corpus, cut it into `numShards` uniform shards, and number each
    * row within its shard (the order the shard writer emits).
    *
    * Order key = md5(seed || ':' || id) — reproducible across engines,
    * retries, and partitionings (the [[sampleBucket]] rationale). Shard =
    * the key's first 8 hex digits mod `numShards`: uniform, integer-exact
    * on every engine, and independent of corpus size — there is NO global
    * sort and NO single-partition window anywhere. The within-shard
    * position ranks (key, id) inside the shard partition only — exactly
    * the sort a shard writer performs anyway, so at 100 TB this is one
    * shuffle by shard with numShards sized to the cluster. */
  def shuffleShards(docs: DataFrame, idCol: String, numShards: Int,
      seed: String = "42"): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    docs.withColumn("__key", key)
      .withColumn("shard",
        pmod(conv(substring(col("__key"), 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
      .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
      .drop("__key")
  }

  /** Driver-side repeat factors that re-weight observed domain sizes to
    * target corpus shares: factor_d = scale · targetShare_d / observedShare_d,
    * where shares are normalized over the domains present in both maps.
    * `sizes` is typically a tiny per-domain row- or token-count aggregate. */
  def repeatsForWeights(
      sizes: Map[String, Long],
      targetWeights: Map[String, Double],
      scale: Double = 1.0): Map[String, Double] = {
    val total = sizes.values.sum.toDouble
    val wSum = targetWeights.values.sum
    require(total > 0 && wSum > 0, "sizes and targetWeights must be non-empty")
    targetWeights.collect { case (d, w) if sizes.getOrElse(d, 0L) > 0 =>
      d -> scale * (w / wSum) / (sizes(d) / total)
    }
  }

  // -------------------------------------------- importance resampling

  /** DSIR-style data selection via importance resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling" — arXiv:2302.03169): score every RAW document by how
    * much more likely its hashed-n-gram profile is under the TARGET
    * domain's distribution than under the raw distribution, then draw a
    * top-k Gumbel sample on the log-weights (importance resampling
    * without replacement).
    *
    * Features are hashed unigram+bigram counts in `buckets` buckets
    * (md5-based, the repo-wide reproducible hash). Both bag-of-buckets
    * unigram models use add-1 smoothing.
    *
    * 100 TB shape: ONE explode+aggregate over the corpus computes both
    * bucket distributions (partial+final combine on ≤ `buckets` keys);
    * the log-ratio vector is a BOUNDED driver literal (buckets ≤ 65536
    * enforced) shipped in the plan, so the scoring pass is a
    * shuffle-free per-row array fold (no join against a model table);
    * the final selection is a distributed top-k
    * (TakeOrderedAndProject), never a global sort. The Gumbel noise is
    * derived from md5(id) — exactly reproducible across retries and
    * partitionings, like every sampler in this file.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int, buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in (0, 65536]: the log-ratio vector is a plan literal")
    // Fused native featurizer ([[graft.expressions.DsirGramBuckets]]):
    // text → hashed unigram+bigram bucket ids in ONE JVM pass, replacing
    // the staged split/zip_with/concat HOF chain plus a per-gram
    // md5→substring→conv stack. Identical bucket ids feed both the
    // distribution aggregate and the scoring fold, so counts, the
    // log-ratio literal, and every score are unchanged (LlmSpec pins it).
    val base = df
      .withColumn("__bkts", ColumnBridge.column(graft.expressions.DsirGramBuckets(
        ColumnBridge.expression(coalesce(col(textCol), lit(""))), buckets)))
      .withColumn("__tgt", isTarget)
    // pass 1: both bucket distributions in one aggregate
    val counts = base
      .select(explode(col("__bkts")).as("__b"), col("__tgt"))
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cq"))
      .collect()
    val cp = new Array[Long](buckets); val cq = new Array[Long](buckets)
    counts.foreach { r =>
      val b = r.getLong(0).toInt; cp(b) = r.getLong(1); cq(b) = r.getLong(2)
    }
    val totP = cp.sum.toDouble; val totQ = cq.sum.toDouble
    // add-1 smoothed log ratio in INTEGER MICRO-UNITS: summing doubles
    // is order-sensitive (a distributed fold and the oracle's GROUP BY
    // accumulate differently, and a sum landing on a rounding boundary
    // flips the reported value), so both engines fold exact integers
    // and divide once at the end
    val lamMicro: Seq[Long] = (0 until buckets).map { b =>
      math.round((math.log((cp(b) + 1.0) / (totP + buckets)) -
        math.log((cq(b) + 1.0) / (totQ + buckets))) * 1e6)
    }
    // pass 2: shuffle-free scoring of the raw (non-target) side — the
    // integer fold over the bounded log-ratio table runs native
    // ([[graft.expressions.LamMicroSum]]; long adds, order-exact)
    val logw = ColumnBridge.column(graft.expressions.LamMicroSum(
      ColumnBridge.expression(col("__bkts")), lamMicro.toArray)).cast("double") / lit(1000000.0)
    // deterministic Gumbel: u from md5(id) in (0,1), g = -ln(-ln(u))
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L + lit(0.5)) / lit(1000000.0)
    val scored = base.filter(!col("__tgt"))
      .withColumn("__logw", logw)
      .withColumn("__key", col("__logw") - log(-log(u))) // + gumbel = -ln(-ln(u))
      .drop("__bkts", "__tgt")
    scored
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__key").desc, col(idCol))))
      .select(col("rk").cast("long").as("rk"), col(idCol),
        round(col("__logw"), 4).as("logw"), round(col("__key"), 4).as("score"))
  }
}
