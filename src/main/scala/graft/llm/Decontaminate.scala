package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Benchmark decontamination — the training-data pipeline step that flags
  * documents overlapping an evaluation/benchmark set before training, so
  * test data never leaks into the corpus (the n-gram–overlap method used
  * by the GPT-3/PaLM/Llama decontamination appendices: a document is
  * contaminated when it shares ≥ `minOverlap` distinct word n-grams with
  * any benchmark document).
  *
  * Scale shape: the benchmark side (eval sets — tiny by definition)
  * BROADCASTS its per-document-distinct gram hashes; the corpus side
  * explodes to (id, gramHash) and map-side joins — the only shuffle in
  * the whole plan is the final per-pair aggregate, which sees only
  * matching rows (≈ contamination volume, not corpus volume). Per-doc
  * gram dedup happens inside the fused ShingleHashes pass (a free
  * partition-local op), so the aggregate is a plain count — no Expand
  * for count(DISTINCT), no cross-corpus distinct shuffle (at 100 TB that
  * distinct would be the bottleneck; measured 1.3× end-to-end even at
  * sf0.1). `maxGramDf` drops benchmark grams appearing in more than that
  * many benchmark documents — boilerplate n-grams (licenses, headers)
  * otherwise fan out the join; the cap is an explicit parameter, never
  * silent.
  *
  * Tokenization matches the repo-wide oracle convention: lower, trim,
  * split on whitespace runs, drop empty tokens.
  */
object Decontaminate {

  def contamination(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minOverlap: Long = 1L,
      maxGramDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1, "n-gram size must be positive")
    // grams travel as 60-bit md5-derived hashes (the repo-wide h60, which
    // the oracle reproduces exactly), produced by the fused ShingleHashes
    // expression in one partition-local JVM pass: tokenize → n-shingle →
    // per-document distinct → sorted long array. Exploding longs and
    // joining on a long key beats building every gram string through
    // interpreted HOF trees and hash-joining on strings (measured 1.5× on
    // q_decontaminate at sf0.1); at 100 TB it also shrinks the broadcast
    // (8 bytes/gram vs the gram text) and the exploded corpus rows.
    // strict mode: sub-n-token documents contribute nothing (they cannot
    // share an n-gram), matching the oracle's empty range over short docs.
    def grams(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), explode(ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(textCol)), n, distinct = true,
        wholeDocIfShort = false))).as("gram"))
    // (bench_id, gram) pairs are already distinct per document; no extra
    // cross-document distinct is needed (ids differ across documents)
    val bg0 = grams(bench, "bench_id")
    val bg =
      if (maxGramDf == Long.MaxValue) bg0
      else bg0.join(
        bg0.groupBy("gram").agg(count(lit(1)).as("__bdf"))
          .filter(col("__bdf") <= maxGramDf).select("gram"),
        "gram")
    grams(docs, "doc_id").join(broadcast(bg), "gram")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Span-level ("surgical") decontamination — instead of dropping a
    * contaminated document wholesale, cut out the contaminated token
    * spans and keep the clean fragments (the Llama-style appendix
    * treatment: a long document sharing one benchmark passage loses the
    * passage, not its other 50k tokens). Output one row per surviving
    * fragment: (idCol, frag_idx, frag_text, n_tok), where clean documents
    * pass through as fragment 0 and fragments are in the repo-wide
    * NORMALIZED token space (lowercased, whitespace-collapsed — the same
    * tokenization every scorer here uses).
    *
    * Semantics: a document is contaminated when [[contamination]] flags
    * it (≥ `minOverlap` distinct shared n-grams with some benchmark doc);
    * in a contaminated document every token covered by ANY benchmark-
    * shared n-gram — widened by `margin` tokens each side — is removed,
    * and each maximal clean run of ≥ `minKeepTokens` tokens survives as
    * a fragment, numbered in document order.
    *
    * Scale shape: the corpus-wide work stays the [[contamination]] pass
    * (fused distinct-gram expression + broadcast bench join). Only the
    * CONTAMINATED documents — contamination volume, not corpus volume —
    * take the positional path: per-position gram hashes, a broadcast
    * join against the bench gram set, one groupBy(id) for the bad
    * position list, then pure per-row column folds (coverage mask,
    * gaps-and-islands run building) with no further shuffle. Clean
    * documents rejoin via one broadcast anti-join. */
  def decontaminateSpans(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      margin: Int = 0,
      minKeepTokens: Int = 1,
      minOverlap: Long = 1L,
      maxGramDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1, "n-gram size must be positive")
    require(margin >= 0, "margin must be >= 0")
    require(minKeepTokens >= 1, "minKeepTokens must be >= 1")
    val contIds = contamination(docs, bench, idCol, textCol, n, minOverlap, maxGramDf)
      .select(col("doc_id").as(idCol)).distinct()
    // bench gram SET (distinct across the whole benchmark, df-capped like
    // contamination's join side)
    val bgPerDoc = bench.select(col(idCol).as("bench_id"),
      explode(ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(textCol)), n, distinct = true,
        wholeDocIfShort = false))).as("gram"))
    val bg = (if (maxGramDf == Long.MaxValue) bgPerDoc
      else bgPerDoc.join(
        bgPerDoc.groupBy("gram").agg(count(lit(1)).as("__bdf"))
          .filter(col("__bdf") <= maxGramDf).select("gram"),
        "gram")).select("gram").distinct()
    // positional path: contaminated docs only. The id set is usually tiny
    // (contamination volume) but is NOT bounded by construction — no
    // forced broadcast; AQE broadcasts it when it is in fact small.
    val badPos = positionalGrams(docs.join(contIds, Seq(idCol)), idCol, textCol, n)
      .join(broadcast(bg), "gram")
      .groupBy(idCol).agg(sort_array(collect_set(col("pos"))).as("badPos"))
    fragmentByBadStarts(docs, badPos, idCol, textCol, n, margin, minKeepTokens)
  }

  /** Positional n-grams: one (id, pos, gram) row per n-token window, pos
    * 1-based, gram the repo-wide 60-bit md5-prefix hash (h60 — the oracle
    * restates it exactly). Sub-n-token documents contribute nothing. The
    * NON-distinct [[graft.expressions.ShingleHashes]] pass already emits
    * hashes in position order, so posexplode's index IS the gram start —
    * one fused JVM pass per document (no interpreted md5 HOF), no
    * shuffle. */
  private[graft] def positionalGrams(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    docs.select(col(idCol),
        posexplode(ColumnBridge.column(graft.expressions.ShingleHashes(
          ColumnBridge.expression(col(textCol)), n, distinct = false,
          wholeDocIfShort = false))).as(Seq("pos0", "gram")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("gram"))
  }

  /** Cut documents around bad n-gram START positions and keep the clean
    * fragments: token t is removed iff some bad start p covers it
    * ([p - margin, p + n - 1 + margin]); each maximal surviving run of
    * ≥ `minKeepTokens` tokens becomes an (id, frag_idx, frag_text, n_tok)
    * row, numbered in document order. Documents with no `badPos` row pass
    * through whole (frag_idx 0). `badPos`: (idCol, badPos sorted int
    * array). Affected docs only take the positional fold — pure per-row
    * column work, no shuffle beyond the joins shown. */
  // private[graft] (not [llm]): the streaming parity harness feeds this
  // exact positional surgery with STREAM-derived bad starts
  private[graft] def fragmentByBadStarts(
      docs: DataFrame, badPos: DataFrame, idCol: String, textCol: String,
      n: Int, margin: Int, minKeepTokens: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val cd = docs.select(col(idCol), toks.as("toks"))
      .withColumn("ntok", size(col("toks")))
    // clean-run extraction is ONE fused native sweep per affected doc
    // (graft.expressions.CleanRuns) — the staged coverage-filter +
    // run-append fold (kept below as fragmentByBadStartsStaged, the
    // parity reference) is O(ntok·|badPos|) interpreted plus O(ntok·runs)
    // array copies, and on span-dedup inputs MOST documents take it;
    // fragment text still slices/joins through the same builtins, so
    // output rows are byte-identical
    val fragged = cd.join(badPos, Seq(idCol))
      .select(col(idCol), col("toks"),
        posexplode(ColumnBridge.column(graft.expressions.CleanRuns(
          ColumnBridge.expression(col("ntok")), ColumnBridge.expression(col("badPos")),
          n, margin, minKeepTokens))).as(Seq("frag_idx", "r")))
      .select(col(idCol), col("frag_idx").cast("long").as("frag_idx"),
        array_join(slice(col("toks"), col("r.s"), col("r.l")), " ").as("frag_text"),
        col("r.l").cast("long").as("n_tok"))
    val cleanDocs = docs.join(badPos, Seq(idCol), "left_anti")
      .select(col(idCol), lit(0L).as("frag_idx"),
        array_join(toks, " ").as("frag_text"),
        size(toks).cast("long").as("n_tok"))
      .filter(col("n_tok") >= minKeepTokens)
    fragged.unionByName(cleanDocs)
  }

  /** The staged builtin composition of [[fragmentByBadStarts]] — the
    * parity reference (NativeExprParitySpec pins native ≡ staged). */
  private[graft] def fragmentByBadStartsStaged(
      docs: DataFrame, badPos: DataFrame, idCol: String, textCol: String,
      n: Int, margin: Int, minKeepTokens: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val cd = docs.select(col(idCol), toks.as("toks"))
      .withColumn("ntok", size(col("toks")))
    // token t is removed iff some bad gram start p covers it (with margin)
    val cleanPos = filter(sequence(lit(1), col("ntok")),
      t => !exists(col("badPos"),
        p => t >= p - margin && t <= p + lit(n - 1 + margin)))
    // gaps-and-islands as one fold: runs of consecutive clean positions
    val runs = aggregate(col("cleanPos"),
      expr("CAST(array() AS array<struct<s: INT, l: INT>>)"),
      (acc, t) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 && last.getField("s") + last.getField("l") === t,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              (last.getField("l") + 1).as("l")))))
          .otherwise(concat(acc,
            array(struct(t.as("s"), lit(1).as("l")))))
      })
    val fragged = cd.join(badPos, Seq(idCol))
      .withColumn("cleanPos", cleanPos)
      .withColumn("runs", runs)
      .select(col(idCol), col("toks"),
        posexplode(filter(col("runs"), r => r.getField("l") >= minKeepTokens))
          .as(Seq("frag_idx", "r")))
      .select(col(idCol), col("frag_idx").cast("long").as("frag_idx"),
        array_join(slice(col("toks"), col("r.s"), col("r.l")), " ").as("frag_text"),
        col("r.l").cast("long").as("n_tok"))
    val cleanDocs = docs.join(badPos, Seq(idCol), "left_anti")
      .select(col(idCol), lit(0L).as("frag_idx"),
        array_join(toks, " ").as("frag_text"),
        size(toks).cast("long").as("n_tok"))
      .filter(col("n_tok") >= minKeepTokens)
    fragged.unionByName(cleanDocs)
  }
}
