package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Product quantization for ANN at memory scale (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVF-PQ /
  * ADC construction faiss popularized): each vector splits into `m`
  * subvectors; each subspace gets a `ksub`-codeword codebook; a vector is
  * stored as `m` small codes (m·log2(ksub) bits instead of d floats — at
  * 100 TB of embeddings THIS is what makes the index fit in cluster
  * memory).
  *
  * Spark-first shape, mirroring the repo's coarse-quantizer design:
  *  - TRAIN on a bounded deterministic sample on the driver (the faiss
  *    practice — codebooks are a model object; Lloyd over ≤ sampleMax
  *    subvectors is milliseconds) — the cluster does exactly one pass, the
  *    hash-ordered sample collect;
  *  - ENCODE distributed and shuffle-free: per-row, per-subspace argmin
  *    L2 as a literal fold over the codebook (no join, no aggregation —
  *    PqSpec asserts no Exchange in the plan);
  *  - SEARCH with asymmetric distance computation (ADC): the query builds
  *    its m·ksub inner-product table ONCE as a column, candidates from the
  *    IVF coarse lists score with m array lookups instead of a d-length
  *    dot, and the approx top `k·refine` re-rank exactly.
  */
object Pq {

  /** codebooks(s)(c) = the c-th codeword of subspace s (subdim doubles). */
  case class PqModel(m: Int, ksub: Int, subdim: Int,
      codebooks: Seq[Seq[Seq[Double]]])

  /** Train per-subspace codebooks by Lloyd's algorithm on a deterministic
    * hash-ordered sample (≤ sampleMax vectors — one cluster pass). */
  def pqTrain(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      sampleMax: Int = 65536,
      iterations: Int = 12,
      seed: Long = 42L): PqModel = {
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subdim = dim / m
    // deterministic sample: smallest md5(vid) order, one distributed pass
    val sample = emb
      .select(col(idCol).cast("string").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(concat(col("vid"), lit(seed.toString))))
      .limit(sampleMax)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val rnd = new scala.util.Random(seed)
    val codebooks = (0 until m).map { s =>
      val subs = sample.map(_.slice(s * subdim, (s + 1) * subdim))
      // k-means++-less deterministic seeding: distinct sample rows by index
      // stride; Lloyd with empty-cluster re-seed from the worst point
      var centers = Array.tabulate(ksub)(c => subs(c * subs.length / ksub).clone())
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc
      }
      for (_ <- 0 until iterations) {
        val sums = Array.fill(ksub)(new Array[Double](subdim))
        val cnts = new Array[Long](ksub)
        subs.foreach { p =>
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < ksub) { val d = d2(p, centers(c)); if (d < bd) { bd = d; best = c }; c += 1 }
          var i = 0
          while (i < subdim) { sums(best)(i) += p(i); i += 1 }
          cnts(best) += 1
        }
        centers = Array.tabulate(ksub) { c =>
          if (cnts(c) == 0) subs(rnd.nextInt(subs.length)).clone() // re-seed empties
          else { val v = sums(c); v.map(_ / cnts(c)) }
        }
      }
      centers.map(_.toSeq).toSeq
    }
    PqModel(m, ksub, subdim, codebooks)
  }

  private def cbLit(model: PqModel): Column = typedlit(model.codebooks)

  /** Per-subspace argmin-L2 code assignment — the codebook is a constant
    * inside the native PqCodes expression (graft.expressions.PqCodes): no
    * join, no aggregation, no shuffle, one tight JVM loop per row instead
    * of an interpreted HOF tree. Adds `codes` (array<int>, 0-based
    * codeword per subspace). */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel): DataFrame = {
    df.withColumn("codes", ColumnBridge.column(graft.expressions.PqCodes(
      ColumnBridge.expression(col(vecCol).cast("array<double>")), model.codebooks)))
  }

  /** IVF-PQ k-NN: coarse IVF candidate lists + ADC scoring on PQ codes +
    * exact re-rank of the approx top `k·refine`.
    *
    * Scale shape: both quantizers are task literals (zero model-side
    * shuffle); the probe row carries its m·ksub ADC table computed once;
    * each candidate scores with m array lookups; only the final
    * per-query top-k windows touch a shuffle, on rows that are already
    * ≤ |corpus|·nprobe/nlist per query. */
  def knnIvfPq(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int,
      centroids: DataFrame,
      pq: PqModel,
      nprobe: Int = 2,
      refine: Int = 4): DataFrame = {
    val n = emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"), Similarity.norm(col(vecCol)).as("nrm"))
    val model = Similarity.collectCenters(centroids)
    val assigned = pqEncode(
      Similarity.assignToCenters(n, model, prec = 6)
        .select(col("vid"), col("v"), col("nrm"), col("cid")),
      "v", pq)
      .select(col("vid"), col("v"), col("nrm"), col("cid"), col("codes"))
    // probe side: nprobe coarse lists (sort+slice over the literal model,
    // as knnIvf) + the ADC table — qtab[s*ksub + c] = <q_sub[s], cw[s][c]>
    val centersLit = typedlit(model)
    val simStructs = transform(centersLit, ct => struct(
      (-round(Similarity.cosineWithNorms(col("v"), ct.getField("_2"), col("nrm"), ct.getField("_3")), 6))
        .as("negsim"),
      ct.getField("_1").as("cid")))
    val cb = cbLit(pq)
    val qtab = flatten(transform(sequence(lit(0), lit(pq.m - 1)), s =>
      transform(element_at(cb, s + 1), cw =>
        aggregate(
          zip_with(slice(col("v"), s * pq.subdim + 1, lit(pq.subdim)), cw, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))))
    val probes = n.filter(queryPred)
      .withColumn("__qtab", qtab)
      .withColumn("__pc", explode(slice(array_sort(simStructs), 1, nprobe)))
      .select(col("vid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("__qtab").as("qtab"), col("__pc.cid").as("cid"))
    // ADC: approx <q, v> = Σ_s qtab[s·ksub + codes[s]]
    val approx = aggregate(
      zip_with(sequence(lit(0), lit(pq.m - 1)), col("codes"),
        (s, c) => element_at(col("qtab"), s * pq.ksub + c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val cands = assigned.join(probes, "cid")
      .filter(col("vid") =!= col("query_id"))
      // rounded before ranking (house convention: rank boundaries compare
      // rounded floats + id tiebreaks, never raw doubles)
      .withColumn("__adc", round(approx, 6))
      .withColumn("__ark", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__adc").desc, col("vid"))))
      .filter(col("__ark") <= k * refine)
    cands
      .withColumn("cos", round(
        Similarity.cosineWithNorms(col("qv"), col("v"), col("qn"), col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vid"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vid").as("neighbor_id"), col("cos"))
  }
}
