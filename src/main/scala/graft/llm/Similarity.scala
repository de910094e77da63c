package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exactness baseline, and a random-hyperplane LSH
  * variant as the scale path (bucketed candidate generation → only
  * same-bucket pairs are scored).
  *
  * Determinism: all arithmetic is float32-exactly-widened-to-double with
  * left-to-right summation, so an oracle engine reproducing the same fold
  * produces bit-identical doubles. The LSH hyperplanes are ±1 components
  * derived from md5 (see [[hyperplanes]]) — a pure function of (plane,
  * component) index that any engine can restate.
  */
object Similarity {

  /** Left-fold double dot product via the native codegen'd expression
    * (graft.expressions.DotProduct) — identical semantics to
    * `aggregate(zip_with(...))` but it stays inside whole-stage codegen,
    * which is the difference between interpreted HOF folds and a primitive
    * loop on an all-pairs similarity join. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.expressions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity given two vectors and their precomputed norms
    * (precompute norms per row *before* any join — at 100 TB you don't
    * recompute a norm once per candidate pair). */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Top-`k` most similar vector pairs in the corpus — all-pairs scoring.
    * EXACTNESS BASELINE, test-only: the pair join is a cartesian product
    * with a filter and never finishes at corpus scale. The production
    * near-duplicate report is [[nearDupPairsLsh]]; LlmSpec uses this one
    * as its oracle on small data. */
  def topSimilarPairs(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val a = n.select(col("vid").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = n.select(col("vid").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
    // distributed top-k (TakeOrderedAndProject: per-partition heads merged
    // on the driver) instead of a global rank window, which would sort the
    // full pair set on a single partition; ranks attach to the k survivors
    pairs
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos").desc, col("id_a"), col("id_b"))).cast("long"))
      .select(col("rk"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Brute-force cosine k-NN: for each query vector, the `k` nearest
    * corpus vectors (self excluded). The query side is broadcast — the
    * corpus side streams through in one pass, no shuffle of the big side. */
  def knnBrute(emb: DataFrame, idCol: String, vecCol: String, queryPred: Column, k: Int): DataFrame = {
    // queryPred references the normalized id column "vid"
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val q = n.filter(queryPred)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    n.crossJoin(broadcast(q))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", round(cosineWithNorms(col("qv"), col("v"), col("qn"), col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vid"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vid").as("neighbor_id"), col("cos"))
  }

  /** IVF-flat approximate k-NN: corpus vectors are inverted-listed under
    * their nearest centroid; a query probes its `nprobe` nearest lists and
    * exact cosine re-ranks the candidates.
    *
    * `centroids` is the coarse quantizer — (cid, cvec) rows, normally
    * k-means output; any deterministic seeding works and the oracle entry
    * seeds with the first-nlist vectors. Scale shape: the centroid model
    * (O(nlist·dim)) is a task literal; assignment is a shuffle-free
    * per-row argmax fold ([[assignToCenters]] — no join, no agg); the
    * probe join is an equi-join on cid whose right side shrank to
    * ~|corpus|/nlist·nprobe. */
  def knnIvf(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int,
      centroids: DataFrame,
      nprobe: Int = 2): DataFrame = {
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    // the coarse quantizer is a model object (O(nlist·dim)) — pull it to
    // the driver once and ride it into every task as a literal, so
    // assignment is a per-row argmax with NO join and NO shuffle (the
    // former broadcast-fanout + groupBy(vid) reshuffled the whole corpus)
    val model = collectCenters(centroids)
    val assigned = assignToCenters(n, model, prec = 6)
      .select(col("vid"), col("v"), col("nrm"), col("cid"))
    // probes: the nprobe best centroids per query vector — same literal
    // centers model, ranked per row by a sort+slice over the (−sim, cid)
    // struct array (desc sim, cid tiebreak — the row_number order) and
    // exploded. No join, no window, no exchange anywhere on the model side.
    val centersLit = typedlit(model)
    val simStructs = transform(centersLit, ct => struct(
      (-round(cosineWithNorms(col("v"), ct.getField("_2"), col("nrm"), ct.getField("_3")), 6))
        .as("negsim"),
      ct.getField("_1").as("cid")))
    val topProbes = slice(array_sort(simStructs), 1, nprobe)
    val probes = n.filter(queryPred)
      .withColumn("__pc", explode(topProbes))
      .select(col("vid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("__pc.cid").as("cid"))
    assigned.join(probes, "cid")
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", round(cosineWithNorms(col("qv"), col("v"), col("qn"), col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vid"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vid").as("neighbor_id"), col("cos"))
  }

  /** Driver-side centers model from a (cid, cvec) DataFrame: (cid, vector,
    * norm) sorted by cid ascending. The norm is the same left-to-right
    * double fold [[norm]] computes, so literal-side and column-side
    * arithmetic agree bit-for-bit. */
  private[graft] def collectCenters(centroids: DataFrame): Seq[(Int, Array[Double], Double)] =
    centroids.select(col("cid").cast("int"), col("cvec").cast("array<double>"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getInt(0), v, math.sqrt(v.map(x => x * x).sum))
      }.toSeq.sortBy(_._1)

  /** Nearest-center assignment as a pure per-row expression: a left fold
    * over the literal centers array — argmax of rounded cosine, first
    * (lowest-cid) winner on ties, matching `max_by(cid, (sim, -cid))`.
    * ZERO shuffle: no join, no aggregation — the centers are a literal in
    * the task binary, each row computes its own argmax. At 100 TB this is
    * the difference between a free map pass and reshuffling the corpus
    * once per call (×11 passes in the trainer). Input df needs (vid, v,
    * nrm); output adds (cid, cos). */
  private[graft] def assignToCenters(
      df: DataFrame, centers: Seq[(Int, Array[Double], Double)], prec: Int): DataFrame = {
    val centersLit = typedlit(centers)
    val best = aggregate(
      centersLit,
      struct(lit(-1).as("cid"), lit(Double.NegativeInfinity).as("cos")),
      (acc, ct) => {
        val sim = round(
          dot(col("v"), ct.getField("_2")) / (col("nrm") * ct.getField("_3")), prec)
        when(sim > acc.getField("cos"),
          struct(ct.getField("_1").as("cid"), sim.as("cos"))).otherwise(acc)
      })
    df.withColumn("best", best)
      .withColumn("cid", col("best.cid"))
      .withColumn("cos", col("best.cos"))
      .drop("best")
  }

  // ------------------------------------------------------------ LSH ANN

  /** JVM-side md5-derived bit, identical to TextOps.h60(s) % 2. */
  private def h60bit(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(d.substring(0, 15), 16) % 2).toInt
  }

  /** `planes` random hyperplanes of ±1 components for `dim` dimensions,
    * derived deterministically from md5("h:j") so the oracle can embed the
    * identical literals. */
  def hyperplanes(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(h => (0 until dim).map(j => (2 * h60bit(s"$h:$j") - 1).toDouble))

  /** Sign-bucket of a vector under the hyperplane family: bit h is set when
    * dot(v, plane_h) >= 0. Vectors in the same bucket are ANN candidates. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, h) =>
      val d = dot(v, typedlit(p))
      when(d >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Seeded hyperplane family `f` — same construction as [[hyperplanes]]
    * in a per-family md5 namespace, so families are independent. */
  def hyperplanesSeeded(family: Int, planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(h => (0 until dim).map(j => (2 * h60bit(s"f$family:$h:$j") - 1).toDouble))

  /** Scale-path near-duplicate report: banded sign-LSH candidate
    * generation + exact cosine re-rank (the minhash-band pattern applied
    * to random-hyperplane signatures). A pair is a candidate when its
    * vectors share a sign-bucket under ANY of the `families` independent
    * hyperplane families; candidates get exact cosine and the global top-k
    * survives.
    *
    * Plan shape at 100 TB: the bucket table is narrow (id, family, bucket
    * — no vectors), the pair join is an equi-join on (family, bucket), and
    * vectors are fetched for the ~linear candidate set via two id
    * equi-joins. No cartesian anywhere; recall is the standard LSH
    * trade-off (1-(1-p^planes)^families per pair) — LlmSpec pins 100%
    * recall on planted near-duplicates, which is the workload this report
    * exists for. */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * assign every vector to its nearest centroid, compare pairs only
    * WITHIN a cluster, and mark a document a duplicate when some lower-id
    * cluster-mate's cosine reaches `threshold` (rounded to 6, per the
    * house float-boundary convention; min such id becomes `dup_of`, the
    * kept representative).
    *
    * Scale shape (100 TB): the centroid model is a task literal — the
    * assignment pass is shuffle-free ([[assignToCenters]]); the pair
    * comparison is an equi-join on cid, so its cost is Σ|cluster|², the
    * SemDeDup design point — k is chosen so clusters are ~10³ vectors
    * regardless of corpus size (k ≈ n/10³), keeping per-cluster pairwork
    * bounded and embarrassingly parallel. No cartesian, no all-pairs.
    * Output: (vec_id, cid, dup_of, is_dup) for every input vector.
    */
  /** Embedding-space OUTLIER detection — the curation pass that drops
    * mis-embedded / out-of-domain vectors before clustering-based dedup
    * or sampling: assign each vector to its nearest literal centroid
    * (the shuffle-free argmax fold [[assignToCenters]] — the corpus
    * never moves), then flag vectors whose cosine-to-own-center sits
    * `zThreshold` sample deviations below the cluster mean.
    *
    * Cross-engine determinism: the per-cluster moments are EXACT
    * integer sums of the 1e-6-scaled cosines (one partial+final agg on
    * ≤ nlist keys, broadcast back), and the z-score is one fixed double
    * expression over those integers — no accumulation-order float
    * drift anywhere. Degenerate clusters (size < 2 or zero variance)
    * score z = 0.
    *
    * Output: (vid, cid, cos, z, outlier). */
  def embedOutliers(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val model = collectCenters(centroids)
    val assigned = assignToCenters(n, model, prec = 6)
      .select(col("vid"), col("cid"),
        round(col("cos") * 1000000L).cast("long").as("c6"))
    val stats = assigned.groupBy("cid").agg(
      count(lit(1)).as("n"),
      sum(col("c6")).as("s"),
      sum(col("c6") * col("c6")).as("ss"))
    val cntD = col("n").cast("double")
    val sD = col("s").cast("double")
    val ssD = col("ss").cast("double")
    val c6D = col("c6").cast("double")
    val num = cntD * ssD - sD * sD
    val z = when(col("n") < 2 || num <= 0, lit(0.0))
      .otherwise((c6D - sD / cntD) / sqrt(num / (cntD * (cntD - 1))))
    assigned.join(broadcast(stats), "cid")
      .select(col("vid"), col("cid"),
        (col("c6") / 1000000.0).as("cos"),
        round(z, 6).as("z"),
        (round(z, 6) <= -zThreshold).as("outlier"))
  }

  /** Candidate (id_a < id_b) pairs within groups, with a HOT-GROUP GUARD —
    * the vector-space analog of the text path's heavy-shingle demotion
    * (Dedup.heavyShingles): uncapped within-group pairing is Σ|group|², and
    * real web corpora DO contain exact-duplicate embedding mega-clusters
    * (boilerplate pages, mirrors — all embed identically), so the largest
    * bucket/cell is quadratic exactly where duplication is densest.
    *
    * Groups of size ≤ `maxGroup` pair exhaustively (the cold path —
    * unchanged semantics). A group above the cap instead pairs every member
    * against `anchors` deterministic representatives: the group's min-id
    * member plus `anchors-1` hash-argmin members (min over
    * xxhash64(vid, j) — seeded, RNG-free, engine-restatable). Work per hot
    * group drops from |g|²/2 to |g|·anchors.
    *
    * Recall bound (documented, by construction): a hot-group pair survives
    * iff one side is an anchor. For the motivating case — an
    * exact-duplicate cluster, where every pair qualifies — star pairing
    * through the min-id anchor preserves the full dedup verdict (every
    * member links to the min id, which IS the uncapped canonical). For
    * merely-similar hot groups the guard trades tail pairs for boundedness,
    * the same trade heavy-shingle demotion makes on posting lists.
    *
    * Plan shape: one partial+final size agg, a broadcast of the hot-group
    * list (≤ |members|/maxGroup rows by pigeonhole), a broadcast of the
    * anchor table (hot groups × anchors rows), and the cold self-join.
    * Pairs may repeat across the two branches' callers (min-aggs absorb
    * them); callers that need uniqueness apply distinct(). */
  private[graft] def boundedGroupPairs(
      members: DataFrame,
      groupCols: Seq[String],
      maxGroup: Int,
      anchors: Int,
      totalHint: Option[Long] = None): DataFrame = {
    require(maxGroup > 0 && anchors > 0, "need positive maxGroup/anchors")
    val gc = groupCols.map(col)
    val joinCond = groupCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.vid") < col("b.vid")
    def exhaustive = members.as("a").join(members.as("b"), joinCond)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
    // a corpus no bigger than the cap cannot contain a hot group — callers
    // that already counted (for plane scaling) pass the count so small
    // inputs skip even the detection agg
    if (totalHint.exists(_ <= maxGroup)) return exhaustive
    // detect hot groups with ONE partial+final size agg and a driver
    // collect that is ≤ |members|/maxGroup rows BY PIGEONHOLE (same
    // bounded-intake argument as heavyShingles' ≤heavyLimit collect). The
    // healthy-data case — no group over the cap — then short-circuits to
    // the plain exhaustive self-join with zero extra plan nodes, so the
    // guard costs one cheap agg job when it doesn't fire.
    val hotRows = members.groupBy(gc: _*).agg(count(lit(1)).as("__gn"))
      .filter(col("__gn") > maxGroup).drop("__gn").collect()
    if (hotRows.isEmpty) return exhaustive
    val hot = members.sparkSession
      .createDataFrame(java.util.Arrays.asList(hotRows: _*),
        org.apache.spark.sql.types.StructType(
          groupCols.map(c => members.schema(c))))
      .withColumn("__hot", lit(true))
    val tagged = members.join(broadcast(hot), groupCols, "left")
    val cold = tagged.filter(col("__hot").isNull).drop("__hot")
    val coldPairs = cold.as("a").join(cold.as("b"), joinCond)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
    val hotM = tagged.filter(col("__hot").isNotNull).drop("__hot")
    // anchor 0 is the min id (the canonical under the min-id dedup rule);
    // the rest are hash-argmins — struct min orders by (hash, vid), so each
    // is a uniform deterministic draw from the group
    val anchorAggs = min(col("vid")).as("__a0") +: (1 until anchors).map(j =>
      min(struct(xxhash64(col("vid"), lit(j)).as("h"), col("vid").as("v")))
        .getField("v").as(s"__a$j"))
    val anchorTbl = hotM.groupBy(gc: _*).agg(anchorAggs.head, anchorAggs.tail: _*)
    val anchorLong = anchorTbl
      .select(gc :+ explode(array((0 until anchors).map(j => col(s"__a$j")): _*)).as("__anchor"): _*)
      .distinct() // hash-argmins can coincide on small hot groups
    val hotPairs = hotM.join(broadcast(anchorLong), groupCols)
      .filter(col("vid") =!= col("__anchor"))
      .select(least(col("vid"), col("__anchor")).as("id_a"),
        greatest(col("vid"), col("__anchor")).as("id_b"))
    coldPairs.unionByName(hotPairs)
  }

  /** SemDeDup within-cluster dedup. `maxCell`/`cellAnchors` bound a hot
    * k-means cell (an exact-duplicate mega-cluster collapses into one
    * centroid's cell) via [[boundedGroupPairs]] — below the cap the pairing
    * is exhaustive and exactly the published SemDeDup rule. Assignment
    * (a shuffle-free literal-centers argmax) is recomputed per use rather
    * than cached: at 100 TB the assignment scan is the one table you must
    * never pin, and recomputing beats spilling it (same argument as the
    * unpersisted PPJoin prefix index in Dedup.ngramCandidates). */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      prec: Int = 6,
      maxCell: Int = 4096,
      cellAnchors: Int = 8): DataFrame = {
    val n = emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"), norm(col(vecCol)).as("nrm"))
    val model = collectCenters(centroids)
    val asg = assignToCenters(n, model, prec = prec)
      .select(col("vid"), col("v"), col("nrm"), col("cid"))
    // emb.count() is a column-pruned metadata-cheap job; when the corpus is
    // under the cap it saves the whole assignment-scan detection agg
    val pairs = boundedGroupPairs(asg.select("cid", "vid"), Seq("cid"), maxCell, cellAnchors,
      totalHint = Some(emb.count()))
    // candidate pairs are id-keyed and narrow; the vectors join back on the
    // fine-grained id keys (better distributed than riding the few-key cid
    // self-join), and duplicate hot-path pairs are absorbed by the min-agg
    val dups = pairs
      .join(asg.select(col("vid").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(asg.select(col("vid").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .filter(round(cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")), prec)
        >= lit(threshold))
      .groupBy(col("id_b").as("vid"))
      .agg(min(col("id_a")).as("__dup_of"))
    asg.select("vid", "cid").join(dups, Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cid"),
        coalesce(col("__dup_of"), col("vid")).as("dup_of"),
        col("__dup_of").isNotNull.as("is_dup"))
  }

  def nearDupPairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      families: Int = 4,
      planesPerFamily: Int = 6,
      dim: Int = 64,
      maxBucket: Int = 4096,
      bucketAnchors: Int = 8,
      targetBucket: Int = 64): DataFrame = {
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    // Scale-aware bucket granularity: with a FIXED plane count, expected
    // bucket size is N/2^planes — linear in the corpus — and within-bucket
    // pair volume Σ|b|² grows quadratically no matter how healthy the data
    // is (measured: 5.6×/decade at sf1 before this). Growing the plane
    // count with N keeps E[|bucket|] ≈ targetBucket, so candidate volume is
    // ~N·targetBucket·families/2 — linear. `planesPerFamily` is the floor
    // (below ~2^planes·targetBucket vectors nothing changes, so the
    // gate-scale oracles, which embed the floor's hyperplane literals,
    // stay exact); recall per family is the standard LSH trade-off and the
    // `families` OR-banding is the recall lever that scales with it. The
    // count() is one cheap column-pruned job, same pattern as the text
    // path's numDocs. Exact-duplicate clusters are unsplittable by ANY
    // hyperplane (identical vectors share every sign) — those stay for the
    // maxBucket/anchor guard below.
    val nVec = emb.count()
    val effPlanes = {
      val needed = math.ceil(
        math.log(math.max(1.0, nVec.toDouble / targetBucket)) / math.log(2.0)).toInt
      math.max(planesPerFamily, needed)
    }
    val famBuckets = (0 until families).map { f =>
      struct(lit(f).as("fam"), lshBucket(col("v"), hyperplanesSeeded(f, effPlanes, dim)).as("bucket"))
    }
    // narrow signature table; persisted because it feeds an aliased
    // self-join (both branches would otherwise recompute the signatures —
    // and it is the only state this operator materializes)
    val buckets = n.select(col("vid"), explode(array(famBuckets: _*)).as("fb"))
      .select(col("vid"), col("fb.fam").as("fam"), col("fb.bucket").as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-bucket guard: a bucket above `maxBucket` pairs members against
    // deterministic anchors instead of exhaustively (see boundedGroupPairs)
    // — an exact-duplicate embedding mega-cluster lands in ONE bucket of
    // every family and would otherwise cost |cluster|²/2 per family
    val cand = boundedGroupPairs(buckets, Seq("fam", "bucket"), maxBucket, bucketAnchors,
        totalHint = Some(nVec))
      .distinct()
    val scored = cand
      .join(n.select(col("vid").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(n.select(col("vid").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cos", round(cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
    val topk = scored
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos").desc, col("id_a"), col("id_b"))).cast("long"))
      .select(col("rk"), col("id_a"), col("id_b"), col("cos"))
    // the top-k result is tiny: pin it eagerly and release the bucket cache
    // so repeated invocations don't accumulate signature tables
    val out = topk.localCheckpoint(true)
    buckets.unpersist(false)
    out
  }

  /** LSH-bucketed approximate k-NN: candidates are corpus vectors sharing
    * the query's sign-bucket; exact cosine ranks within the bucket. With B
    * buckets the scored pairs shrink ~B× versus brute force, and the join
    * is a plain equi-join on the bucket key (shuffle keyed by bucket —
    * skew-safe for moderate `planes` counts, AQE handles the rest).
    *
    * `planes` is a FLOOR: like [[nearDupPairsLsh]], the effective plane
    * count grows as ceil(log2(N/targetBucket)) so candidates per query
    * stay ~targetBucket as the corpus grows instead of ~N/2^planes
    * (at gate/bench scales the floor wins and results are unchanged —
    * the static oracle embeds the floor's hyperplane literals). */
  def knnLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int,
      planes: Int = 8,
      dim: Int = 64,
      targetBucket: Int = 64): DataFrame = {
    val effPlanes = {
      val nVec = emb.count()
      val needed = math.ceil(
        math.log(math.max(1.0, nVec.toDouble / targetBucket)) / math.log(2.0)).toInt
      math.max(planes, needed)
    }
    val hp = hyperplanes(effPlanes, dim)
    val n = emb.select(col(idCol).as("vid"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"), lshBucket(col(vecCol), hp).as("bucket"))
    val q = n.filter(queryPred)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    n.join(broadcast(q), Seq("bucket"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", round(cosineWithNorms(col("qv"), col("v"), col("qn"), col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vid"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vid").as("neighbor_id"), col("cos"))
  }

  // --------------------------------------------------------- k-means(||)

  /** Spherical k-means trainer for the IVF coarse quantizer, seeded
    * k-means||-style (Bahmani et al., VLDB 2012) and refined with
    * DataFrame-only Lloyd iterations — the missing piece that lets
    * [[knnIvf]] run from data-derived centroids instead of caller-supplied
    * seeds.
    *
    * Scale shape (the 100 TB audit):
    *  - assignment is SHUFFLE-FREE: centers ride into every task as a
    *    literal and each row folds its own argmax ([[assignToCenters]]) —
    *    no join, no aggregation, the corpus never moves;
    *  - each oversampling round is one map pass + threshold sampling on a
    *    deterministic xxhash64 uniform (no `rand()`, so retries/
    *    speculation can't skew the sample);
    *  - the candidate set (≤ 1 + rounds·oversample points) collapses to k
    *    on the driver with weighted k-means++ — the same
    *    collect-the-tiny-side trade as a broadcast join's build side;
    *  - each Lloyd iteration is the map-pass assignment followed by a
    *    per-(cid, dimension) partial-aggregated sum: `posexplode`
    *    multiplies ROWS only before the map-side combine — the shuffle
    *    carries k·dim partial sums per partition, not data;
    *  - empty clusters keep their previous center.
    *
    * Cosine (spherical) assignment matches [[knnIvf]]'s probe metric.
    * Deterministic for a fixed (data, k, seed): sampling and all argmax
    * tie-breaks hash or order on the vector id.
    *
    * Returns (cid int, cvec array<double>) ready to pass to [[knnIvf]].
    * Note the correctness-gate query q_knn_ivf keeps its deterministic
    * first-n seeds — a trained quantizer cannot be restated in the SQL
    * oracle — so the trainer's quality is pinned by KMeansSpec's
    * recall@10-on-planted-clusters bound instead. */
  def kmeansTrain(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int = 8,
      rounds: Int = 3,
      oversample: Int = 0,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, "k-means needs k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val ell = if (oversample > 0) oversample else 2 * k
    val callerPersisted = emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val n = emb.select(col(idCol).cast("string").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0)
    val cached =
      if (callerPersisted) n
      else n.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    /** Per point: (vid, v, nrm, cid of best center, its cosine) — the
      * shuffle-free literal-fold assignment (see [[assignToCenters]]). */
    def assign(cs: Seq[Array[Double]]): DataFrame =
      assignToCenters(
        cached,
        cs.zipWithIndex.map { case (v, i) =>
          (i, v, math.sqrt(v.map(x => x * x).sum)) },
        prec = 9)

    // ---- k-means|| oversampling: first center = min-hash point, then
    // `rounds` passes sampling each point with prob ~ ell * d^2 / sum(d^2)
    // where d^2 is the spherical distance to the nearest current candidate
    val c0 = cached
      .withColumn("h", xxhash64(col("vid"), lit(seed)))
      .orderBy(col("h"), col("vid")).limit(1)
      .select("v").as[Array[Double]].head()
    var cands = scala.collection.immutable.Vector[Array[Double]](c0)
    for (r <- 1 to rounds) {
      val a = assign(cands)
        .withColumn("d2", greatest(lit(0.0), lit(1.0) - col("cos")))
      val sum = a.agg(org.apache.spark.sql.functions.sum("d2")).head().getDouble(0)
      if (sum > 0) {
        val u = (pmod(xxhash64(col("vid"), lit(seed + r)), lit(1000000000L))
          .cast("double") / 1e9)
        val picked = a.filter(u < lit(ell.toDouble) * col("d2") / lit(sum))
          .select("v").as[Array[Double]].collect()
        cands = cands ++ picked
      }
    }
    // weights: how many points each candidate currently owns
    val weights = assign(cands).groupBy("cid").agg(count(lit(1)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val seeds = localWeightedKMeansPlusPlus(
      cands.toArray, cands.indices.map(i => weights.getOrElse(i, 0L).toDouble.max(1.0)).toArray,
      k, seed)

    // ---- distributed Lloyd refinement
    var centers = seeds
    val dim = centers(0).length
    for (_ <- 1 to iterations) {
      val a = assign(centers.toIndexedSeq)
      val sums = a.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(org.apache.spark.sql.functions.sum("x").as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val acc = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      sums.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        acc(c)(p) = r.getDouble(2); cnt(c) = r.getLong(3)
      }
      centers = Array.tabulate(k) { c =>
        if (cnt(c) == 0) centers(c) // empty cluster keeps its center
        else acc(c).map(_ / cnt(c))
      }
    }
    if (!callerPersisted) cached.unpersist(false)
    centers.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("cid", "cvec")
  }

  /** Driver-side weighted k-means++ over the (tiny) k-means|| candidate
    * set — the standard recluster step (MLlib does the same locally).
    * Deterministic: seeding hashes indices, Lloyd runs a fixed 20 rounds
    * with index tie-breaks. */
  private[llm] def localWeightedKMeansPlusPlus(
      pts: Array[Array[Double]], w: Array[Double], k: Int, seed: Long): Array[Array[Double]] = {
    val m = pts.length
    if (m <= k) return Array.tabulate(math.max(k, 1))(i => pts(math.min(i, m - 1)).clone())
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val c = if (na == 0 || nb == 0) 0.0 else s / math.sqrt(na * nb)
      math.max(0.0, 1.0 - c)
    }
    // deterministic pseudo-uniforms from a splitmix-style hash of the step
    def uni(step: Int): Double = {
      var z = seed + 0x9e3779b97f4a7c15L * (step + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Int](0)
    val minD = Array.tabulate(m)(i => d2(pts(i), pts(0)))
    var step = 0
    while (chosen.size < k) {
      step += 1
      val total = minD.indices.map(i => w(i) * minD(i)).sum
      val target = uni(step) * total
      var accu = 0.0; var pick = -1; var i = 0
      while (i < m && pick < 0) {
        accu += w(i) * minD(i)
        if (accu >= target && !chosen.contains(i)) pick = i
        i += 1
      }
      if (pick < 0) pick = (0 until m).find(!chosen.contains(_)).getOrElse(0)
      chosen += pick
      var j = 0
      while (j < m) { val d = d2(pts(j), pts(pick)); if (d < minD(j)) minD(j) = d; j += 1 }
    }
    // weighted Lloyd over the candidates
    var centers = chosen.map(pts(_).clone()).toArray
    for (_ <- 1 to 20) {
      val acc = Array.fill(k)(new Array[Double](pts(0).length))
      val cw = new Array[Double](k)
      var i = 0
      while (i < m) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val d = d2(pts(i), centers(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        var p = 0
        while (p < pts(i).length) { acc(best)(p) += w(i) * pts(i)(p); p += 1 }
        cw(best) += w(i)
        i += 1
      }
      centers = Array.tabulate(k)(c =>
        if (cw(c) == 0) centers(c) else acc(c).map(_ / cw(c)))
    }
    centers
  }
}
