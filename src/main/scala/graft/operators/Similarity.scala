package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over an `Array[Float]` embedding column:
  * brute-force cosine top-k (the correctness baseline) and a sign-bit
  * LSH-bucketed variant (the scale path).
  *
  * Spark-first design notes (100 TB scale):
  *  - the dot product is a higher-order-function fold (`zip_with` +
  *    `aggregate`) over the vector — pure Tungsten expressions, no UDF,
  *    no Python boundary. (HOFs sit one rung below whole-stage codegen;
  *    if BENCH flags this hot, the upgrade path is a native Catalyst
  *    `Expression` with `doGenCode` over two float arrays.)
  *  - brute-force top-k BROADCASTS the query side: candidates stream
  *    through map-side cosine + per-query top-k; only (query × k) rows
  *    survive to the final shuffle. Never cross-join two large sides.
  *  - the LSH variant buckets on the sign pattern of a fixed dim subset
  *    (axis-aligned random-hyperplane LSH). Bucketing is a narrow
  *    projection; the candidate join is an equi-join on the bucket id, so
  *    work scales with bucket collision counts, not |vectors|².
  *    Recall < 1 by design — the standard ANN trade.
  *  - every float is cast to double BEFORE multiply and the fold runs
  *    left-to-right, making the sum bit-reproducible in any engine with
  *    ordered fold semantics (the DuckDB oracle matches cell-exact).
  */
object Similarity {

  /** Left-to-right double-precision dot product of two float vectors —
    * the portable higher-order-function formulation (kept as the
    * reference baseline; DotProductExprSpec proves the native expression
    * below is bit-identical to it).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. Routed through the native
    * codegen'd [[graft.functions.DotProductExpr]] (same fold order, same
    * bits, no per-element lambda dispatch) — the 100 TB hot path.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.cosineFast(a, b)

  /** Sign-bit LSH bucket: bit j of the bucket id is the sign of
    * component `dims(j)` (axis-aligned hyperplane family).
    */
  def signBucket(vec: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, j) =>
      when(element_at(vec, d + 1) >= 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Derived banded-LSH knobs — see [[lshKnobs]]. */
  final case class LshKnobs(bands: Int, bitsPerBand: Int, maxBucket: Int) {
    def bucketsPerBand: Long = 1L << bitsPerBand
  }

  /** The scale rule for the banded hyperplane LSH, as code instead of
    * prose: `bitsPerBand ≈ log₂(n / targetBucket)` keeps the MEAN bucket
    * occupancy near `targetBucket` as the corpus grows — bucket count
    * must scale with n or the within-bucket self-join reverts to n².
    * The deterministic fan-in cap sits at the next power of two above
    * 32× the target: sign-pattern buckets over correlated embeddings are
    * heavily skewed, so the cap needs real headroom above the mean while
    * still bounding degenerate-bucket work at maxBucket². Bits clamp to
    * what the axis-aligned family supports (dim / bands); past that the
    * documented upgrade is the Rademacher family ([[hyperplaneBands]]).
    *
    * `targetBucket` defaults to 2: a near-dup prefilter wants small
    * precise buckets (the bands supply recall); top-k similarity search
    * raises it for more candidates per query.
    */
  def lshKnobs(corpusSize: Long, dim: Int, bands: Int = 4,
               targetBucket: Int = 2): LshKnobs = {
    require(corpusSize > 0 && bands > 0 && dim >= bands && targetBucket > 0)
    val raw = math.round(
      math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt
    val bits = math.max(1, math.min(dim / bands, raw))
    def nextPow2(x: Int): Int =
      if (x <= 1) 1 else Integer.highestOneBit(x - 1) << 1
    LshKnobs(bands, bits, nextPow2(32 * targetBucket))
  }

  /** Multi-table banded hyperplane LSH — the Dedup.lshBuckets band
    * machinery applied to embeddings: band t buckets on the sign
    * pattern of `bitsPerBand` consecutive components starting at
    * t*bitsPerBand, giving `bands` INDEPENDENT hash tables (a pair is a
    * candidate if it collides in ANY band — multi-probe recall without
    * widening any single table).
    *
    * Scale parameterization (100 TB): bitsPerBand ≈ log₂(n / B) for a
    * target mean bucket size B — bucket count must GROW with the corpus
    * or within-bucket self-join work is n²/2^bits. The axis-aligned
    * family caps total bits at the vector dim; past that, swap
    * [[signBucket]] for a Rademacher family (sign of a deterministic
    * ±1-combination of components) — same banding plumbing.
    */
  def hyperplaneBands(vec: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { t =>
      struct(lit(t).as("band"),
        signBucket(vec, (t * bitsPerBand) until ((t + 1) * bitsPerBand))
          .as("bucket"))
    }: _*)

  /** (id, band, bucket) membership with DETERMINISTIC bounded bucket
    * fan-in: at most `maxBucket` members per (band, bucket), kept by
    * ascending id, so the candidate join's per-bucket work is capped at
    * maxBucket² however skewed the corpus (what production ANN systems
    * do to degenerate buckets). The cap window prunes map-side via
    * WindowGroupLimit.
    */
  def lshMembership(df: DataFrame, idCol: String, vecCol: String,
                    bands: Int, bitsPerBand: Int, maxBucket: Int): DataFrame = {
    val exploded = df.select(col(idCol),
        explode(hyperplaneBands(col(vecCol), bands, bitsPerBand)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    if (maxBucket == Int.MaxValue) exploded
    else {
      val w = Window.partitionBy("band", "bucket").orderBy(col(idCol))
      exploded.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxBucket).drop("__rn")
    }
  }

  /** Distinct undirected candidate pairs (a < b) from banded LSH: an
    * equi-join on (band, bucket) with bounded fan-in — work scales with
    * Σ bucket², never |corpus|². The distinct dedups pairs colliding in
    * several bands before any (expensive) exact scoring.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        bands: Int, bitsPerBand: Int,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val m = lshMembership(df, idCol, vecCol, bands, bitsPerBand, maxBucket)
    m.as("q").join(m.as("c"),
        col("q.band") === col("c.band") &&
          col("q.bucket") === col("c.bucket") &&
          col(s"q.$idCol") < col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("a"), col(s"c.$idCol").as("b"))
      .distinct()
  }

  /** IVF list assignment: each vector goes to its nearest centroid by
    * cosine (rounded before ranking for cross-engine stability, ties on
    * centroid id). `centroids` must be small (broadcast) — in a real
    * deployment it is the trained k-means coarse quantizer; any
    * deterministic seed set works structurally.
    * Output: input columns + `cid` of the owning list.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                vId: String, vecCol: String, roundTo: Int = 6): DataFrame = {
    val scored = vectors.join(
        broadcast(centroids.select(col("cid"), col(vecCol).as("cvec"))))
      .withColumn("ccos", round(cosine(col(vecCol), col("cvec")), roundTo))
    val w = Window.partitionBy(vId).orderBy(col("ccos").desc, col("cid"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .drop("cvec", "ccos", "crank")
  }

  /** IVF probe: for each query, the `nProbe` nearest centroid lists
    * (same rounded-cosine ranking). Output: (qid, cid) probe pairs.
    */
  def ivfProbe(queries: DataFrame, centroids: DataFrame,
               qId: String, vecCol: String, nProbe: Int,
               roundTo: Int = 6): DataFrame = {
    val scored = queries.select(col(qId).as("qid"), col(vecCol).as("qvec"))
      .join(broadcast(centroids.select(col("cid"), col(vecCol).as("cvec"))))
      .withColumn("ccos", round(cosine(col("qvec"), col("cvec")), roundTo))
    val w = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select("qid", "qvec", "cid")
  }

  /** Lloyd k-means over an embedding column — the trainer for the IVF
    * coarse quantizer and a curation tool (cluster-balanced sampling,
    * diversity filtering). Deterministic: seeds are the first k vectors
    * by id; assignment ties break on centroid id.
    *
    * Scale notes: each iteration is one broadcast join (k centroids) +
    * one `groupBy(cid)` aggregation over per-dimension sums — vectors
    * never shuffle; only k×dim floats move. Centroids collect to the
    * driver between iterations (k ≪ data, standard for Lloyd on Spark).
    *
    * @return (assignments DataFrame with `cid`, final centroid map)
    */
  def kmeans(vectors: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): (DataFrame, Map[Int, Array[Double]]) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    var centroids: Map[Int, Array[Double]] = vectors
      .orderBy(idCol).limit(k).select(vecCol).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => i -> v.map(_.toDouble) }.toMap
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      val centDf = centroids.toSeq
        .map { case (cid, v) => (cid, v.map(_.toFloat)) }
        .toDF("cid", "cvec")
      assigned = ivfAssignWith(vectors, centDf, idCol, vecCol)
      val sums = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byC = sums.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        cid -> byC.get(cid).map { rows =>
          val v = old.clone()
          rows.foreach(r => v(r.getInt(1)) = r.getLong(3) match {
            case 0 => old(r.getInt(1))
            case n => r.getDouble(2) / n
          })
          v
        }.getOrElse(old) // empty cluster keeps its centroid
      }
    }
    (assigned, centroids)
  }

  private def ivfAssignWith(vectors: DataFrame, centDf: DataFrame,
                            vId: String, vecCol: String): DataFrame = {
    val scored = vectors.join(broadcast(centDf))
      .withColumn("ccos", round(cosine(col(vecCol), col("cvec")), 6))
    val w = Window.partitionBy(vId).orderBy(col("ccos").desc, col("cid"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .drop("cvec", "ccos", "crank")
  }

  /** Brute-force cosine top-k: for each row of `queries` (small side,
    * broadcast), the `k` nearest `candidates` by cosine. Similarities are
    * rounded to `roundTo` decimals BEFORE ranking so rank order is
    * reproducible across engines; ties break on candidate id.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     qId: String, cId: String, vecCol: String,
                     k: Int, roundTo: Int = 6): DataFrame = {
    val joined = candidates
      .join(broadcast(queries.select(col(qId).as("qid"),
        col(vecCol).as("qvec"))), col("qid") =!= col(cId))
      .select(col("qid"), col(cId).as("nid"),
        round(cosine(col("qvec"), col(vecCol)), roundTo).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication through a
    * k-means clustering instead of LSH — assign every vector to its
    * nearest centroid (round-6 L2, centroid-id tie-break — the exact
    * [[graft.operators.Pq.encodeCodes]] assignment, so a persisted IVF
    * coarse quantizer doubles as the dedup clustering), then compare
    * pairs ONLY within a cluster and drop every vector that has a
    * lower-id neighbor with cosine ≥ `tau` (keep-lowest-id star policy,
    * order-free and deterministic; connected-component canonicalization
    * is q50's separate operator).
    *
    * Scale notes: assignment is a map-side literal-array argmin — no
    * join, no shuffle. The pair stage compares each member against its
    * cluster's ANCHOR set — the lowest `maxCluster` ids (the
    * lshMembership maxBucket discipline, map-side WindowGroupLimit) —
    * so per-cluster work is |cluster|·maxCluster and TOTAL work is
    * O(n·maxCluster), linear however skewed or degenerate the
    * quantizer. With cap ≥ every cluster size this is exactly the
    * paper's semantics (every lower id is an anchor); past the cap the
    * keep-lowest-id policy degrades gracefully — only duplicates whose
    * sole lower-id twin is itself beyond the anchor set survive, the
    * same recall trade the LSH bucket cap makes. (Uncapped pair work
    * with the k = 4·√n coarse rule is ~n^1.5/16 — the paper accepts it
    * by running on fixed 100-cluster splits; a library operator cannot.)
    *
    * Rounding: `roundTo` governs the cosine-vs-tau comparison; the
    * centroid ASSIGNMENT is fixed at round-6 L2² inside
    * [[Pq.encodeCodes]] so one persisted quantizer always clusters
    * identically across IVF serving and dedup.
    *
    * Emits one row per input vector: (id, cid, kept) — `cid` is the
    * caller-supplied centroid id (ordinals from the argmin are mapped
    * back through the cid-sorted lookup, so non-contiguous id sets keep
    * their labels).
    */
  def semanticDedup(corpus: DataFrame, centroids: Seq[(Int, Array[Double])],
                    idCol: String, vecCol: String, tau: Double,
                    roundTo: Int = 6, maxCluster: Int = 256): DataFrame =
    semanticDedupAssigned(
      assignClusters(corpus, centroids, idCol, vecCol),
      idCol, vecCol, tau, roundTo, maxCluster, centroids.size)

  /** The assignment half of [[semanticDedup]]: (input columns + cid),
    * as a shuffle-free projection. n·k·dim work — the SAME one-time
    * cost class as the IVF index build ([[Pq.codeRowsMapSide]]), and
    * like it the output is what a deployment PERSISTS: the paper's
    * pipeline computes the clustering once and sweeps tau over the
    * stored assignment, never re-assigning per run.
    */
  def assignClusters(corpus: DataFrame, centroids: Seq[(Int, Array[Double])],
                     idCol: String, vecCol: String): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val coarse = sorted.map { case (cid, v) => (0, cid, v) }
    val cidLookup = typedLit(sorted.map(_._1))
    corpus
      .withColumn("cid", element_at(cidLookup,
        element_at(Pq.encodeCodes(col(vecCol), coarse), 1) + 1))
      .select(col(idCol), col("cid"), col(vecCol))
  }

  /** The pair half of [[semanticDedup]] over a PRECOMPUTED assignment
    * (id, cid, vec) — e.g. a persisted clustering table. `clusters`
    * is the cluster-id count, used only to size the anchor broadcast
    * decision.
    */
  def semanticDedupAssigned(assignedIn: DataFrame, idCol: String,
                            vecCol: String, tau: Double,
                            roundTo: Int = 6, maxCluster: Int = 256,
                            clusters: Int = 256): DataFrame =
    maxAnchorCosine(assignedIn, idCol, vecCol, roundTo, maxCluster, clusters)
      .select(col(idCol), col("cid"),
        (col("max_anchor_cos").isNull || col("max_anchor_cos") < tau)
          .as("kept"))

  /** The TAU-INDEPENDENT half of the sweep — per member, the maximum
    * (rounded) cosine to any lower-id anchor in its cluster, null when
    * it has none: (id, cid, max_anchor_cos). Every tau threshold is
    * then a pure filter over this aggregate — the Abbas et al.
    * deployment loop sweeps tau over the STORED clustering without
    * re-running assignment or the pair stage per point.
    *
    * Plan shape: the pair stage is the same anchor-capped
    * O(n·maxCluster) equi-join as [[semanticDedupAssigned]]
    * (max-aggregated instead of thresholded), zero argmin work.
    */
  def maxAnchorCosine(assignedIn: DataFrame, idCol: String,
                      vecCol: String, roundTo: Int = 6,
                      maxCluster: Int = 256,
                      clusters: Int = 256): DataFrame = {
    require(maxCluster > 0, "maxCluster must be positive")
    // The assignment feeds three plan branches (anchors, comparand,
    // final output) — without materialization each branch re-derives
    // its input (for an inline assignment, a k·dim argmin per row per
    // branch). localCheckpoint, not persist(): the result is returned
    // lazily so there is no safe unpersist point inside the operator —
    // persist() here leaked a cached plan per call for the JVM
    // lifetime. localCheckpoint materializes eagerly, cuts the lineage,
    // and its blocks are reclaimed by the ContextCleaner once the
    // returned frame is unreachable — no caller-side protocol needed.
    //
    // Norm hoist: `cosine(a, b)` expands to
    // `dotp(a,b) / (sqrt(dotp(a,a)) * sqrt(dotp(b,b)))` — three
    // dim-length loops per PAIR, two of which depend on one side only.
    // Computing `sqrt(dotp(v,v))` once per ROW here (materialized by
    // the checkpoint) and combining as `dotp(a,b) / (na * nb)` is
    // bit-identical (same doubles multiplied in the same order) and
    // cuts the pair-stage flops 3× — the dominant term of the 100×
    // SemDeDup wall (SURVEY §6.2: the max-anchor-cosine scan).
    val assigned = assignedIn
      .withColumn("__norm", sqrt(
        graft.functions.DotProductExpr.dotp(col(vecCol), col(vecCol))))
      .localCheckpoint()
    val wc = Window.partitionBy("cid").orderBy(col(idCol))
    // the anchor frame is deterministically bounded at k·maxCluster
    // rows. Catalyst cannot see that through the Window, so hint the
    // broadcast explicitly while the bound is broadcast-sized — the old
    // un-capped join broadcast its (plain-projection) small side and
    // losing that to an SMJ cost 4× wall at sf0.1; past the bound
    // (huge k at extreme corpus scale) fall back to the cid equi-join.
    // The bound is in ROWS but budgeted in BYTES, and each anchor row's
    // byte cost is DOMINATED BY THE VECTOR — dim·8 for the doubles plus
    // ~64 B of row overhead (UnsafeRow header, id, cid, norm) — so a
    // fixed row count is honest at exactly one dimension (250k rows is
    // ~70 MB at dim 64 but ~1 GB at dim 1024). The guard therefore
    // derives the row bound from the ACTUAL dimension of the data
    // (probed from the already-checkpointed assignment — one cheap
    // single-row job) against a fixed 70 MB byte budget: the explicit
    // hint overrides autoBroadcastJoinThreshold, so it must be honest
    // at every dim, not just the fixture's.
    val anchors0 = assigned
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= maxCluster)
      .select(col("cid"), col(idCol).as("__a"), col(vecCol).as("__avec"),
        col("__norm").as("__anorm"))
    // probe guard: skip null vectors (size(null) would make the row
    // null/-1), coalesce to 0, and when the dim is undeterminable
    // (empty frame or all-null vectors) fall back to a conservative
    // 250k-row cap instead of dividing the budget by the 64-byte
    // overhead alone (which would claim ~1M vector rows broadcast-safe)
    val dim = assigned.filter(col(vecCol).isNotNull)
      .select(coalesce(size(col(vecCol)), lit(0))).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val anchorRowBound =
      if (dim <= 0) 250L * 1000
      else 70L * 1000 * 1000 / (dim.toLong * 8 + 64)
    val anchors =
      if (clusters.toLong * maxCluster <= anchorRowBound) broadcast(anchors0)
      else anchors0
    val b = assigned.select(col("cid"), col(idCol).as("__b"),
      col(vecCol).as("__bvec"), col("__norm").as("__bnorm"))
    val pairCos = graft.functions.DotProductExpr
      .dotp(col("__avec"), col("__bvec")) / (col("__anorm") * col("__bnorm"))
    val pairMax = anchors.join(b, "cid")
      .where(col("__a") < col("__b"))
      .groupBy(col("__b"))
      .agg(max(round(pairCos, roundTo)).as("max_anchor_cos"))
      .select(col("__b").as(idCol), col("max_anchor_cos"))
    assigned.select(col(idCol), col("cid"))
      .join(pairMax, Seq(idCol), "left")
  }

  /** Incremental SemDeDup — the semantic face of the incremental-dedup
    * contract ([[Dedup.incrementalDedup]] is the MinHash face): a small
    * BATCH of new vectors is verdicted against a PERSISTED clustering
    * registry (id, cid, vec — the q86 table) without touching the
    * registry's own kept/dropped state. Each batch vector is assigned
    * to its nearest coarse centroid (the SAME frozen quantizer that
    * built the registry — incremental means no relearn), then compared
    * ONLY against that cell's stored anchors (the `maxCluster`
    * lowest-id members — the same bounded-fan-in contract as the batch
    * pair stage): max rounded cosine, ties to the lowest anchor id.
    * Verdict: `kept = best_cos is null or < tau`; a dropped vector
    * reports `dup_of` = its best anchor.
    *
    * Scale shape (the q98 asymmetry, semantic edition): the batch is
    * small by the incremental contract, so it BROADCASTS twice — its
    * distinct cids semi-join-prune the registry scan (only touched
    * cells are ranked; an un-pruned window would shuffle the whole
    * registry per batch), and the assigned batch broadcasts onto the
    * surviving anchors (≤ maxCluster·|touched cids| rows). Registry
    * vectors never shuffle on anything but their own cid, and only for
    * touched cells. Per-pair flops use the hoisted-norm form
    * (`dotp/(na·nb)`, norms once per row — bit-identical to
    * `cosine()`, 3× fewer loops).
    */
  def incrementalSemanticDedup(batch: DataFrame, registry: DataFrame,
                               centroids: Seq[(Int, Array[Double])],
                               idCol: String, vecCol: String, tau: Double,
                               roundTo: Int = 6,
                               maxCluster: Int = 256): DataFrame = {
    require(maxCluster > 0, "maxCluster must be positive")
    val assigned = assignClusters(batch, centroids, idCol, vecCol)
      .withColumn("__bnorm", sqrt(
        graft.functions.DotProductExpr.dotp(col(vecCol), col(vecCol))))
      .localCheckpoint()
    val touched = assigned.select("cid").distinct()
    val wc = Window.partitionBy("cid").orderBy(col(idCol))
    val anchors = registry
      .join(broadcast(touched), Seq("cid"), "left_semi")
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= maxCluster)
      .select(col("cid"), col(idCol).as("__a"), col(vecCol).as("__avec"),
        sqrt(graft.functions.DotProductExpr
          .dotp(col(vecCol), col(vecCol))).as("__anorm"))
    val pairCos = graft.functions.DotProductExpr
      .dotp(col("__avec"), col(vecCol)) / (col("__anorm") * col("__bnorm"))
    // best anchor per batch row: one struct-max aggregate (max cos,
    // then min anchor id via negation) — partial map-side, never a
    // window over the joined pairs
    val best = anchors
      .join(broadcast(assigned), "cid")
      .groupBy(col(idCol))
      .agg(max(struct(round(pairCos, roundTo).as("c"),
        (-col("__a")).as("na"))).as("__best"))
      .select(col(idCol), col("__best.c").as("best_cos"),
        (-col("__best.na")).as("__besta"))
    // `best` is ≤ one row per batch vector — broadcast-sized by the
    // incremental contract (and invisible to Catalyst through the
    // checkpoint scan, which would otherwise SMJ two tiny frames)
    assigned.select(col(idCol), col("cid"))
      .join(broadcast(best), Seq(idCol), "left")
      .withColumn("kept",
        col("best_cos").isNull || col("best_cos") < tau)
      .select(col(idCol), col("cid"),
        when(!col("kept"), col("__besta")).as("dup_of"),
        col("best_cos"), col("kept"))
  }

  /** The registry's anchor table PACKED one row per cell —
    * (cid, __anchs: array<struct<__a, __avec, __anorm>>), each array
    * ≤ `maxCluster` entries (the same lowest-id anchor contract as
    * [[incrementalSemanticDedup]]). This is the artifact a CONTINUOUS
    * verdict path persists per index version: with the anchors
    * pre-packed, verdicting an arriving vector is a stream-static
    * left join on cid plus a bounded in-row fold — no window, no
    * aggregation, no state (see
    * [[graft.streaming.Streaming.semDedupVerdictStream]]). The batch
    * face keeps its touched-cid pruned window instead: a one-shot
    * batch only pays for the cells it touches, while a long-running
    * stream amortizes packing ALL cells once.
    */
  def packedAnchors(registry: DataFrame, idCol: String, vecCol: String,
                    maxCluster: Int = 256): DataFrame = {
    require(maxCluster > 0, "maxCluster must be positive")
    val wc = Window.partitionBy("cid").orderBy(col(idCol))
    registry
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= maxCluster)
      .select(col("cid"), col(idCol).as("__a"), col(vecCol).as("__avec"),
        sqrt(graft.functions.DotProductExpr
          .dotp(col(vecCol), col(vecCol))).as("__anorm"))
      .groupBy("cid")
      .agg(collect_list(struct(col("__a"), col("__avec"), col("__anorm")))
        .as("__anchs"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) —
    * the diversified-retrieval serving stage production vector stores
    * expose behind plain top-k: greedily pick `k` results from a
    * per-query SHORTLIST, each step maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)` so near-duplicate hits
    * don't crowd the result page.
    *
    * `shortlist` columns: (qid, nid, rel, nvec) — rel already rounded
    * (e.g. [[bruteForceTopK]] output joined back to vectors).
    *
    * Greedy selection is inherently SEQUENTIAL in k, so this is one of
    * the rare genuinely-imperative operators (SURVEY §2 preference
    * order d): a k-round relational formulation would re-shuffle the
    * candidate set k times, while the shortlist already fits a group by
    * the serving contract (|shortlist| ≤ a few dozen per query — the
    * same bound that makes the ANN refine stage cheap). One shuffle on
    * qid, then O(S²·k) local arithmetic per group.
    *
    * Determinism (the q67 integer-micro lesson): λ·rel − (1−λ)·pen with
    * 6-decimal inputs lands ON a 7th-decimal half-way tie for most
    * values (0.7·x shifts a micro grid onto half-micros), exactly where
    * HALF_UP-over-shortest-repr (Spark/JVM) and binary rounding
    * (DuckDB) disagree — so scores never round: λ is taken in TENTHS
    * and the score is the exact integer
    * `lambdaTenths·rel_micro − (10−lambdaTenths)·pen_micro` over
    * micro-unit (×10⁶) cosines. Cosines accumulate in index order as
    * doubles (the engine-parity fold), round to 6 decimals (the one
    * cross-engine rounding, shared with every similarity query), and
    * convert to near-integer-robust micro longs. Ties break on
    * ascending nid — the oracle's chained-CTE greedy computes the
    * identical sequence.
    */
  def mmrRerank(shortlist: DataFrame, lambdaTenths: Int, k: Int): DataFrame = {
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0, 10], got $lambdaTenths")
    val ss = shortlist.sparkSession
    import ss.implicits._
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cosMicro(a: Array[Float], b: Array[Float]): Long = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i).toDouble
        aa += a(i).toDouble * a(i).toDouble
        bb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.round(r6(ab / (math.sqrt(aa) * math.sqrt(bb))) * 1e6)
    }
    shortlist
      .select(col("qid").cast("long"), col("nid").cast("long"),
        col("rel").cast("double"), col("nvec"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(_._2)
        val n = cands.length
        val relMicro = cands.map(c => math.round(c._3 * 1e6))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
        var t = 1
        val steps = math.min(k, n)
        while (t <= steps) {
          var best = -1
          var bestScore = 0L
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              var pen = 0L
              var first = true
              selected.foreach { j =>
                val sim = cosMicro(cands(i)._4, cands(j)._4)
                if (first || sim > pen) { pen = sim; first = false }
              }
              val score =
                if (selected.isEmpty) lambdaTenths * relMicro(i)
                else lambdaTenths * relMicro(i) - (10 - lambdaTenths) * pen
              // candidates iterate in ascending nid: strict > keeps the
              // lowest nid on score ties
              if (best == -1 || score > bestScore) {
                best = i; bestScore = score
              }
            }
            i += 1
          }
          selected += best
          out += ((qid, t, cands(best)._2, bestScore))
          t += 1
        }
        out
      }
      .toDF("qid", "step", "nid", "mmr_micro")
  }

  /** Two-level cluster refinement — the k ∝ n SemDeDup geometry at a
    * bounded, cell-local build cost. The Abbas et al. pipeline scales
    * its cluster COUNT with the corpus (constant occupancy), but a flat
    * Lloyd at k ∝ n costs k·n·dim per round (n²·dim — untrainable) and
    * its per-iteration centroid collect is k ∝ n driver rows. This
    * operator reuses the persisted coarse assignment (k₁ = 4√n lists,
    * the IVF quantizer — already trained, already paid for) and splits
    * each coarse cell whose occupancy exceeds `targetOcc` into
    * ⌈occ/targetOcc⌉ sub-cells with a LOCAL deterministic Lloyd run
    * inside the cell's own task: seeds are the cell's lowest-id
    * members, `iters` L2 rounds, argmin ties to the lowest sub index.
    * Build cost: one shuffle of the corpus on cid (the same exchange
    * any per-cell operator pays, one-time — the output is what a
    * deployment persists), then per-cell CPU occ²·dim·iters/targetOcc —
    * Σ over cells = n·occ·dim·iters/targetOcc = O(n^1.5) with a 1/4
    * constant from occ = √n/4, embarrassingly parallel across cells,
    * and ZERO driver round-trips (no global-Lloyd collect loop).
    *
    * Determinism: members sort by id inside the cell, seeds/ties/sum
    * order are all id- or index-fixed, so the emitted assignment is a
    * pure function of the input table — a persisted run of it can feed
    * a cell-exact SQL oracle the same way the coarse fixture does.
    *
    * Output: (idCol, cid = cid₁·2²⁰ + sub, vecCol) — same shape the
    * pair stage ([[maxAnchorCosine]]) consumes; sub-cell count per
    * cell is ≤ ⌈occ/targetOcc⌉ < 2²⁰ for any occupancy the coarse
    * rule produces below ~10¹² rows.
    */
  def subClusterAssignment(assigned: DataFrame, idCol: String,
                           vecCol: String, targetOcc: Int,
                           iters: Int = 5): DataFrame = {
    require(targetOcc >= 1 && iters >= 1)
    val spark = assigned.sparkSession
    import spark.implicits._
    val SplitCap = 1L << 20
    assigned
      .select(col("cid").cast("long"), col(idCol).cast("long"),
        col(vecCol).cast("array<float>"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val members = it.toArray.sortBy(_._2)
        val nSub = ((members.length + targetOcc - 1) / targetOcc)
          .min(members.length)
        if (nSub <= 1)
          members.iterator.map { case (_, id, v) => (id, cid * SplitCap, v) }
        else {
          val dim = members.head._3.length
          var cent: Array[Array[Double]] =
            members.take(nSub).map(_._3.map(_.toDouble))
          val assign = new Array[Int](members.length)
          var round = 0
          while (round < iters) {
            var i = 0
            while (i < members.length) {
              val v = members(i)._3
              var best = 0
              var bestD = Double.MaxValue
              var c = 0
              while (c < nSub) {
                val cv = cent(c)
                var d = 0.0
                var j = 0
                while (j < dim) {
                  val t = v(j) - cv(j); d += t * t; j += 1
                }
                if (d < bestD) { bestD = d; best = c }
                c += 1
              }
              assign(i) = best
              i += 1
            }
            val sums = Array.fill(nSub)(new Array[Double](dim))
            val cnt = new Array[Int](nSub)
            i = 0
            while (i < members.length) {
              val v = members(i)._3
              val a = assign(i)
              var j = 0
              while (j < dim) { sums(a)(j) += v(j); j += 1 }
              cnt(a) += 1
              i += 1
            }
            cent = Array.tabulate(nSub) { c =>
              if (cnt(c) == 0) cent(c)
              else {
                val sv = sums(c)
                var j = 0
                while (j < dim) { sv(j) /= cnt(c); j += 1 }
                sv
              }
            }
            round += 1
          }
          members.iterator.zipWithIndex.map { case ((_, id, v), i) =>
            (id, cid * SplitCap + assign(i), v)
          }
        }
      }
      .toDF(idCol, "cid", vecCol)
  }

  /** Embedding-space drift between two snapshots — the EMBEDDING
    * modality's face of the drift family (q111 numeric columns, q148
    * token distributions): per group, the L2 distance between the two
    * snapshots' MEAN vectors. With a linear kernel this IS the maximum
    * mean discrepancy (MMD² = ‖μ_old − μ_new‖²: the standard two-sample
    * statistic for representation shift), so the readout is principled,
    * not ad hoc.
    *
    * Determinism discipline: each vector element is fixed-pointed to
    * integer MICROS before any sum (float→double is exact; round is
    * shared arithmetic), so the per-(group, dim) sums are exact integer
    * aggregation — order-independent across partitions and engines.
    * The per-dim mean deltas then square-and-sum through the pico
    * rounding the JS family uses, making `mmd2_pico` itself
    * hash-checkable. Scale shape: one scan per snapshot reduces to a
    * groups×dim long summary (posexplode is map-side; the groupBy is
    * bounded by groups×dim); everything after runs at summary size.
    * One-sided groups (a class present in only one snapshot) surface
    * with the missing side's count at 0 and a NULL shift — mean shift
    * against a nonexistent distribution is undefined, and silence
    * would hide exactly the event a monitor exists to catch.
    */
  def embeddingShift(oldSnap: DataFrame, newSnap: DataFrame,
                     groupCol: String, vecCol: String): DataFrame = {
    def dimSums(df: DataFrame, s: String, n: String): DataFrame = df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(groupCol, "dim")
      .agg(sum(round(col("v").cast("double") * 1e6).cast("long")).as(s),
        count(lit(1)).as(n))
    val a = dimSums(oldSnap, "so", "no")
    val b = dimSums(newSnap, "sn", "nn")
    // per-dim mean delta in original units; squared, pico-fixed, then
    // integer-summed over dims (the q148 float discipline)
    val d = (col("so").cast("double") / col("no") -
      col("sn").cast("double") / col("nn")) / 1e6
    val pico = when(col("no").isNotNull && col("nn").isNotNull,
      round(d * d * lit(1e12)).cast("long"))
    a.join(b, Seq(groupCol, "dim"), "full_outer")
      .select(col(groupCol), pico.as("pico"),
        coalesce(col("no"), lit(0L)).as("no"),
        coalesce(col("nn"), lit(0L)).as("nn"))
      .groupBy(groupCol, "no", "nn")
      .agg(sum("pico").as("mmd2_pico"))
      .select(col(groupCol), col("no").as("n_old"), col("nn").as("n_new"),
        col("mmd2_pico"),
        round(sqrt(col("mmd2_pico") / 1e12), 6).as("l2_shift"))
  }
}
