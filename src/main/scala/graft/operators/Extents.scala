package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Per-column extents (min / max / 1st / 99th percentile), used by the
  * reference front end to build choropleth scales.
  *
  * Reference semantics (`/root/reference/scripts/extract-extents.js`):
  *  - every cell is kept only if non-empty and numeric
  *    (`extract-extents.js:23-29`);
  *  - per metric column: d3 `min`, `max`, `quantile(0.01)`,
  *    `quantile(0.99)` over the surviving values
  *    (`extract-extents.js:44-50`). d3.quantile is R-7 linear
  *    interpolation — the same estimator as Spark's exact `percentile`
  *    and DuckDB's `quantile_cont`.
  *
  * Spark-first design notes (100 TB scale):
  *  - the reference materializes the whole file in memory
  *    (`extract-extents.js:14,34`); here the wide table is unpivoted with
  *    `stack` into (metric, value) pairs and aggregated in ONE shuffle
  *    keyed by metric — constant memory per partition, spills externally.
  *  - exact quantiles are computed with a DISTRIBUTED histogram (groupBy
  *    (metric, value) → cumulative ranks over distinct values → R-7
  *    interpolation), never Spark's `percentile` aggregate, whose buffer
  *    holds a group's entire value multiset (OOM at 100 TB). See
  *    `computeExtents`. `approximate = true` switches to the
  *    `percentile_approx` sketch for when even the distinct-value
  *    histogram is hot (choropleth scales only need ~1% accuracy).
  */
object Extents {

  /** P7: numeric-or-null cell filter (`extract-extents.js:23-29`).
    * `try_cast` (not `cast`) so non-numeric junk becomes null instead of
    * an ANSI cast error — the reference drops such cells silently.
    */
  def numericOrNull(c: Column): Column = {
    val d = c.try_cast(DoubleType)
    when(d.isNotNull && !isnan(d), d)
  }

  /** A2+G1-G4: unpivot `metricCols` and compute per-metric extents.
    * Output: one row per metric — (id, vmin, vmax, q1, q99), ordered by id.
    */
  def extents(df: DataFrame, metricCols: Seq[String],
              lo: Double = 0.01, hi: Double = 0.99,
              approximate: Boolean = false): DataFrame = {
    // per-metric extents: group cardinality == metricCols.size, so the
    // exact path's boundary/offset broadcast is always safe here
    // the metric travels as an INT index through the histogram pipeline
    // (the name string would otherwise be the repeated shuffle key on
    // every histogram/window row) and is restored after the final
    // per-metric aggregation
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    computeExtents(long, Seq("id"), lo, hi, approximate)
      .withColumn("id", element_at(names, col("id") + 1))
      .orderBy("id")
  }

  /** Grouped extents: per (group, metric) min/max/q1/q99 — the
    * reference's per-region extents files (`build.sh:69,84-88` — one
    * extents CSV per region table) generalized to a grouping column in
    * one shuffle.
    *
    * Memory ceiling: exact `percentile` buffers EVERY value of a
    * (group, metric) cell in one aggregation buffer — at 100 TB a hot
    * group OOMs the executor. Pass `approximate = true` to switch to
    * `percentile_approx` (KLL-style sketch, constant memory, ~1e-4
    * relative accuracy at 10k buckets — ample for choropleth scales).
    * The exact path stays the default because it is the oracle-parity
    * (R-7 / d3.quantile) estimator.
    *
    * The exact path broadcasts its per-group boundary/offset tables
    * (≤ [[RangeBuckets]] rows per group): right for the reference shape
    * — tens of regions × a handful of metrics — since the broadcast
    * grows linearly in group cardinality.
    */
  def extentsBy(df: DataFrame, groupCol: String, metricCols: Seq[String],
                lo: Double = 0.01, hi: Double = 0.99,
                approximate: Boolean = false): DataFrame = {
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(col(groupCol) +: stackExpr: _*)
      .select(col(groupCol), col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    computeExtents(long, Seq(groupCol, "id"), lo, hi, approximate)
      .withColumn("id", element_at(names, col("id") + 1))
      .orderBy(groupCol, "id")
  }

  /** Distinct-value range buckets per group for the exact cumulative
    * ranks: approximate-quantile boundaries balance the buckets, the
    * EXACT result is unaffected by boundary placement (a bucket split
    * only splits the running sum, never reorders it). Raise with cluster
    * parallelism — each (group, bucket) cell is one window task.
    */
  val RangeBuckets = 32

  /** Shared extents engine over a pre-filtered long table of
    * (groupCols..., value).
    *
    * EXACT path — distributed histogram quantile (R-7), not Spark's
    * `percentile` aggregate: `percentile` holds a group's ENTIRE value
    * multiset in one in-memory aggregation buffer (the 100 TB OOM). Here:
    *   1. value histogram: groupBy(group, value) count — fully
    *      distributed, combines duplicates map-side (real metric columns
    *      are heavily duplicated: rates, counts, flags);
    *   2. cumulative ranks over each group's DISTINCT values — RANGE
    *      PARTITIONED: per-group approximate-quantile boundaries cut the
    *      distinct values into [[RangeBuckets]] balanced buckets, the
    *      running sum is an in-bucket window (partitioned by
    *      (group, bucket) — parallel across buckets) plus a per-bucket
    *      offset from a second window over the TINY bucket-subtotal
    *      table (≤ RangeBuckets rows per group). No operator ever sorts
    *      a whole group's distinct values on one task — the 100 TB
    *      continuous-metric skew this replaces;
    *   3. the two bracketing values of each target rank are picked with
    *      conditional aggregates and linearly interpolated — exactly
    *      d3.quantile / DuckDB `quantile_cont` R-7:
    *      h = (n-1)p, v = v⌊h⌋ + (h-⌊h⌋)(v⌊h⌋₊₁ - v⌊h⌋).
    * Every step is a codegen'd relational operator; no unbounded
    * aggregation buffer and no single-partition exchange anywhere
    * (PlanAuditSpec).
    *
    * APPROXIMATE path — `percentile_approx` sketch (constant memory,
    * ~1e-4 relative rank accuracy at 10k buckets) for when even the
    * distinct-value histogram is too hot; both quantiles share one
    * sketch buffer.
    */
  private def computeExtents(long: DataFrame, groupCols: Seq[String],
                             lo: Double, hi: Double,
                             approximate: Boolean): DataFrame = {
    val gcols = groupCols.map(col)
    if (approximate) {
      // HISTOGRAM-FED sketch (round 10): the per-row GK update re-pays
      // its buffer/compress cycle for every duplicate value, while a
      // `groupBy(value)` histogram map-combines duplicates before the
      // shuffle — real metric columns (rates, counts, flags) are
      // heavily duplicated, so the weighted sketch
      // ([[graft.functions.WeightedPercentileApprox]], weight-w
      // insertion O(1)) updates once per DISTINCT value. The histogram
      // hash-agg spills (never OOMs) on near-unique columns; the final
      // per-group state is still one ε-bounded summary. Accuracy
      // contract unchanged: GK, ε = 1e-4.
      val hist = long.groupBy((groupCols :+ "value").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
      hist.groupBy(gcols: _*)
        .agg(min("value").as("vmin"), max("value").as("vmax"),
          graft.functions.WeightedPercentileApprox.wpa(
            col("value"), col("cnt"), Seq(lo, hi), 10000).as("qq"))
        .select(gcols ++ Seq(col("vmin"), col("vmax"),
          element_at(col("qq"), 1).as("q1"),
          element_at(col("qq"), 2).as("q99")): _*)
    } else {
      val (hist, bucketed, offs, bounds) =
        cumulativeHistogram(long, groupCols)
      // RANK-TARGETED window (round 10): the two quantiles need the
      // exact rank of only 4 target positions per group, and the
      // offset table already brackets each bucket's rank span — so
      // only the ≤4 buckets containing a target ever join into the
      // window. The other ~⅞ of the distinct values skip the sort
      // entirely (measured ~20%/~10% end-to-end at sf0.1/10× — the
      // histogram build dominates what remains); vmin/vmax come from
      // the histogram directly. Bucket-hit predicate and pick expressions share the
      // same floor arithmetic, so the picked values are bit-identical
      // to the full-window formulation (spec- and oracle-covered).
      def bucketHit(p: Double): Column = {
        val h = (col("n") - 1) * p
        val kLo = floor(h) + 1
        val kHi = least(floor(h) + 2, col("n"))
        (col("__off") < kLo && kLo <= col("__off") + col("bsum")) ||
          (col("__off") < kHi && kHi <= col("__off") + col("bsum"))
      }
      val cum = cumFrom(bucketed, offs.where(bucketHit(lo) || bucketHit(hi)),
        groupCols)
      // rank targets (1-based): kLo = ⌊h⌋+1 and its successor, clamped
      def picks(p: Double, name: String): Seq[Column] = {
        val h = (col("n") - 1) * p
        val kLo = floor(h) + 1
        val kHi = least(floor(h) + 2, col("n"))
        Seq(
          max(when(col("cum_before") < kLo && kLo <= col("cum"), col("value")))
            .as(s"${name}_lo"),
          max(when(col("cum_before") < kHi && kHi <= col("cum"), col("value")))
            .as(s"${name}_hi"))
      }
      def interp(p: Double, name: String): Column = {
        val h = (col("n") - 1) * p
        val frac = h - floor(h)
        col(s"${name}_lo") + frac * (col(s"${name}_hi") - col(s"${name}_lo"))
      }
      // vmin/vmax ride the boundary-sketch aggregation (r19): the old
      // separate `ranges = hist.groupBy(g).agg(min, max)` re-scanned
      // the whole persisted histogram and paid its own exchange plus a
      // sort-merge join with pickAgg — the same per-group pass the
      // bounds agg already makes. One hist pass fewer at any scale;
      // the final attach is a broadcast join of ≤|groups| rows.
      val pickAgg = cum.groupBy(gcols: _*)
        .agg(first("n").as("n"),
          picks(lo, "a") ++ picks(hi, "b"): _*)
      val minmax = bounds.select(gcols ++
        Seq(col("__vmin").as("vmin"), col("__vmax").as("vmax")): _*)
      val out = pickAgg
        .join(broadcast(minmax), groupCols)
        .select(gcols ++ Seq(col("vmin"), col("vmax"),
          interp(lo, "a").as("q1"), interp(hi, "b").as("q99")): _*)
      unpersistAfterUse(Seq(hist, bounds), out)
    }
  }

  /** The shared exact-rank kernel: distinct-value histogram +
    * RANGE-BUCKETED cumulative ranks per group. Returns the PERSISTED
    * histogram (route the final frame through [[unpersistAfterUse]]),
    * the bucketed/offset frames — (groupCols..., bkt, value, cnt, cum,
    * cum_before, n) — where `cum` is the exact 1-based cumulative row
    * count through each distinct value and `n` the group total, and
    * the per-group boundary frame (groupCols..., __bnds, __vmin,
    * __vmax): exact min/max ride the boundary aggregation so
    * [[computeExtents]] never re-scans hist for them (r19). No
    * operator ever sorts a whole group's distinct values on one task:
    * the in-bucket window partitions by (group, bkt) and the
    * per-bucket offset comes from a second window over the TINY
    * bucket-subtotal table (≤ [[RangeBuckets]] rows per group).
    * Consumers: [[computeExtents]] (exact R-7 quantiles) and
    * [[quantileBins]] (equal-frequency binning).
    */
  private def cumulativeHistogram(long: DataFrame, groupCols: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val gcols = groupCols.map(col)
    // cache barrier: the histogram (already the SMALL distinct-value
    // table) feeds both the boundary sketch and the bucketed cumsum —
    // without it the whole upstream unpivot + try_cast re-executes per
    // reference (observed 3x at sf0.1). Same documented pattern as the
    // q23 shingle cache; released by `unpersistAfterUse` once the
    // first action over the result completes.
    val hist = long.groupBy((groupCols :+ "value").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .persist()
    // deterministic range bucketing: per-group boundary sketch over the
    // distinct values; bucket = #boundaries below the value (HOF over
    // a tiny broadcast array)
    val qs = array((1 until RangeBuckets)
      .map(i => lit(i.toDouble / RangeBuckets)): _*)
    // exact min/max share the boundary pass (r19): same groupBy, two
    // extra tiny agg buffers — computeExtents attaches them at the end
    // instead of re-scanning hist for a separate ranges aggregation.
    // Persisted (≤ one row per group) because it feeds BOTH the bucket
    // assignment and the final min/max attach: without the barrier
    // Catalyst re-runs the whole sketch aggregation for each reference.
    // Released alongside hist by [[unpersistAfterUse]].
    val bounds = hist.groupBy(gcols: _*)
      .agg(percentile_approx(col("value"), qs, lit(1000)).as("__bnds"),
        min("value").as("__vmin"), max("value").as("__vmax"))
      .persist()
    // bounds/offs are ≤ RangeBuckets rows PER GROUP: broadcast, as the
    // group cardinality is bounded (a handful of metrics × regions)
    val bucketed = hist.join(
        broadcast(bounds.drop("__vmin", "__vmax")), groupCols)
      .withColumn("bkt", size(filter(col("__bnds"), b => b < col("value"))))
      .drop("__bnds")
    val bktCols = groupCols :+ "bkt"
    // per-(group, bucket) subtotals: ≤ RangeBuckets rows per group, so
    // the offset window's per-group partition is trivially small
    val sub = bucketed.groupBy(bktCols.map(col): _*)
      .agg(sum("cnt").as("bsum"))
    val offs = sub
      .withColumn("__off", coalesce(sum("bsum").over(
        Window.partitionBy(gcols: _*).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("bsum").over(Window.partitionBy(gcols: _*)))
      .select(bktCols.map(col) ++ Seq(col("bsum"), col("__off"), col("n")): _*)
    (hist, bucketed, offs, bounds)
  }

  /** In-bucket cumulative ranks over (a possibly bucket-FILTERED view
    * of) the offset table: joining `bucketed` against fewer `offs`
    * rows prunes whole buckets out of the window — the rank-targeted
    * short-circuit [[computeExtents]] uses (only the ≤4 buckets
    * containing a target rank ever sort), while [[quantileBins]]
    * passes the full table because every distinct value needs its
    * rank.
    */
  private def cumFrom(bucketed: DataFrame, offs: DataFrame,
                      groupCols: Seq[String]): DataFrame = {
    val bktCols = groupCols :+ "bkt"
    val wIn = Window.partitionBy(bktCols.map(col): _*).orderBy("value")
    bucketed.join(broadcast(offs), bktCols)
      .withColumn("cum", sum("cnt").over(wIn) + col("__off"))
      .withColumn("cum_before", col("cum") - col("cnt"))
  }

  /** Equal-frequency (quantile) BINNING — the feature-discretization /
    * balanced-bucketing operator (Spark ML's QuantileDiscretizer shape,
    * exact instead of sketched): each metric's values split into `k`
    * bins of near-equal row count. Bin of a distinct value =
    * `(cum_before · k) div n` — the histogram-granularity ntile, so
    * TIES STAY IN ONE BIN (a discretizer must map equal values
    * equally; row-ntile splits them arbitrarily) and bins are balanced
    * up to tie granularity. All arithmetic is integer (exact at any n,
    * no double rank), the ranks come from the same range-bucketed
    * cumulative histogram as the exact extents — no whole-group sort
    * on one task — and the output is one row per (metric, bin) with
    * count and value range.
    */
  def quantileBins(df: DataFrame, metricCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    val (hist, bucketed, offs, bounds) =
      cumulativeHistogram(long, Seq("id"))
    val out = cumFrom(bucketed, offs, Seq("id"))
      .withColumn("bin",
        expr(s"least($k - 1, CAST((cum_before * $k) div n AS INT))"))
      .groupBy(col("id"), col("bin"))
      .agg(sum("cnt").as("n_rows"),
        min("value").as("lo"), max("value").as("hi"))
      .withColumn("metric", element_at(names, col("id") + 1))
      .select("metric", "bin", "n_rows", "lo", "hi")
      .orderBy("metric", "bin")
    unpersistAfterUse(Seq(hist, bounds), out)
  }

  /** APPROXIMATE equal-frequency binning — [[quantileBins]]'s scale
    * twin (the suite's exact path is its wall-clock leader purely from
    * exactness; a discretizer for feature bucketing rarely needs exact
    * rank balance). Same output shape and the same TIES-IN-ONE-BIN
    * contract — bin is a pure function of the VALUE (the count of cut
    * points strictly below it), so equal values always land together —
    * but the k−1 cut points come from the histogram-fed GK sketch
    * ([[graft.functions.WeightedPercentileApprox]], ε = 1/accuracy)
    * instead of the exact cumulative-rank machinery.
    *
    * What it skips vs the exact path: the per-bucket offset windows
    * and the in-bucket cumulative-rank window (a sort per
    * (metric, bucket) cell) — after the shared distinct-value
    * histogram, the only work is one sketch pass over distinct values
    * and a broadcast of k−1 cuts per metric.
    *
    * ACCURACY contract: each cut's rank error is ≤ ε·n (GK bound), so
    * a bin's row count deviates from n/k by at most 2ε·n plus tie
    * mass at the cut values; bins remain disjoint, ordered, and
    * exhaustive (every value maps to exactly one bin in [0, k−1]).
    * Sketch cuts are engine-specific → rows-only driver check, no
    * DuckDB oracle (the q94 precedent); the contract is spec-pinned
    * against the exact path in CoreOperatorsSpec.
    */
  def approxQuantileBins(df: DataFrame, metricCols: Seq[String], k: Int,
                         accuracy: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    if (k == 1) {
      // no cut points to sketch — the single bin is the histogram's
      // own per-metric rollup (bit-identical to the exact path's k=1,
      // which wpa cannot express: an empty percentages array types as
      // array<null> and fails analysis)
      return long.groupBy(col("id"))
        .agg(count(lit(1)).as("n_rows"),
          min("value").as("lo"), max("value").as("hi"))
        .withColumn("bin", lit(0))
        .withColumn("metric", element_at(names, col("id") + 1))
        .select("metric", "bin", "n_rows", "lo", "hi")
        .orderBy("metric", "bin")
    }
    val hist = long.groupBy(col("id"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val cuts = hist.groupBy(col("id"))
      .agg(graft.functions.WeightedPercentileApprox.wpa(
        col("value"), col("cnt"),
        (1 until k).map(_.toDouble / k), accuracy).as("__cuts"))
    // ≤ k−1 doubles per metric — broadcast
    val out = hist.join(broadcast(cuts), "id")
      .withColumn("bin",
        size(filter(col("__cuts"), c => c < col("value"))))
      .groupBy(col("id"), col("bin"))
      .agg(sum("cnt").as("n_rows"),
        min("value").as("lo"), max("value").as("hi"))
      .withColumn("metric", element_at(names, col("id") + 1))
      .select("metric", "bin", "n_rows", "lo", "hi")
      .orderBy("metric", "bin")
    unpersistAfterUse(Seq(hist), out)
  }

  /** QUANTILE NORMALIZATION — the rank→CDF feature transform
    * (sklearn's QuantileTransformer shape, exact): every distinct
    * value maps to its MIDRANK cdf position (cum_before + cnt/2)/n,
    * so ties share one position (a transformer must map equal values
    * equally — the quantileBins tie discipline), the output is
    * uniform on (0,1) up to tie mass, and downstream models see a
    * scale-free feature whatever the raw distribution. Rides the
    * same range-bucketed cumulative histogram as the exact extents
    * and binning — duplicates collapse map-side, no whole-metric
    * sort on one task — and emits the per-DISTINCT-VALUE mapping
    * table (metric, value, n_rows, cdf): the artifact a deployment
    * broadcasts back onto rows (values repeat heavily in real fact
    * tables, so the mapping is far smaller than the corpus). All
    * inputs to the one double division are exact integers —
    * engine-identical, merge-order-free.
    */
  def cdfTransform(df: DataFrame, metricCols: Seq[String]): DataFrame = {
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    val (hist, bucketed, offs, bounds) =
      cumulativeHistogram(long, Seq("id"))
    val out = cumFrom(bucketed, offs, Seq("id"))
      .select(element_at(names, col("id") + 1).as("metric"),
        col("value"), col("cnt").as("n_rows"),
        round((col("cum_before") + col("cnt") * 0.5) / col("n"), 6).as("cdf"))
      .orderBy("metric", "value")
    unpersistAfterUse(Seq(hist, bounds), out)
  }

  /** LEARN half of the registry-split approximate binning: the k−1
    * GK cut points per metric, as a bounded driver-side artifact
    * (≤ (k−1)·|metricCols| doubles — the PQ-codebook class of load).
    * Persist-and-apply callers (q116) route this through
    * [[ArtifactCache]]: GK merge order varies with shuffle fetch
    * order, so the learned cuts are only STABLE once persisted — the
    * apply pass and the external oracle must both read the same
    * stored artifact, never re-learn.
    */
  def approxBinCuts(df: DataFrame, metricCols: Seq[String], k: Int,
                    accuracy: Int = 10000): Seq[(String, Seq[Double])] = {
    require(k >= 2, s"cut learning needs k >= 2, got $k")
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    long.groupBy(col("id"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"))
      .agg(graft.functions.WeightedPercentileApprox.wpa(
        col("value"), col("cnt"),
        (1 until k).map(_.toDouble / k), accuracy).as("cuts"))
      .collect()
      .map(r => metricCols(r.getInt(0)) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
  }

  /** APPLY half: bin every row by a FIXED cut list (bin = #cuts
    * strictly below the value — the ties-in-one-bin contract, now a
    * pure literal function of the value). One scan, one tiny-key
    * shuffle (|metrics|·k groups with map-side partials); the cuts
    * ride the plan as a broadcast literal array-of-arrays aligned
    * with the metric index — no join, no second pass. This is the
    * serving path a deployment runs once a discretizer is trained:
    * the sketch never re-runs per query.
    */
  def binByCuts(df: DataFrame, metricCols: Seq[String],
                cuts: Seq[(String, Seq[Double])]): DataFrame = {
    val byName = cuts.toMap
    require(metricCols.forall(byName.contains),
      s"missing cuts for ${metricCols.filterNot(byName.contains).mkString(",")}")
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    val cutsArr = array(metricCols.map(m =>
      array(byName(m).map(lit): _*)): _*)
    long
      .withColumn("bin", size(filter(element_at(cutsArr, col("id") + 1),
        c => c < col("value"))))
      .groupBy(col("id"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min("value").as("lo"), max("value").as("hi"))
      .withColumn("metric", element_at(names, col("id") + 1))
      .select("metric", "bin", "n_rows", "lo", "hi")
      .orderBy("metric", "bin")
  }

  /** LEARN half of the registry-split approximate extents (q94): the
    * raw (unrounded) sketch q-lo/q-hi per metric. Same rationale as
    * [[approxBinCuts]] — the GK estimate is persisted once and then
    * only APPLIED, because re-learning is neither free nor
    * merge-order-stable.
    */
  def approxExtentQuantiles(df: DataFrame, metricCols: Seq[String],
                            lo: Double = 0.01, hi: Double = 0.99)
      : Seq[(String, (Double, Double))] =
    extents(df, metricCols, lo, hi, approximate = true)
      .select("id", "q1", "q99")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** APPLY half for extents: exact vmin/vmax from one grouped pass
    * over the data, sketch q-lo/q-hi joined in as literals aligned
    * with the metric index.
    */
  def extentsWithFixedQuantiles(df: DataFrame, metricCols: Seq[String],
                                qs: Seq[(String, (Double, Double))])
      : DataFrame = {
    val byName = qs.toMap
    require(metricCols.forall(byName.contains),
      s"missing quantiles for ${metricCols.filterNot(byName.contains).mkString(",")}")
    val stackExpr = explodeToLong(metricCols)
    val long = df.select(stackExpr: _*)
      .select(col("id"), numericOrNull(col("value")).as("value"))
      .filter(col("value").isNotNull)
    val names = array(metricCols.map(lit): _*)
    val q1s = array(metricCols.map(m => lit(byName(m)._1)): _*)
    val q99s = array(metricCols.map(m => lit(byName(m)._2)): _*)
    long.groupBy(col("id"))
      .agg(min("value").as("vmin"), max("value").as("vmax"))
      .select(element_at(names, col("id") + 1).as("id"),
        col("vmin"), col("vmax"),
        element_at(q1s, col("id") + 1).as("q1"),
        element_at(q99s, col("id") + 1).as("q99"))
      .orderBy("id")
  }

  /** Releases the cached histogram once the first action consuming
    * `out` completes — see [[CacheRelease]] (shared with the LSH
    * pipeline's shingle barriers) for the full release/self-expiry
    * contract.
    */
  private def unpersistAfterUse(cached: Seq[DataFrame], out: DataFrame): DataFrame =
    CacheRelease.afterUse(cached, out)

  /** A2: wide→long unpivot via `stack` (one pass, no per-column scans).
    * Emits the metric as its int INDEX in `metricCols` — callers map it
    * back to the name after aggregating (the name would otherwise ride
    * every histogram row through every shuffle).
    */
  private def explodeToLong(metricCols: Seq[String]): Seq[Column] = {
    val pairs = metricCols.zipWithIndex
      .map { case (c, i) => s"$i, try_cast(`$c` as double)" }
      .mkString(", ")
    Seq(expr(s"stack(${metricCols.size}, $pairs) as (id, value)"))
  }

  /** One-pass column PROFILING (the Deequ/data-quality shape a
    * training-data pipeline runs before trusting a new table): per
    * numeric column — row count, null count, exact distinct count,
    * min/max, and the exact integer-micro sum and mean. One unpivot +
    * a histogram build + a tiny rollup; the table is scanned once
    * however many columns are profiled, and the exact distinct count
    * falls out of the histogram's row count instead of a distinct
    * aggregation (see the in-body note on why that beats the Expand
    * rewrite).
    *
    * Sums follow the integer-micro discipline (values × 10⁶ rounded to
    * longs, summed as longs): a double sum's value depends on partition
    * merge order, an integer sum doesn't — so the profile is
    * reproducible across engines AND across runs. `mean_micro` is the
    * truncating (toward-zero) integer mean over non-null rows — the
    * semantics BOTH engines natively share (Spark `div` and DuckDB
    * integer `//` truncate; verified on negative sums) — null when a
    * column is all-null. `sum_micro` accumulates in DECIMAL(38,0) (a
    * BIGINT overflows on a corpus-scale key column) but is EMITTED as
    * its canonical decimal string: DECIMAL(38,0) is the one output
    * type whose driver-side hash canonicalization diverged between
    * engines (CORRECTNESS_r09 q101), and the digit string is identical
    * in both.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val long = df.select(explodeToLong(cols): _*)
    profileCore(long, cols, Nil)
  }

  /** [[profileColumns]] with a SLICE key — one scan profiles every
    * slice (snapshot, decade, source shard) side by side: the unpivot
    * carries the slice column, the histogram groups by
    * (slice, id, value), and each slice's statistics fall out of the
    * same collapsed frame. The drift-monitoring shape (today's
    * snapshot vs yesterday's) without a second pass over the table.
    */
  def profileColumnsBy(df: DataFrame, cols: Seq[String],
                       sliceCol: String): DataFrame = {
    val long = df.select(col(sliceCol) +: explodeToLong(cols): _*)
    profileCore(long, cols, Seq(sliceCol))
  }

  /** Shared profiling kernel over the unpivoted (sliceCols..., id,
    * value) frame.
    *
    * Histogram-first: collapse to the distinct-value table, then
    * compute every statistic cnt-weighted from it. Equivalent to one
    * groupBy with countDistinct, but strictly cheaper at scale:
    * Spark's distinct-agg rewrite EXPANDs the unpivoted frame 2×
    * (one projection for the distinct keys, one for the plain aggs)
    * and shuffles the duplicated rows; here the only full-width
    * shuffle is the (id, value) histogram build with map-side
    * partial counts — the q03/q44 extents kernel — and the plain
    * aggregates ride the collapsed histogram for free (measured:
    * 11.7 → 4.5 s at the 10× scale-up, 3.2 → 2.1 s at sf0.1). Values
    * repeat in real fact tables (quantities, discounts, status
    * codes), so the collapsed frame is usually far smaller than the
    * raw one.
    */
  private def profileCore(long: DataFrame, cols: Seq[String],
                          sliceCols: Seq[String]): DataFrame = {
    val names = array(cols.map(lit): _*)
    val keys = sliceCols :+ "id"
    val hist = long.groupBy((keys :+ "value").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    hist.groupBy(keys.map(col): _*)
      .agg(
        sum("cnt").as("n"),
        coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L))
          .as("n_null"),
        count(col("value")).as("n_distinct"),
        min("value").as("vmin"), max("value").as("vmax"),
        // per-row micros fit a long; the CORPUS-WIDE sum does not (a
        // 6M-row key column already tops 2^63 — ANSI overflow at the
        // 10× scale-up caught exactly this), so the accumulator is
        // DECIMAL(38,0): still integer-exact, still merge-order-free
        sum(round(col("value") * 1000000.0).cast("long")
          .cast("decimal(38,0)") * col("cnt")).as("sum_micro"))
      .withColumn("mean_micro",
        expr("CAST(sum_micro div nullif(n - n_null, 0) AS BIGINT)"))
      .withColumn("sum_micro", col("sum_micro").cast("string"))
      .withColumn("col_name", element_at(names, col("id") + 1))
      .select(((sliceCols :+ "col_name") ++ Seq("n", "n_null", "n_distinct",
        "vmin", "vmax", "sum_micro", "mean_micro")).map(col): _*)
  }
}
