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
  *    (metric, value) → cumulative ranks over distinct values in
  *    equal-width buckets → R-7 interpolation), never Spark's
  *    `percentile` aggregate, whose buffer holds a group's entire value
  *    multiset (OOM at 100 TB). It is one lazy plan that stores
  *    nothing, so a plan that is built and never run leaves nothing
  *    behind. See [[rankPlan]]. `approximate = true` switches to a
  *    histogram-fed GK sketch for when even the distinct-value
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
              approximate: Boolean = false): DataFrame =
    computeExtents(numericLong(df, metricCols), Seq("id"), lo, hi, approximate)
      .withColumn("id", metricName(metricCols))
      .orderBy("id")

  /** Grouped extents: per (group, metric) min/max/q1/q99 — the
    * reference's per-region extents files (`build.sh:69,84-88` — one
    * extents CSV per region table) generalized to a grouping column in
    * one shuffle.
    *
    * The exact path (the oracle-parity R-7 / d3.quantile estimator, the
    * default) holds no unbounded buffer: see [[rankPlan]]. It broadcasts
    * its per-group stats and offset tables (≤ [[RangeBuckets]] rows per
    * group): right for the reference shape — tens of regions × a handful
    * of metrics — since the broadcast grows linearly in group
    * cardinality. `approximate = true` swaps the ranks for a GK sketch
    * (constant memory, ~1e-4 relative rank accuracy at 10k buckets —
    * ample for choropleth scales).
    */
  def extentsBy(df: DataFrame, groupCol: String, metricCols: Seq[String],
                lo: Double = 0.01, hi: Double = 0.99,
                approximate: Boolean = false): DataFrame =
    computeExtents(numericLong(df, metricCols, Seq(groupCol)),
        Seq(groupCol, "id"), lo, hi, approximate)
      .withColumn("id", metricName(metricCols))
      .orderBy(groupCol, "id")

  /** Equal-width value buckets per group for the exact cumulative ranks.
    * Bucket placement never changes the result (a bucket split only
    * splits the running sum, never reorders it); it only spreads the
    * in-bucket window over (group, bucket) tasks. Raise with cluster
    * parallelism.
    */
  val RangeBuckets = 32

  /** Shared extents engine over a pre-filtered long table of
    * (groupCols..., value).
    *
    * EXACT path — distributed histogram quantile (R-7), not Spark's
    * `percentile` aggregate: `percentile` holds a group's ENTIRE value
    * multiset in one in-memory aggregation buffer (the 100 TB OOM). The
    * cumulative ranks come from [[rankPlan]]; only the ≤4 buckets whose
    * rank span holds a target rank join into the in-bucket window (the
    * offset table brackets each bucket's span), so the other distinct
    * values never sort. The two bracketing values of each target rank
    * are picked with conditional aggregates and linearly interpolated —
    * exactly d3.quantile / DuckDB `quantile_cont` R-7:
    * h = (n-1)p, v = v⌊h⌋ + (h-⌊h⌋)(v⌊h⌋₊₁ - v⌊h⌋). The pick aggregate
    * groups by (group, n, vmin, vmax), so n, min and max come through
    * as keys with no join. No unbounded aggregation buffer and no
    * single-partition exchange anywhere (PlanAuditSpec).
    *
    * APPROXIMATE path — GK sketch (constant memory, ~1e-4 relative rank
    * accuracy at 10k buckets) for when even the distinct-value histogram
    * is too hot; both quantiles share one sketch buffer.
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
      val (bucketed, offs) = rankPlan(long, groupCols)
      // rank targets (1-based): kLo = ⌊h⌋+1 and its successor, clamped
      def targets(p: Double): Seq[Column] = {
        val h = (col("n") - 1) * p
        Seq(floor(h) + 1, least(floor(h) + 2, col("n")))
      }
      val ks = targets(lo) ++ targets(hi)
      val hit = ks.map(k => col("__off") < k && k <= col("__off") + col("bsum"))
      val cum = cumFrom(bucketed, offs.where(hit.reduce(_ || _)), groupCols)
      val Seq(aLo, aHi, bLo, bHi) = ks.map(k =>
        max(when(col("cum_before") < k && k <= col("cum"), col("value"))))
      def interp(p: Double, name: String): Column = {
        val h = (col("n") - 1) * p
        val frac = h - floor(h)
        col(s"${name}_lo") + frac * (col(s"${name}_hi") - col(s"${name}_lo"))
      }
      cum.groupBy((groupCols ++ Seq("n", "vmin", "vmax")).map(col): _*)
        .agg(aLo.as("a_lo"), aHi.as("a_hi"), bLo.as("b_lo"), bHi.as("b_hi"))
        .select(gcols ++ Seq(col("vmin"), col("vmax"),
          interp(lo, "a").as("q1"), interp(hi, "b").as("q99")): _*)
    }
  }

  /** The exact-rank kernel over a pre-filtered long table of
    * (groupCols..., value), one lazy plan that stores nothing:
    *   1. `hist`: groupBy(group, value) count — fully distributed,
    *      combines duplicates map-side (real metric columns are heavily
    *      duplicated: rates, counts, flags);
    *   2. `stats`: per-group min, max and row count `n` over hist. It
    *      reads every hist column, so over a file scan AQE reuses the
    *      hist exchange instead of running the unpivot again (over an
    *      in-memory table scan it does not);
    *   3. bucket = how many of the equal-width boundaries
    *      vmin + i·(vmax−vmin)/[[RangeBuckets]], 0 < i < RangeBuckets,
    *      lie below the value. Ranks stay exact under any monotone
    *      bucketing; a NaN or ∞ span puts every value in bucket 0;
    *   4. `offs`: per-(group, bkt, n) subtotal `bsum` and `__off`, the
    *      running sum of the earlier buckets (≤ RangeBuckets rows per
    *      group).
    * Returns `bucketed` — (groupCols..., value, cnt, vmin, vmax, n, bkt)
    * — and `offs`; [[cumFrom]] joins them into exact cumulative ranks.
    * No operator ever sorts a whole group's distinct values on one task.
    * Consumers: [[computeExtents]] (exact R-7 quantiles),
    * [[quantileBins]] (equal-frequency binning) and [[cdfTransform]].
    */
  private def rankPlan(long: DataFrame, groupCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val gcols = groupCols.map(col)
    val hist = long.groupBy((groupCols :+ "value").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val stats = hist.groupBy(gcols: _*)
      .agg(min("value").as("vmin"), max("value").as("vmax"),
        sum("cnt").as("n"))
    val width = (col("vmax") - col("vmin")) / RangeBuckets
    val bounds = array((1 until RangeBuckets).map(i => col("vmin") + width * i): _*)
    // stats is one row per group: broadcast, as the group cardinality is
    // bounded (a handful of metrics × regions)
    val bucketed = hist.join(broadcast(stats), groupCols)
      .withColumn("bkt", size(filter(bounds, b => b < col("value"))))
    val bktCols = groupCols :+ "bkt"
    val offs = bucketed.groupBy((bktCols :+ "n").map(col): _*)
      .agg(sum("cnt").as("bsum"))
      .withColumn("__off", coalesce(sum("bsum").over(
        Window.partitionBy(gcols: _*).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    (bucketed, offs)
  }

  /** In-bucket cumulative ranks over (a possibly bucket-FILTERED view
    * of) the offset table: `cum` is the exact 1-based cumulative row
    * count through each distinct value, `cum_before` the count before
    * it. Joining `bucketed` against fewer `offs` rows prunes whole
    * buckets out of the window — the rank-targeted short-circuit
    * [[computeExtents]] uses, while [[quantileBins]] and
    * [[cdfTransform]] pass the full table because every distinct value
    * needs its rank.
    */
  private def cumFrom(bucketed: DataFrame, offs: DataFrame,
                      groupCols: Seq[String]): DataFrame = {
    val bktCols = groupCols :+ "bkt"
    val wIn = Window.partitionBy(bktCols.map(col): _*).orderBy("value")
    bucketed.join(broadcast(offs.drop("n")), bktCols)
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
    val (bucketed, offs) = rankPlan(numericLong(df, metricCols), Seq("id"))
    cumFrom(bucketed, offs, Seq("id"))
      .withColumn("bin",
        expr(s"least($k - 1, CAST((cum_before * $k) div n AS INT))"))
      .groupBy(col("id"), col("bin"))
      .agg(sum("cnt").as("n_rows"),
        min("value").as("lo"), max("value").as("hi"))
      .select(metricName(metricCols).as("metric"), col("bin"), col("n_rows"),
        col("lo"), col("hi"))
      .orderBy("metric", "bin")
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
    val (bucketed, offs) = rankPlan(numericLong(df, metricCols), Seq("id"))
    cumFrom(bucketed, offs, Seq("id"))
      .select(metricName(metricCols).as("metric"),
        col("value"), col("cnt").as("n_rows"),
        round((col("cum_before") + col("cnt") * 0.5) / col("n"), 6).as("cdf"))
      .orderBy("metric", "value")
  }

  /** LEARN half of the registry-split approximate binning: the k−1
    * GK cut points per metric, as a bounded driver-side artifact
    * (≤ (k−1)·|metricCols| doubles — the PQ-codebook class of load).
    * Store-and-apply callers (q116) route this through
    * [[ArtifactCache]]: GK merge order varies with shuffle fetch
    * order, so the learned cuts are only STABLE once stored — the
    * apply pass and the external oracle must both read the same
    * stored artifact, never re-learn.
    */
  def approxBinCuts(df: DataFrame, metricCols: Seq[String], k: Int,
                    accuracy: Int = 10000): Seq[(String, Seq[Double])] = {
    require(k >= 2, s"cut learning needs k >= 2, got $k")
    numericLong(df, metricCols).groupBy(col("id"), col("value"))
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
    val cutsArr = array(metricCols.map(m =>
      array(byName(m).map(lit): _*)): _*)
    numericLong(df, metricCols)
      .withColumn("bin", size(filter(element_at(cutsArr, col("id") + 1),
        c => c < col("value"))))
      .groupBy(col("id"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min("value").as("lo"), max("value").as("hi"))
      .select(metricName(metricCols).as("metric"), col("bin"), col("n_rows"),
        col("lo"), col("hi"))
      .orderBy("metric", "bin")
  }

  /** LEARN half of the registry-split approximate extents (q94): the
    * raw (unrounded) sketch q-lo/q-hi per metric. Same rationale as
    * [[approxBinCuts]] — the GK estimate is stored once and then
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
    val q1s = array(metricCols.map(m => lit(byName(m)._1)): _*)
    val q99s = array(metricCols.map(m => lit(byName(m)._2)): _*)
    numericLong(df, metricCols).groupBy(col("id"))
      .agg(min("value").as("vmin"), max("value").as("vmax"))
      .select(metricName(metricCols).as("id"),
        col("vmin"), col("vmax"),
        element_at(q1s, col("id") + 1).as("q1"),
        element_at(q99s, col("id") + 1).as("q99"))
      .orderBy("id")
  }

  /** A2: wide→long unpivot via `stack` (one pass, no per-column scans).
    * Emits the metric as its int INDEX in `metricCols` — callers map it
    * back to the name after aggregating (the name would otherwise ride
    * every histogram row through every shuffle).
    */
  private def explodeToLong(metricCols: Seq[String]): Column = {
    val pairs = metricCols.zipWithIndex
      .map { case (c, i) => s"$i, try_cast(`$c` as double)" }
      .mkString(", ")
    expr(s"stack(${metricCols.size}, $pairs) as (id, value)")
  }

  /** The numeric cells of `metricCols`, unpivoted to (keys..., id,
    * value): empty, junk and NaN cells dropped
    * (`extract-extents.js:23-29`).
    */
  private def numericLong(df: DataFrame, metricCols: Seq[String],
                          keys: Seq[String] = Nil): DataFrame =
    df.select(keys.map(col) :+ explodeToLong(metricCols): _*)
      .select(keys.map(col) ++ Seq(col("id"),
        numericOrNull(col("value")).as("value")): _*)
      .filter(col("value").isNotNull)

  /** The metric name of the unpivot's int `id`. */
  private def metricName(metricCols: Seq[String]): Column =
    element_at(array(metricCols.map(lit): _*), col("id") + 1)

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
    profileCore(df.select(explodeToLong(cols)), cols, Nil)
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
    profileCore(df.select(col(sliceCol), explodeToLong(cols)), cols,
      Seq(sliceCol))
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
      .withColumn("col_name", metricName(cols))
      .select(((sliceCols :+ "col_name") ++ Seq("n", "n_null", "n_distinct",
        "vmin", "vmax", "sum_micro", "mean_micro")).map(col): _*)
  }
}
