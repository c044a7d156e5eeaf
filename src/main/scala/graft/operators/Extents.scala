package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Pipeline

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
  *    `stack` into (metric, value) pairs and collapsed to a count
  *    histogram with map-side partial counts.
  *  - exact ranks come from ONE kernel ([[ranks]]), never Spark's
  *    `percentile` aggregate, whose buffer holds a group's entire value
  *    multiset (OOM at 100 TB): the histogram's range shuffle on (group,
  *    value), checked out, then two Scala folds over the checkout whose
  *    compiled code does not grow with the metric count. So the exact
  *    kernels run their count pass when called: extents, extentsBy and
  *    quantileBins return a driver-side frame and release the checkout,
  *    and cdfTransform's frame holds it. `approximate = true` switches
  *    to a histogram-fed GK sketch for when even the distinct-value
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
    computeExtents(df, Nil, metricCols, lo, hi, approximate)

  /** Grouped extents: per (group, metric) min/max/q1/q99, ordered by
    * (group, metric) — the reference's per-region extents files
    * (`build.sh:69,84-88`) generalized to a grouping column in one pass.
    * The exact path's driver holds a few numbers per (group, metric) and
    * range partition: right for tens of regions × a handful of metrics.
    */
  def extentsBy(df: DataFrame, groupCol: String, metricCols: Seq[String],
                lo: Double = 0.01, hi: Double = 0.99,
                approximate: Boolean = false): DataFrame =
    computeExtents(df, Seq(groupCol), metricCols, lo, hi, approximate)

  /** Shared extents engine: (groupCols..., id, vmin, vmax, q1, q99).
    *
    * EXACT path — [[ranks]] gives each group's n, min and max; its rank
    * pass picks only the values at the ≤ 4 target ranks ⌊h⌋+1 and ⌊h⌋+2
    * (clamped to n), h = (n-1)p, and the driver interpolates them as
    * d3.quantile / DuckDB `quantile_cont` (R-7) do:
    * v = v⌊h⌋ + (h-⌊h⌋)(v⌊h⌋₊₁ - v⌊h⌋).
    *
    * APPROXIMATE path — a GK sketch (ε = 1e-4) fed by the histogram, so
    * it updates once per DISTINCT value with weight `cnt`
    * ([[graft.functions.WeightedPercentileApprox]]); both quantiles share
    * one sketch buffer.
    */
  private def computeExtents(df: DataFrame, groupCols: Seq[String],
                             metricCols: Seq[String], lo: Double, hi: Double,
                             approximate: Boolean): DataFrame = {
    val names = sortedNames(metricCols)
    val long = numericLong(df, names, groupCols)
    val keys = groupCols :+ "id"
    if (approximate) {
      long.groupBy((keys :+ "value").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .groupBy(keys.map(col): _*)
        .agg(min("value").as("vmin"), max("value").as("vmax"),
          graft.functions.WeightedPercentileApprox.wpa(
            col("value"), col("cnt"), Seq(lo, hi), 10000).as("qq"))
        .select(groupCols.map(col) ++ Seq(metricName(names).as("id"),
          col("vmin"), col("vmax"), element_at(col("qq"), 1).as("q1"),
          element_at(col("qq"), 2).as("q99")): _*)
        .orderBy(keys.map(col): _*)
    } else {
      def targets(n: Long, p: Double): Seq[Long] = {
        val f = math.floor((n - 1) * p).toLong
        Seq(f + 1, math.min(f + 2, n))
      }
      val rows = Pipeline.withCheckouts { checkout =>
        val (hist, stats, walk) = ranks(checkout, long, keys)
        val want = stats.map { case (k, (n, _, _)) =>
          k -> (targets(n, lo) ++ targets(n, hi)) }.toMap
        val picked = hist.rdd.mapPartitions(walk).flatMap(r =>
          want(r.key).filter(t => r.before < t && t <= r.before + r.cnt)
            .map(t => (r.key, t) -> r.value)).collect().toMap
        for ((k, (n, vmin, vmax)) <- stats) yield {
          def q(p: Double): Double = {
            val h = (n - 1) * p
            val Seq(a, b) = targets(n, p).map(t => picked((k, t)))
            a + (h - math.floor(h)) * (b - a)
          }
          Row.fromSeq(k.init ++ Seq(names(k.last.asInstanceOf[Int]),
            vmin, vmax, q(lo), q(hi)))
        }
      }
      df.sparkSession.createDataFrame(rows.asJava, StructType(
        groupCols.map(long.schema(_)) ++ Seq(StructField("id", StringType)) ++
          Seq("vmin", "vmax", "q1", "q99").map(StructField(_, DoubleType))))
    }
  }

  private type Key = Seq[Any] // the group columns' values, metric index last
  private type Span = (Long, Double, Double) // row count, min, max

  /** A distinct value of `key`: `cnt` of its `n` rows hold it, `before` less. */
  private final case class Rank(key: Key, value: Double, cnt: Long,
                                before: Long, n: Long)

  /** Merges the spans of equal keys, keys in first-seen order. */
  private def foldSpans[K](spans: Iterator[(K, Span)]): Iterator[(K, Span)] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[K, Span]
    for ((k, (n, lo, hi)) <- spans) acc.updateWith(k) {
      case Some((n0, lo0, hi0)) => Some((n0 + n, math.min(lo0, lo), math.max(hi0, hi)))
      case None => Some((n, lo, hi))
    }
    acc.iterator
  }

  /** The (keys..., value) count histogram of a pre-filtered long table
    * (map-side partial counts, so only distinct values shuffle),
    * range-partitioned and sorted on (keys..., value), each row tagged
    * with its partition `pid`.
    */
  private[graft] def rangedHist(long: DataFrame, keys: Seq[String]): DataFrame = {
    val order = (keys :+ "value").map(col)
    long.groupBy(order: _*).agg(count(lit(1)).as("cnt"))
      .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .withColumn("pid", spark_partition_id())
  }

  /** The exact-rank kernel over the (keys..., value) of a pre-filtered
    * long table. Checks out its [[rangedHist]] and runs the COUNT pass
    * now: a fold per partition gives each key's row count, min and max
    * there. Returns the checkout, each key's (n, vmin, vmax) in the
    * histogram's key order, and the RANK pass: a fold over one
    * partition's rows giving each distinct value its exact cumulative
    * rank — the key's rows in earlier partitions (the driver's offsets)
    * plus a running sum. The rank pass must read THIS checkout: a
    * recomputed range shuffle samples new bounds, and the offsets hold
    * only for the partitions they were counted on. No group ever sorts
    * on one task; the driver holds a few numbers per (key, partition).
    */
  private def ranks(checkout: DataFrame => DataFrame, long: DataFrame, keys: Seq[String])
      : (DataFrame, Seq[(Key, Span)], Iterator[Row] => Iterator[Rank]) = {
    val hist = checkout(rangedHist(long, keys))
    val g = keys.size
    val spans = hist.rdd.mapPartitions(rows => foldSpans(rows.map(r =>
      ((r.getInt(g + 2), (0 until g).map(r.get)), (r.getLong(g + 1),
        r.getDouble(g), r.getDouble(g)))))).collect().sortBy(_._1._1)
    val stats = foldSpans(spans.iterator.map { case ((_, k), s) => k -> s }).toSeq
    val seen = scala.collection.mutable.Map.empty[Key, Long].withDefaultValue(0L)
    val offset = spans.map { case ((pid, k), (n, _, _)) =>
      val off = seen(k); seen(k) = off + n; (pid, k) -> off }.toMap
    val total = stats.map { case (k, (n, _, _)) => k -> n }.toMap
    (hist, stats, rows => {
      var (key, cum) = (null: Key, 0L)
      rows.map { r =>
        val k = (0 until g).map(r.get)
        if (k != key) { key = k; cum = offset((r.getInt(g + 2), k)) }
        val cnt = r.getLong(g + 1)
        cum += cnt
        Rank(k, r.getDouble(g), cnt, cum - cnt, total(k))
      }
    })
  }

  /** Equal-frequency (quantile) BINNING — Spark ML's QuantileDiscretizer
    * shape, exact: each metric's values split into `k` bins of near-equal
    * row count. Bin of a distinct value = `(cum_before · k) div n`, so
    * TIES STAY IN ONE BIN (a discretizer must map equal values equally)
    * and bins are balanced up to tie granularity; all rank arithmetic is
    * integer. Output: a driver-side frame of one row per (metric, bin)
    * with count and value range, ordered by (metric, bin).
    */
  def quantileBins(df: DataFrame, metricCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val names = sortedNames(metricCols)
    val rows = Pipeline.withCheckouts { checkout =>
      val (hist, _, walk) = ranks(checkout, numericLong(df, names), Seq("id"))
      val bins = hist.rdd.mapPartitions(rows => foldSpans(walk(rows).map(r =>
        (r.key.head.asInstanceOf[Int], math.min(k - 1L, r.before * k / r.n).toInt) ->
          (r.cnt, r.value, r.value)))).collect()
      foldSpans(bins.iterator).map { case ((id, bin), (n, lo, hi)) =>
        Row(names(id), bin, n, lo, hi) }.toSeq
    }
    df.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("metric", StringType), StructField("bin", IntegerType),
      StructField("n_rows", LongType), StructField("lo", DoubleType),
      StructField("hi", DoubleType))))
  }

  /** QUANTILE NORMALIZATION — sklearn's QuantileTransformer shape, exact:
    * every distinct value maps to its MIDRANK cdf (cum_before + cnt/2)/n,
    * so ties share one position (the quantileBins tie discipline) and the
    * output is uniform on (0,1) up to tie mass. Emits the per-distinct-
    * value mapping table (metric, value, n_rows, cdf), ordered by
    * (metric, value) — the artifact a deployment broadcasts back onto
    * rows. It stays distributed: its rank pass reads the histogram's
    * checkout, which the returned frame holds. The one double division
    * is of exact integers — engine-identical, merge-order-free.
    */
  def cdfTransform(df: DataFrame, metricCols: Seq[String]): DataFrame = {
    val names = sortedNames(metricCols)
    val (hist, _, walk) = ranks(_.localCheckpoint(eager = true),
      numericLong(df, names), Seq("id"))
    // the histogram is in (id, value) order, and id order is name order
    hist.mapPartitions(rows => walk(rows).map(r =>
        Row(r.key.head, r.value, r.cnt, r.before, r.n)))(Encoders.row(StructType(
        Seq(StructField("id", IntegerType), StructField("value", DoubleType)) ++
          Seq("cnt", "before", "n").map(StructField(_, LongType)))))
      .select(metricName(names).as("metric"), col("value"), col("cnt").as("n_rows"),
        round((col("before") + col("cnt") * 0.5) / col("n"), 6).as("cdf"))
  }

  /** `metricCols` in Spark's string order: the unpivot's metric index
    * then orders rows as the metric name does.
    */
  private def sortedNames(metricCols: Seq[String]): Seq[String] =
    metricCols.sortBy(UTF8String.fromString)

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
  private[graft] def numericLong(df: DataFrame, metricCols: Seq[String],
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
