package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-curation operators for the training-data pipeline tier:
  * deterministic splits, stratified sampling, and distribution
  * histograms.
  *
  * Spark-first design notes (100 TB scale):
  *  - splits/samples are HASH-based, not `rand()`-based: assignment is a
    *  pure function of the key, so it is reproducible across runs,
    *  engines (oracle-checkable), partitionings, and re-shards — the
    *  property a training pipeline needs so examples never leak between
    *  train and eval when data is re-processed.
  *  - everything is a narrow projection + one aggregate; no shuffles
  *    beyond the final rollups.
  */
object Curation {

  /** Deterministic bucket in [0, buckets) from a key: md5-derived 60-bit
    * hash mod buckets ([[TextStats.hash60]] — engine-reproducible; swap
    * `xxhash64` at deployment).
    */
  def hashBucket(key: Column, buckets: Int): Column =
    TextStats.hash60(key.cast("string")) % buckets

  /** Split assignment: "train" for buckets < trainPct, else "eval".
    * Percentages over 100 hash buckets.
    */
  def splitAssign(key: Column, trainPct: Int): Column =
    when(hashBucket(key, 100) < trainPct, lit("train")).otherwise(lit("eval"))

  /** Stratified deterministic sample: keep a row iff its key hashes
    * under the per-stratum fraction. `fractions` maps stratum value →
    * keep-fraction in [0,1]; missing strata default to 0.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       fractions: Map[String, Double]): DataFrame = {
    val pct = fractions.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 10000) < pct * 10000)
  }

  /** Source-balanced downsample (data mixing): every group is sampled
    * down to ≈ the SMALLEST group's size, flattening a skewed source /
    * language distribution before training. Keep decisions are
    * hash-deterministic per key (same reproducibility contract as
    * [[stratifiedSample]]), and the per-group keep-rate is computed in
    * pure BIGINT arithmetic — `floor(1e6 · n_min / n_g)` — so an oracle
    * engine reproduces the exact kept set (no float `pow` divergence).
    *
    * Scale shape: one aggregation over the group column (tiny result —
    * one row per source), a broadcast join of the thresholds, and a
    * map-side filter. The full corpus is scanned twice and never
    * shuffled. [[temperatureSample]] is the rate ∝ n_g^(α−1)
    * generalization (same plan, fixed-point pow threshold); this exact
    * integer-division form is its α = 0 special case kept for the
    * zero-float reproducibility guarantee.
    */
  def balancedSample(df: DataFrame, keyCol: String, groupCol: String): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min("__n").as("__nmin"))
    // `div`, not `/`: Spark's `/` is ALWAYS double division, and
    // double(1e6 · n_min) loses integer precision past 2^53 — integral
    // DIV keeps the threshold exact at any group size
    val thresholds = counts.crossJoin(broadcast(nMin))
      .select(col(groupCol),
        expr("(1000000L * __nmin) div __n").as("__thr"))
    df.join(broadcast(thresholds), groupCol)
      .filter(TextStats.hash60(col(keyCol).cast("string")) % 1000000L < col("__thr"))
      .drop("__thr")
  }

  /** Temperature-based source mixing (the UnifiedQA/mT5-style
    * generalization of [[balancedSample]]): group g keeps rate
    * `(n_min / n_g)^(1−α)` — α = 0 recovers the flatten-to-smallest
    * behavior, α = 1 keeps the natural distribution, values between
    * damp skew without erasing it.
    *
    * The keep threshold is FIXED-POINT at a declared precision of one
    * millionth: one double `pow` per GROUP, rounded half-up to an
    * integer count of millionths; the per-row keep decision is then
    * pure integer (`hash60(key) % 1e6 < thr`). An oracle engine whose
    * `pow` differs in the last ulp still reproduces the identical kept
    * set unless the rounded millionth itself flips (~1e-10 per group
    * — vs per-ROW divergence if rows compared doubles). Callers
    * mirroring in SQL must interpolate the exact double exponent
    * (1.0 − α as computed in IEEE-754, e.g. 0.30000000000000004 for
    * α = 0.7), not a re-typed decimal.
    *
    * Same scale shape as [[balancedSample]]: one tiny group-count
    * aggregation, broadcast thresholds, map-side filter; the corpus
    * never shuffles.
    */
  def temperatureSample(df: DataFrame, keyCol: String, groupCol: String,
                        alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min("__n").as("__nmin"))
    val thresholds = counts.crossJoin(broadcast(nMin))
      .select(col(groupCol),
        temperatureThreshold(col("__n"), col("__nmin"), alpha).as("__thr"))
    df.join(broadcast(thresholds), groupCol)
      .filter(TextStats.hash60(col(keyCol).cast("string")) % 1000000L < col("__thr"))
      .drop("__thr")
  }

  /** Fixed-point keep threshold in millionths for [[temperatureSample]]:
    * `round(1e6 · (nMin/n)^(1−α))` — exposed so callers (and tests) can
    * audit the per-group thresholds the sampler will apply.
    */
  def temperatureThreshold(n: Column, nMin: Column, alpha: Double): Column =
    round(pow(nMin.cast("double") / n.cast("double"), lit(1.0 - alpha))
      * 1000000.0).cast("long")

  /** Sequence-packing offsets (pretraining context packing): documents
    * concatenate in deterministic `idCol` order into one token stream
    * that is cut into fixed `windowSize` context windows; each doc gets
    * its cumulative END offset and the [first_window, last_window] span
    * it occupies — the bookkeeping a packed-pretraining loader needs to
    * locate every document. Zero-token docs must be filtered upstream
    * (they occupy no window; their span would be degenerate), and
    * `idCol` MUST be unique: the packing order is "by id", so tied ids
    * would make the per-row cumsum (a ROWS-frame window) assign the
    * tied rows' offsets arbitrarily per run — dedup ids first.
    *
    * Scale shape: the textbook `sum() over (order by id)` cumsum puts
    * the WHOLE corpus into one task — the single-partition trap. Here
    * the prefix sum is range-bucketed: the corpus-side running sum
    * windows partition BY BUCKET (`id div bucketWidth`), per-bucket
    * totals aggregate to one tiny row each, the cumulative pass over
    * those (bucket, sum) rows is the ONE acceptable single-partition
    * window (corpus_size / bucketWidth rows — thousands at 100 TB with
    * a ~1e6 width; recurse the same trick if that ever stops being
    * tiny), and the resulting
    * offsets broadcast-join back. Plan-audited: the only
    * SinglePartition exchange carries bucket sums, never corpus rows.
    */
  def packingOffsets(df: DataFrame, idCol: String, tokenCol: String,
                     windowSize: Int, bucketWidth: Long = 1L << 20): DataFrame = {
    require(windowSize >= 1 && bucketWidth >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__bkt").orderBy(idCol)
      .rowsBetween(Long.MinValue, 0)
    // checkout ([[graft.Pipeline.withCheckouts]]) AFTER the windowed
    // cumsum: the bucket-offset branch and the final join both consume
    // it, and without the barrier the scan + tokenization + bucket
    // shuffle + window execute twice (AQE does not stage-reuse across
    // the two window consumers — verified). The row is (id, tokens,
    // bkt, cum) = four longs; the corpus TEXT is long gone, so at
    // 100 TB this is ~32 B/doc. bucket total = MAX of the running sum
    // (no second aggregation over the raw input).
    val withCum = df
      .withColumn("__bkt", expr(s"`$idCol` div $bucketWidth"))
      .withColumn("__cum_in_bkt", sum(tokenCol).over(w))
      .localCheckpoint(eager = true)
    val bktSums = withCum.groupBy("__bkt")
      .agg(max("__cum_in_bkt").as("__bkt_sum"))
    // the documented ONE acceptable single-partition window — rows =
    // bucket sums, corpus_size/bucketWidth of them. partitionBy(lit(1))
    // documents the intent; it does NOT suppress WindowExec's "No
    // Partition Defined" warning (Catalyst folds the literal out of
    // the spec — measured, r18), so the tail-constrained consumer
    // (Bench) silences that logger instead.
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .orderBy("__bkt").rowsBetween(Long.MinValue, -1)
    val offsets = bktSums.select(col("__bkt"),
      coalesce(sum("__bkt_sum").over(wOff), lit(0L)).as("__off"))
    withCum.join(broadcast(offsets), "__bkt")
      .withColumn("cum_end", (col("__off") + col("__cum_in_bkt")).cast("long"))
      .withColumn("first_window",
        expr(s"(cum_end - `$tokenCol`) div $windowSize"))
      .withColumn("last_window", expr(s"(cum_end - 1) div $windowSize"))
      .withColumn("n_windows",
        (col("last_window") - col("first_window") + 1).cast("long"))
      .drop("__bkt", "__cum_in_bkt", "__off")
  }

  /** Next-fit BIN packing of documents into fixed token-capacity
    * training shards — [[packingOffsets]]'s sibling that assigns an
    * actual bin: docs in id order fill the current bin until the next
    * doc would overflow `capacity`, then a fresh bin opens (a doc
    * longer than capacity occupies a bin alone). Emits
    * (id, bucket, bin, bin_offset) where bin numbers restart per
    * bucket and bin_offset is the token position within the bin.
    *
    * Packing is sequential by construction (each bin boundary depends
    * on the full fill history), so the corpus partitions into
    * id-range BUCKETS of `bucketWidth` ids and packs within each —
    * bins never cross buckets (documented boundary semantics, the
    * same trade [[packingOffsets]] makes to avoid single-tasking the
    * corpus; the per-bucket tail waste is at most one partial bin).
    * One shuffle on the bucket key, then a sorted sequential fold per
    * group; group size is bounded by the id density of the bucket.
    * Ids must be non-negative (bucket = id / width truncates).
    */
  def nextFitPack(df: DataFrame, idCol: String, lenCol: String,
                  capacity: Long, bucketWidth: Long): DataFrame = {
    require(capacity >= 1 && bucketWidth >= 1)
    val ss = df.sparkSession
    import ss.implicits._
    df.select(col(idCol).cast("long"), col(lenCol).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1 / bucketWidth)
      .flatMapGroups { (bucket, it) =>
        val docs = it.toArray.sortBy(_._1)
        val out = new Array[(Long, Long, Long, Long)](docs.length)
        var bin = 0L
        var fill = 0L
        var i = 0
        while (i < docs.length) {
          val (id, len) = docs(i)
          if (fill > 0 && fill + len > capacity) { bin += 1; fill = 0 }
          out(i) = (id, bucket, bin, fill)
          fill += len
          i += 1
        }
        out
      }
      .toDF(idCol, "bucket", "bin", "bin_offset")
  }

  /** Reproducible training-order shuffle: the global example
    * permutation every epoch of training consumes, derived from a
    * seeded hash instead of `rand()` so the order is a pure function
    * of (seed, id) — re-running an epoch replays it bit-identically,
    * and changing the seed re-permutes (the per-epoch reshuffle).
    * Each id gets `h = hash60(seed ':' id)`; its shard is `h %
    * shards` and its position within the shard is the rank of `h`
    * there — the sharded-shuffle layout training readers consume
    * (one file-group per shard, each internally ordered; readers
    * interleave shards for the global stream).
    *
    * Scale shape (100 TB): a literal global `ORDER BY h` would be
    * the right semantics but materializes one total order (range
    * exchange + full sort over the corpus) nobody needs — readers
    * consume SHARDS. Here the window partitions by shard, so the
    * sort is `shards` independent n/shards-row sorts, no
    * SinglePartition stage anywhere; the hash both balances shard
    * sizes (uniform over the 60-bit space) and provides the
    * within-shard order for free.
    */
  def trainShuffle(df: DataFrame, idCol: String, seed: Long,
                   shards: Int): DataFrame = {
    require(shards >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col(idCol))
    df.select(col(idCol),
        TextStats.hash60(
          concat(lit(s"$seed:"), col(idCol).cast("string"))).as("h"))
      .withColumn("shard", col("h") % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), lit(seed).as("seed"), col("shard"), col("pos"))
  }

  /** Hashed-unigram importance weights for data selection — the DSIR
    * shape (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much more
    * likely its tokens are under a TARGET distribution (a trusted
    * high-quality subset — Wikipedia-like sources, an in-domain seed
    * set) than under the raw-corpus distribution, using hashed n-gram
    * bucket counts as the tractable stand-in for a vocabulary model.
    * Per document: `logw = Σ_tok log10(p_target(b(tok)) /
    * p_raw(b(tok)))` with `b` = 60-bit md5 hash mod `buckets`
    * ([[hashBucket]] — engine-reproducible) and both distributions
    * add-one smoothed over the bucket space (the q67 discipline).
    * Positive ⇒ the doc reads more target-like than corpus-average;
    * DSIR resamples proportionally to exp(logw) — the deterministic
    * `selected = logw > 0` flag is the rank-free decision face.
    *
    * Scale shape (100 TB):
    *  - ONE corpus token scan feeds both distributions (target counts
    *    ride as a conditional aggregate of the same groupBy — the
    *    target subset is identified by a per-row predicate, not a
    *    second scan) and is checked out for the scoring pass (q67's
    *    single-scan pattern, [[graft.Pipeline.withCheckouts]]).
    *  - the learned object is `buckets` rows — broadcast; the per-token
    *    scoring work is an integer lookup + long sum (all log10 happens
    *    once per BUCKET on the tiny weight frame, never per token —
    *    micro-integer weights make the per-doc sum order-independent,
    *    exact in any engine).
    *  - nothing corpus-sized shuffles except the (bucket-keyed) token
    *    count aggregation and the per-doc sum, both map-side-combined
    *    hash aggs.
    *
    * Emits (idCol, n_tokens, logw, avg_logw, selected); zero-token
    * docs are excluded (nothing to score — the q67 contract).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, buckets: Int): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val toks = df.select(col(idCol), isTarget.as("__tgt"),
        explode(TextStats.tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .select(col(idCol), col("__tgt"),
        hashBucket(col("__tok"), buckets).as("__b"))
      .localCheckpoint(eager = true)
    val bucketCounts = toks.groupBy("__b")
      .agg(count(lit(1)).as("__cr"),
        count(when(col("__tgt"), lit(1))).as("__ct"))
    val totals = bucketCounts.agg(sum("__cr").as("__nr"), sum("__ct").as("__nt"))
    val weights = bucketCounts.crossJoin(broadcast(totals))
      .select(col("__b"),
        round((log10((col("__ct") + 1.0) / (col("__nt") + buckets)) -
          log10((col("__cr") + 1.0) / (col("__nr") + buckets))) * 1000000.0)
          .cast("long").as("__lw_micro"))
    toks
      .join(broadcast(weights), Seq("__b"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__lw_micro").as("__sum_micro"))
      .select(col(idCol), col("n_tokens"),
        round(col("__sum_micro") / 1000000.0, 6).as("logw"),
        round(col("__sum_micro") / (col("n_tokens") * 1000000.0), 6)
          .as("avg_logw"),
        (col("__sum_micro") > 0L).as("selected"))
  }

  /** Fixed-width histogram of a numeric column: bucket i covers
    * [lo + i*w, lo + (i+1)*w); values at/above hi clamp to the last
    * bucket, below lo to the first.
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                buckets: Int): DataFrame = {
    val w = (hi - lo) / buckets
    val b = least(lit(buckets - 1), greatest(lit(0),
      floor((col(valueCol) - lo) / w).cast("int")))
    // null values must be EXCLUDED, not land in bucket 0 (Spark's
    // greatest() skips nulls, which would silently count them)
    df.filter(col(valueCol).isNotNull).select(b.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("lo", round(lit(lo) + col("bucket") * w, 6))
      .withColumn("hi", round(lit(lo) + (col("bucket") + 1) * w, 6))
  }

  /** Weighted sampling WITHOUT replacement, k per stratum — the
    * Efraimidis–Spirakis (2006) exponential-keys reservoir, made
    * deterministic: each row's uniform comes from the seeded key hash
    * (`u = (hash60(seed:key)+1)/2^60`), its E-S sort key is
    * `-ln(u)/weight`, and the k smallest keys per stratum are the
    * sample (tie → key order). Selection probability is exactly
    * weight-proportional without-replacement, and — like every sampler
    * here — a pure function of (seed, key): reprocessing, re-sharding,
    * or re-running reproduces the identical sample; changing the seed
    * redraws it.
    *
    * The sort key is FIXED-POINT at nano precision (`round(·×1e9)` as
    * BIGINT) before ranking: both engines compute `ln` from identical
    * integer inputs but may differ in the last ulp, and ranking on the
    * quantized integer (ties broken by key) makes the selected set
    * engine-exact — the same declared-precision trick as
    * [[temperatureSample]]'s millionth thresholds. At nano precision a
    * last-ulp `ln` flip moves a key across an integer boundary with
    * probability ~1e-8 per row; per-row double comparison would flip
    * ranks at ~1e-4.
    *
    * Scale shape: one narrow projection (hash + ln, codegen'd, no
    * shuffle) and ONE rank window per stratum that the optimizer
    * rank-limits (WindowGroupLimit): each map task forwards at most k
    * rows per stratum, so the shuffle carries ~k·strata rows, not the
    * corpus. Non-positive weights are excluded (their E-S key is
    * undefined).
    *
    * Weight DOMAIN: E-S selection is weight-scale-invariant, but the
    * nano fixed-point quantization is not — a weight below ~5e-9
    * pushes `-ln(u)/w·1e9` past Long range, where the ANSI cast (and
    * the oracle's CAST) raises. Callers with tiny normalized weights
    * (probabilities over a large corpus) should pre-scale so the
    * minimum weight is ≥ ~1e-6; scaling all weights by a constant
    * does not change the drawn sample, only keeps the keys in range
    * (q124 uses raw char counts ≥ 1 — comfortably inside).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      stratumCol: String, k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (TextStats.hash60(
        concat_ws(":", lit(seed), col(keyCol).cast("string"))) + lit(1L))
      .cast("double") / lit(math.pow(2.0, 60))
    val skey = round(-log(u) / col(weightCol).cast("double") * lit(1e9))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(col("__skey"), col(keyCol))
    df.filter(col(weightCol) > 0)
      .withColumn("__skey", skey)
      .withColumn("samp_rank", row_number().over(w))
      .filter(col("samp_rank") <= k)
      .drop("__skey")
  }
}
