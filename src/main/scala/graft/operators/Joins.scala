package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators mirroring the reference's tile-join semantics.
  *
  * Reference (`/root/reference/build.sh`):
  *  - J1 attribute join: `tile-join -c <decade>.csv <tiles>.mbtiles`
  *    attaches CSV columns to tile features by GEOID
  *    (`build.sh:189,210`);
  *  - J2 `--if-matched`: only features that matched a CSV row keep data →
  *    inner-join semantics (`build.sh:189,210`);
  *  - J3 tileset union-merge: `tile-join a.mbtiles b.mbtiles` merges the
  *    choropleth and bubble layers keyed `(z,x,y)` (`build.sh:214`).
  *
  * Scale notes: the attribute side is a per-geoid wide table (≤ millions
  * of rows, few hundred MB) while the geometry/tile side fans out per
  * zoom level — so the attribute side is the BROADCAST side and the join
  * never shuffles the big side. The layer merge is a full-outer
  * key-aligned join; at 100 TB both sides arrive hash-partitioned by the
  * same key from their upstream groupBys, so AQE plans a zero-exchange
  * sort-merge.
  */
object Joins {

  /** J1+J2: attach attribute columns to the feature side by key.
    * `ifMatched = true` reproduces `--if-matched` (inner); false keeps
    * unmatched features with null attributes (left outer).
    *
    * The broadcast hint is SIZE-GATED by Catalyst's own estimate of
    * the attribute side: regional tables (the reference's common
    * case — counties is ~3k rows) broadcast so the feature side never
    * shuffles, but a national-scale slice (block groups: 217k rows ×
    * ~213 decade columns, the PipeScale r15 OOM) stays unhinted — the
    * optimizer plans the shuffle join, and AQE still runtime-converts
    * to broadcast if the REAL built size turns out small. An
    * unconditional hint at that width exhausts the driver; an
    * unconditional shuffle wastes the small-region case.
    */
  def attributeJoin(features: DataFrame, attrs: DataFrame, key: String,
                    ifMatched: Boolean = true,
                    broadcastBudget: Long = 64L << 20): DataFrame = {
    val est = attrs.queryExecution.optimizedPlan.stats.sizeInBytes
    val side = if (est <= broadcastBudget) broadcast(attrs) else attrs
    features.join(side, Seq(key), if (ifMatched) "inner" else "left_outer")
  }

  /** J3: merge two layer tables on a shared key, keeping rows present in
    * either layer (full outer), with the key coalesced.
    */
  def layerMerge(a: DataFrame, b: DataFrame, key: Seq[String]): DataFrame =
    a.join(b, key, "full_outer")

  /** Skew-salted equi-join: the big side gets a deterministic salt in
    * [0, factor) derived from `saltBy` (any high-cardinality column —
    * NOT the join key), the small side is replicated once per salt
    * value, and the join runs on (key, salt) so one hot key spreads over
    * `factor` reducers.
    *
    * AQE's skew-join split handles most cases at runtime; explicit
    * salting remains the tool when one key dominates a whole stage
    * (e.g. a null-heavy foreign key at 100 TB). Results are identical to
    * the plain join (asserted in CoreOperatorsSpec).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBy: String, factor: Int): DataFrame = {
    val salted = big.withColumn("__salt", pmod(hash(col(saltBy)), lit(factor)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The profile's executable verdict: salt or not, plus the inputs
    * the thresholds fired on (for logs / specs).
    */
  case class SkewVerdict(salt: Boolean, top1Share: Double,
                         maxOverMean: Double, gini: Double)

  /** Last verdict computed by [[skewAwareJoin]] in this JVM — the
    * decision observable (the join returns only rows).
    */
  private[graft] val lastSkewVerdict =
    new java.util.concurrent.atomic.AtomicReference[SkewVerdict]()

  /** Decide from [[Analytics.keySkewProfile]]'s one-row readout
    * whether a shuffle join keyed on `key` needs salting: either the
    * top 1% of keys carry ≥ `topShareHot` of the rows (a hot HEAD —
    * many reducers idle while a few drown) or the single hottest key
    * is ≥ `maxOverMeanHot`× the mean (one pathological key — the
    * null-heavy-foreign-key shape AQE's split sometimes misses when
    * the stage's other partitions are also large). Thresholds default
    * to fire well above uniform hash noise (uniform keys profile at
    * top1pct_share ≈ 0.01–0.05, max/mean ≈ 1–3).
    *
    * One profiling pass over `big`'s key column (count-of-counts
    * collapse — see the q130 operator): a deployment profiles a
    * table's join keys ONCE per snapshot and stores the verdicts next
    * to the table statistics, not per query — route through
    * [[ArtifactCache]] when calling repeatedly on an immutable
    * corpus.
    */
  def skewVerdict(big: DataFrame, key: String,
                  topShareHot: Double = 0.2,
                  maxOverMeanHot: Double = 50.0): SkewVerdict = {
    val r = Analytics.keySkewProfile(big, key).head()
    val top = r.getAs[Double]("top1pct_share")
    val mom = r.getAs[Long]("max_cnt").toDouble /
      math.max(r.getAs[Double]("mean_cnt"), 1e-12)
    SkewVerdict(top >= topShareHot || mom >= maxOverMeanHot,
      top, mom, r.getAs[Double]("gini"))
  }

  /** Salt fan-out sized FROM the measured skew, not a constant: the
    * hottest key holds ~max/mean reducer-loads of rows, so spreading
    * it back to ~mean load needs ~max/mean sub-keys — rounded up to a
    * power of two (hash-mod spreads evenly over powers of two), then
    * capped at the shuffle partition count (beyond one sub-key per
    * reducer there is nothing left to spread over, and the small
    * side's replication cost keeps growing). Floor of 2: a derived
    * factor is only requested when the verdict already said hot.
    */
  def derivedSaltFactor(maxOverMean: Double, shufflePartitions: Int): Int = {
    val pow = math.ceil(
      math.log(math.max(maxOverMean, 2.0)) / math.log(2.0)).toInt
    math.max(2, math.min(1 << math.min(pow, 30),
      math.max(shufflePartitions, 2)))
  }

  /** Skew-profile-driven equi-join — the wiring from q130's readout
    * to an executable plan choice: profile `big`'s key distribution,
    * then run [[saltedJoin]] when the verdict says hot and the plain
    * equi-join otherwise. Result rows are IDENTICAL either way
    * (salting only re-buckets the shuffle; CoreOperatorsSpec pins
    * parity on a deliberately hot fixture), so the decision is purely
    * a latency/stability choice and safe to automate.
    *
    * `factor` ≤ 0 (the default) derives the fan-out from the measured
    * profile via [[derivedSaltFactor]] — the decision wire carries
    * the MAGNITUDE of the skew, not just its existence (an
    * adversarially hot key fans to min(2^⌈log₂(max/mean)⌉, shuffle
    * partitions) sub-keys instead of a hardcoded constant). Pass an
    * explicit positive factor to pin it.
    */
  def skewAwareJoin(big: DataFrame, small: DataFrame, key: String,
                    saltBy: String, factor: Int = 0,
                    topShareHot: Double = 0.2,
                    maxOverMeanHot: Double = 50.0): DataFrame = {
    val v = skewVerdict(big, key, topShareHot, maxOverMeanHot)
    lastSkewVerdict.set(v)
    if (v.salt) {
      val f = if (factor > 0) factor
        else derivedSaltFactor(v.maxOverMean,
          big.sparkSession.sessionState.conf.numShufflePartitions)
      saltedJoin(big, small, key, saltBy, f)
    } else big.join(small, Seq(key))
  }

  /** Banded range join: pairs (l, r) with the same key and
    * `r.ts ∈ [l.ts, l.ts + maxDelta]` (microsecond columns).
    *
    * Catalyst plans a raw inequality join as a broadcast-nested-loop —
    * quadratic per key. Here both sides bucket by `floor(ts / maxDelta)`
    * and the left side fans out to its bucket and the next one (any
    * right ts within delta lands in one of the two), making the join a
    * standard shuffle EQUI-join on (key, bucket) with a residual range
    * filter — linear in matches, the canonical interval-join idiom.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                leftTsUs: String, rightTsUs: String, maxDeltaUs: Long): DataFrame = {
    val lb = left.withColumn("__bucket",
      explode(array(floor(col(leftTsUs) / maxDeltaUs),
        floor(col(leftTsUs) / maxDeltaUs) + 1)))
    val rb = right.withColumn("__bucket", floor(col(rightTsUs) / maxDeltaUs))
    lb.join(rb, Seq(key, "__bucket"))
      .filter(col(rightTsUs) >= col(leftTsUs) &&
        col(rightTsUs) <= col(leftTsUs) + maxDeltaUs)
      .drop("__bucket")
  }

  /** J6: FUZZY string-key join — the messy-feed-to-catalog matcher
    * (misspelled place names, OCR'd vendor names, near-identical product
    * titles): returns the DISTINCT key-level match table
    * (left_key, right_key, jaccard) for every cross-side key pair whose
    * char-`k`-gram Jaccard similarity is ≥ `tau`; callers join it back
    * to their row tables. Working at KEY level (each side's keys
    * dedupe before shingling) is the scale shape — |distinct keys| is
    * usually orders below |rows|.
    *
    * Plan (never all-pairs):
    *  1. normalize + char-k-gram-hash each side's distinct keys (the
    *     q21 fingerprint kernel — native one-pass expression, 60-bit
    *     md5 hashes, oracle-reproducible);
    *  2. CANDIDATE pairs = cross-side equi-join on the gram hash,
    *     df-pruned (grams hotter than `maxDf` excluded) and
    *     PREFIX-FILTERED (only each key's ⌊(1−τ)·|g|⌋+1 rarest grams
    *     probe — result-neutral, see [[fuzzyCandidates]]). The gram-df
    *     table grows with the distinct-key space: `broadcastDf = false`
    *     switches its joins from broadcast to shuffle when the key
    *     space outgrows an executor-sized vocabulary;
    *  3. VERIFY each candidate with the FULL gram sets (exact Jaccard
    *     over the distinct 60-bit hash arrays — candidates are few
    *     post-prune, so the per-pair intersect is cheap).
    *
    * Recall contract: a pair ALL of whose shared grams are hot is
    * never considered (the standard df-prune trade); the verify stage
    * makes precision exact. Deterministic end to end — the DuckDB
    * oracle reproduces the same prune + verify cell-exact.
    */
  def fuzzyKeyJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   k: Int, tau: Double, maxDf: Int,
                   broadcastDf: Boolean = true,
                   usePrefix: Boolean = true): DataFrame = {
    require(k >= 1 && tau >= 0.0 && tau <= 1.0 && maxDf >= 1)
    // PPJoin PREFIX bound for Jaccard τ: J ≥ τ ⟹ |A\B| ≤ (1−τ)·|A|, so
    // under ANY shared total gram order the smallest shared gram sits
    // within the first ⌊(1−τ)·|A|⌋+1 of A's ordered grams (and B's,
    // symmetrically). The 1e-6 slack covers the verify stage's
    // round-to-6 admission (a true J of τ−5e-7 rounds up to pass) plus
    // fp noise in the product — so the prefix is RESULT-NEUTRAL against
    // the rounded-Jaccard filter (spec-pinned A/B on a fuzz corpus).
    val jaccardPrefix: Column => Column =
      n => (floor(lit(1.0 - tau + 1e-6) * n) + 1).cast("int")
    val stage = fuzzyCandidates(left, right, leftKey, rightKey,
      k, maxDf, jaccardPrefix, broadcastDf, usePrefix)
    val (l, r, cand) = (stage.l, stage.r, stage.cand)
    cand
      .join(l, "left_key")
      .join(r.withColumnRenamed("__sh", "__shr"), "right_key")
      // SIZE filter (PPJoin family, result-neutral): |A∩B| ≤ min sizes
      // and |A∪B| ≥ max sizes, so J ≤ min/max — a pair whose smaller
      // gram set is under tau·(larger) can never reach tau; prune it
      // before the per-pair intersect (the expensive step)
      .where(least(size(col("__sh")), size(col("__shr"))).cast("double") >=
        lit(tau) * greatest(size(col("__sh")), size(col("__shr"))))
      .withColumn("__c",
        size(array_intersect(col("__sh"), col("__shr"))).cast("double"))
      .withColumn("jaccard", round(col("__c") /
        (size(col("__sh")) + size(col("__shr")) - col("__c")), 6))
      .where(col("jaccard") >= tau)
      .select("left_key", "right_key", "jaccard")
  }

  /** J6b: edit-distance fuzzy key join — the same df-pruned gram
    * candidate generation as [[fuzzyKeyJoin]], verified with exact
    * Levenshtein distance ≤ `maxDist` instead of gram Jaccard (the
    * classic production pairing: cheap set-similarity prefilter, exact
    * edit-distance confirm — Jaccard tolerates reordering, edit
    * distance pins character-level closeness). `levenshtein` is an
    * identically-defined native function in both engines, so the
    * oracle reproduces the verify cell-exact. Same recall contract as
    * the Jaccard face: a pair sharing only hot grams is never
    * considered; additionally a pair within `maxDist` edits but
    * sharing NO k-gram (possible only when maxDist ≥ len/k-ish edits
    * scatter every gram) is missed — the standard prefilter bound,
    * documented.
    */
  def fuzzyKeyJoinEdit(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       k: Int, maxDist: Int, maxDf: Int,
                       broadcastDf: Boolean = true,
                       usePrefix: Boolean = true): DataFrame = {
    require(k >= 1 && maxDist >= 0 && maxDf >= 1)
    // PREFIX bound for edit distance d: one edit destroys ≤ k distinct
    // k-grams, so ed(a,b) ≤ d ⟹ |A\B| ≤ k·d and the smallest shared
    // gram sits within the first k·d+1 ordered grams of either side —
    // a CONSTANT prefix, independent of key length. (Grams hash the
    // NORMALIZED key while the verify measures the raw key: normalize —
    // charwise lowercase + whitespace collapse — never increases edit
    // distance, so the raw-ed bound transfers to the normalized grams.)
    val editPrefix: Column => Column =
      n => least(n, lit(k * maxDist + 1)).cast("int")
    val cand = fuzzyCandidates(left, right, leftKey, rightKey,
      k, maxDf, editPrefix, broadcastDf, usePrefix).cand
    cand
      // LENGTH filter (result-neutral): the length difference
      // lower-bounds edit distance, so prune before the O(len²)
      // levenshtein — the classic cheap gate of edit-distance joins
      .where(abs(length(col("left_key")) - length(col("right_key")))
        <= maxDist)
      .withColumn("dist", levenshtein(col("left_key"), col("right_key")))
      .where(col("dist") <= maxDist)
      .select("left_key", "right_key", "dist")
  }

  /** Shared candidate stage of the fuzzy join family: distinct keys per
    * side → char-k-gram hash sets → df-pruned, PREFIX-FILTERED
    * cross-side gram equi-join. Returns the two keyed frames (with
    * their `__sh` gram arrays, for verify stages that need them) and
    * the DISTINCT candidate pair table.
    *
    * Plan, in order:
    *  1. every gram's cross-side document frequency (one groupBy);
    *     grams with df = 1 drop immediately — a gram on one side only
    *     can never produce a candidate — so the carried df table holds
    *     only REPEATED grams (≤ Σ|grams|/2 rows by construction,
    *     usually far fewer);
    *  2. each side's exploded grams take their df by an equi-join
    *     (inner — the df-1 drop rides it for free) and grams hotter
    *     than `maxDf` filter out (the non-discriminative boilerplate
    *     prune — "Customer#0…" prefixes would fan the equi-join toward
    *     all-pairs). `broadcastDf = true` (default) hints the df table
    *     broadcast — right while the repeated-gram vocabulary is
    *     executor-sized; at very large distinct-key counts the table
    *     grows linearly with the key space, so pass `false` to fall
    *     back to shuffle hash joins;
    *  3. PREFIX filter (PPJoin): each key's grams rank in the global
    *     (df asc, hash) order — rarest first, over the key's FULL gram
    *     set (df-1 grams included via a left join, hot grams last) —
    *     and only the first `prefixLen(|g|)` grams that also pass the
    *     df filters generate candidates. The caller supplies the bound
    *     that makes this RESULT-NEUTRAL for its verify predicate
    *     (Jaccard: ⌊(1−τ)|g|⌋+1; edit: k·d+1 — see the call sites);
    *     any qualifying pair's MINIMUM shared gram in that order is
    *     provably surviving and inside both prefixes, so the candidate
    *     set keeps every pair the verify can accept while the
    *     equi-join input shrinks ~(1−τ)-fold per side. Ranking is one
    *     window per side partitioned by key — distinct keys, never raw
    *     rows.
    *
    * Recall contract (unchanged by the prefix): a pair ALL of whose
    * shared grams are hot is never considered — the standard df-prune
    * trade; the verify stage keeps precision exact and the oracle
    * reproduces prune + verify cell-exact.
    */
  /** Intermediates of the candidate stage, for the verify faces and
    * the instrumentation spec: the two keyed frames (with full `__sh`
    * gram arrays), the two PRUNED exploded gram frames (post df-prune,
    * post prefix), and the DISTINCT candidate pair table.
    */
  private[graft] final case class FuzzyStage(
      l: DataFrame, r: DataFrame,
      prunedL: DataFrame, prunedR: DataFrame, cand: DataFrame)

  private[graft] def fuzzyCandidates(left: DataFrame, right: DataFrame,
                                     leftKey: String, rightKey: String,
                                     k: Int, maxDf: Int,
                                     prefixLen: Column => Column,
                                     broadcastDf: Boolean = true,
                                     usePrefix: Boolean = true)
      : FuzzyStage = {
    def keyed(df: DataFrame, keyCol: String, out: String): DataFrame =
      df.select(col(keyCol).cast("string").as(out)).distinct()
        .withColumn("__sh", array_distinct(
          TextStats.shingleHashExpr(out, k)))
    val l = keyed(left, leftKey, "left_key")
    val r = keyed(right, rightKey, "right_key")
    def exploded(df: DataFrame, key: String): DataFrame =
      df.select(col(key), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("h"))
    val lex = exploded(l, "left_key")
    val rex = exploded(r, "right_key")
    val dfRep = lex.select("h").unionAll(rex.select("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val dfSide = if (broadcastDf) broadcast(dfRep) else dfRep
    def pruned(ex: DataFrame, key: String): DataFrame = {
      if (!usePrefix)
        ex.join(dfSide, Seq("h")).where(col("df") <= maxDf)
          .select(key, "h")
      else {
        // PPJoin prefix, textbook form: rank each key's grams in the
        // FULL global (df asc, hash) order — df-1 grams take df=1 via
        // the left join's coalesce (they are A\B members the bound
        // counts, so they must occupy rank slots), hot grams sort LAST
        // (df desc-most) — take the first prefixLen(|A|) grams, THEN
        // apply the df ≥ 2 / ≤ maxDf candidate filters. Neutrality: for
        // any pair sharing a surviving gram, the order puts every
        // surviving gram before every hot one and df-1 grams are never
        // shared, so min(A∩B) is itself surviving; its rank in A is
        // ≤ |A\B|+1 ≤ prefixLen(|A|) (everything ranked before it is in
        // A\B), hence it survives in BOTH prefixes.
        val w = Window.partitionBy(key).orderBy(col("__df"), col("h"))
        ex.join(dfSide, Seq("h"), "left_outer")
          .withColumn("__df", coalesce(col("df"), lit(1L)))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= prefixLen(col("__n")))
          .where(col("df").isNotNull && col("df") <= maxDf)
          .select(key, "h")
      }
    }
    val pl = pruned(lex, "left_key")
    val pr = pruned(rex, "right_key")
    val cand = pl.join(pr, "h")
      .select("left_key", "right_key").distinct()
    FuzzyStage(l, r, pl, pr, cand)
  }
}
