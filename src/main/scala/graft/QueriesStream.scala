package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Streaming-twin query batch: the batch formulations of the streaming
  * tier's transforms (SURVEY.md §2.9), oracle-checked. The streaming
  * variants run the same code over `readStream` (see StreamingSpec).
  */
object QueriesStream {
  import Tables._

  // Batch sessionization: 30-minute inactivity gap per user.
  def q34Sessionize(s: SparkSession, d: String): DataFrame =
    Streaming.sessionizeBatch(
        events(s, d).select("user_id", "ts", "value"), gapMs = 30 * 60 * 1000L)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n_events"), col("total"))
      .orderBy("user_id", "s_start")

  val q34Sql: String =
    """WITH m AS (
      | SELECT user_id, ts, value,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |       THEN 1 ELSE 0 END AS new_session
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      | SELECT user_id, ts, value,
      |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      | FROM m)
      |SELECT user_id,
      | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
      | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end,
      | count(*) AS n_events, round(sum(value), 2) AS total
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, s_start""".stripMargin

  // G7 distinct / count-distinct: exact per-group distinct counts
  // (oracle-checked); the HLL approx_count_distinct scale path is
  // asserted within 5% of exact in ExtensionOperatorsSpec.
  def q35CountDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val q35Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      | count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // JSON property extraction (`events.props` is a JSON string): typed
  // get_json_object + per-key rollup — the JSON-function surface of the
  // extension tier (SURVEY.md §2.2 notes).
  // The null-k filter is folded INTO the aggregate: count(k) counts only
  // non-null rows and sum/min/max already ignore nulls, so a pre-agg
  // `filter(k.isNotNull)` would only exclude all-null groups — which the
  // post-agg `n > 0` does identically. This matters for the plan: the
  // pushed-down predicate re-evaluated `get_json_object` beneath the
  // aggregation (parse once for the filter, again for the agg input);
  // with no row filter the JSON parse runs exactly once per row.
  def q45JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"), sum("k").as("k_sum"),
        min("k").as("k_min"), max("k").as("k_max"))
      .filter(col("n") > 0)
      .orderBy("event_type")

  val q45Sql: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |WHERE k IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // RANGE-frame window: per-user trailing 1-hour event-value sum —
  // value-based frames over microsecond time (numeric RANGE frame, same
  // semantics both engines).
  def q46RangeFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    events(s, d)
      .withColumn("hour_sum", round(sum("value").over(w), 2))
      .select(col("event_id").as("eid"), col("user_id"), col("hour_sum"))
      .orderBy("eid")
  }

  val q46Sql: String =
    """SELECT event_id AS eid, user_id,
      | round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS hour_sum
      |FROM events ORDER BY eid""".stripMargin

  // Pairwise audience overlap via KMV (bottom-k) distinct sketches:
  // |A∩B| / |A∪B| across every event-type pair, where an "audience" is
  // the distinct high-value (> 150) user set of one event type.
  //
  // Scale story (the reason this is NOT count(distinct) per pair): one
  // pass builds a ≤ k-long sketch per type with map-side partial
  // aggregation — raw user ids never cross the shuffle, only k·8-byte
  // arrays — and the full pairwise panel is then codegen'd array math
  // over the 5-row sketch frame (broadcast self-join; the
  // nested-loop there is over #event-types rows, not data). Adding a
  // 6th type or a 100× corpus changes sketch-build cost only.
  //
  // Oracle hook: distinct audiences here (150/1500 users at
  // sf0.01/sf0.1) sit far below k = 16384, so every estimator returns
  // the exact value (KmvSketch's exactness contract) and DuckDB can
  // check the whole panel; the saturated-regime estimator is
  // spec-pinned in KmvSketchSpec instead.
  /** The one sketch-build pass over the corpus (exposed pre-checkpoint
    * so PlanAuditSpec can pin its partial-aggregate shape).
    */
  private[graft] def q120Sketches(s: SparkSession, d: String,
      k: Int): DataFrame =
    events(s, d)
      .filter(col("value") > 150)
      .groupBy(col("event_type"))
      .agg(graft.functions.Kmv.sketch(xxhash64(col("user_id")), k).as("sk"))

  private[graft] val q120K = 16384

  def q120AudienceOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Kmv
    val k = q120K
    // one sketch-build pass; the #types-row result is materialized so
    // the self-join's two sides don't each re-scan the corpus
    val aud = q120Sketches(s, d, k).localCheckpoint(eager = true)
    val a = aud.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = aud.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        round(Kmv.estimateDistinct(col("ska"), k), 6).as("users_a"),
        round(Kmv.estimateDistinct(col("skb"), k), 6).as("users_b"),
        round(Kmv.intersectEstimate(col("ska"), col("skb"), k), 6)
          .as("inter_est"),
        round(Kmv.unionEstimate(col("ska"), col("skb"), k), 6)
          .as("union_est"),
        round(Kmv.jaccardEstimate(col("ska"), col("skb"), k), 6)
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val q120Sql: String =
    """WITH a AS (SELECT DISTINCT event_type AS t, user_id AS u
      |           FROM events WHERE value > 150),
      |c AS (SELECT t, count(*) AS n FROM a GROUP BY t),
      |i AS (SELECT x.t AS ta, y.t AS tb, count(*) AS ni
      |      FROM a x JOIN a y ON x.u = y.u AND x.t < y.t GROUP BY 1, 2)
      |SELECT i.ta AS type_a, i.tb AS type_b,
      | round(ca.n * 1.0, 6) AS users_a,
      | round(cb.n * 1.0, 6) AS users_b,
      | round(i.ni * 1.0, 6) AS inter_est,
      | round((ca.n + cb.n - i.ni) * 1.0, 6) AS union_est,
      | round(i.ni * 1.0 / (ca.n + cb.n - i.ni), 6) AS jaccard
      |FROM i JOIN c ca ON ca.t = i.ta JOIN c cb ON cb.t = i.tb
      |ORDER BY type_a, type_b""".stripMargin

  // q122: retention cohort matrix — users bucketed by first-seen day,
  // distinct users per (cohort, day-offset) cell. The first-event day
  // comes from a window min over the user partition, NOT a self-join:
  // one shuffle keys the raw stream by user, and the cohort label rides
  // each row into the (cohort, offset) count-distinct — at 100 TB the
  // alternative "min per user then join back" moves the corpus twice.
  def q122RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort", min(col("day")).over(w))
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"), col("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  val q122Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, day,
      |       min(day) OVER (PARTITION BY user_id) AS cohort FROM e)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |       datediff('day', cohort, day) AS offset_days,
      |       count(DISTINCT user_id) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // q123: ordered conversion funnel view → click → purchase with
  // FIRST-MATCH, 24-hour-window semantics (a stage counts only if it
  // happens strictly after — and within 24 h of — the user's first
  // completion of the previous stage; without the window every active
  // user trivially converts over a month of events and the funnel
  // cannot discriminate: 150→60→25 users at sf0.01 with it). Three
  // chained window mins over the SAME user partitioning — Catalyst
  // stacks them on one Exchange, so the corpus shuffles once and the
  // state-machine alternative (sort each user's history and walk it)
  // never materializes per-user arrays. Timestamps in this dataset are
  // microsecond-aligned with no per-user collisions, so the strict >
  // comparisons are engine-identical.
  def q123Funnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val day = expr("INTERVAL 24 HOURS")
    val staged = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1") &&
          col("ts") <= col("t1") + day, col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2") &&
          col("ts") <= col("t2") + day, col("ts"))).over(w))
    staged.agg(
        countDistinct(when(col("t1").isNotNull, col("user_id"))).as("n_view"),
        countDistinct(when(col("t2").isNotNull, col("user_id"))).as("n_view_click"),
        countDistinct(when(col("t3").isNotNull, col("user_id"))).as("n_full_funnel"))
      .select(col("n_view"), col("n_view_click"), col("n_full_funnel"),
        round(col("n_view_click") / col("n_view"), 6).as("r_click"),
        round(col("n_full_funnel") / col("n_view_click"), 6).as("r_purchase"))
  }

  val q123Sql: String =
    """WITH s1 AS (SELECT user_id AS u, event_type AS t, ts,
      |  min(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id) AS t1 FROM events),
      |s2 AS (SELECT *, min(CASE WHEN t = 'click' AND ts > t1
      |      AND ts <= t1 + INTERVAL 24 HOURS THEN ts END)
      |    OVER (PARTITION BY u) AS t2 FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN t = 'purchase' AND ts > t2
      |      AND ts <= t2 + INTERVAL 24 HOURS THEN ts END)
      |    OVER (PARTITION BY u) AS t3 FROM s2)
      |SELECT
      | count(DISTINCT CASE WHEN t1 IS NOT NULL THEN u END) AS n_view,
      | count(DISTINCT CASE WHEN t2 IS NOT NULL THEN u END) AS n_view_click,
      | count(DISTINCT CASE WHEN t3 IS NOT NULL THEN u END) AS n_full_funnel,
      | round(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN u END)
      |   / count(DISTINCT CASE WHEN t1 IS NOT NULL THEN u END), 6) AS r_click,
      | round(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN u END)
      |   / count(DISTINCT CASE WHEN t2 IS NOT NULL THEN u END), 6) AS r_purchase
      |FROM s3""".stripMargin

  // ---------------------------------------------------------------------
  // q129: session path mining — the top within-session event-type
  // trigrams (behavioral sequences: which 3-step paths dominate). The
  // session boundary is q34's 30-minute gap; the trigram is built with
  // LEADs over the SAME (user, ts) window that derives the session id,
  // null-guarded by comparing the led session ids — so the whole
  // row-level stage rides ONE user exchange (a second window
  // partitioned by (user, session) would re-shuffle the corpus for
  // nothing; plan-pinned). Then one count shuffle over trigram strings
  // and a deterministic top-15 (count desc, path tie). Tie order at
  // the cutoff is value-equal, so the selected set is engine-stable.
  def q129SessionPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    val sid = sum(
        (lag(us, 1).over(w).isNull || (us - lag(us, 1).over(w)) > 1800000000L)
          .cast("int"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("sid", sid)
      .withColumn("path",
        when(lead(col("sid"), 1).over(w) === col("sid") &&
             lead(col("sid"), 2).over(w) === col("sid"),
          concat(col("event_type"), lit(">"),
            lead(col("event_type"), 1).over(w), lit(">"),
            lead(col("event_type"), 2).over(w))))
      .filter(col("path").isNotNull)
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(15)
  }

  val q129Sql: String =
    """WITH m AS (SELECT user_id, ts, event_id, event_type,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |       THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m),
      |t AS (SELECT CASE WHEN lead(sid, 1) OVER w2 = sid
      |                   AND lead(sid, 2) OVER w2 = sid
      |        THEN event_type || '>' || lead(event_type, 1) OVER w2
      |             || '>' || lead(event_type, 2) OVER w2 END AS path
      |      FROM s
      |      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT path, count(*) AS n FROM t WHERE path IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------
  // q132: hopping-window trending — top-2 event types per overlapping
  // 6-hour window sliding every 3 hours (the "what's trending NOW"
  // readout that tumbling q06 can't give: a burst straddling a tumble
  // boundary splits in half; overlap catches it whole). Spark expands
  // each event into its dur/slide = 2 windows map-side (the Expand
  // operator — no join, no per-window scan), then one aggregation and
  // a rank-limited window. The oracle reproduces Spark's epoch-aligned
  // window assignment arithmetic with an UNNEST(range(...)) over the
  // same integer-micro floor divisions — both engines place boundary
  // events identically because the math is integer end to end. This is
  // also a VALID streaming aggregation: the same groupBy(window(...))
  // under readStream with a watermark is the incremental form (the q06
  // contract, sliding edition).
  def q132HoppingTrending(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = events(s, d)
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    val byN = Window.partitionBy(col("w"))
      .orderBy(col("n").desc, col("event_type"))
    agg.withColumn("rnk", row_number().over(byN))
      .filter(col("rnk") <= 2)
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("total"), col("rnk"))
      .orderBy("w_start", "rnk", "event_type")
  }

  val q132Sql: String = {
    val dur = 6L * 3600 * 1000000
    val slide = 3L * 3600 * 1000000
    s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t FROM events),
       |x AS (SELECT event_type, value, $slide * m AS ws
       |  FROM e, UNNEST(range((e.t - $dur) // $slide + 1,
       |                       e.t // $slide + 1)) AS u(m)),
       |a AS (SELECT ws, event_type, count(*) AS n,
       |        round(sum(value), 2) AS total
       |      FROM x GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY ws
       |        ORDER BY n DESC, event_type) AS rnk FROM a)
       |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS w_start,
       |       event_type, n, total, rnk
       |FROM r WHERE rnk <= 2 ORDER BY w_start, rnk, event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q137: EWMA forecast monitor — each day's count scored against the
  // exponentially-weighted average of the PRECEDING 14 days (λ=0.3 ⇒
  // weights 0.7^j, truncated; available-lag renormalization so early
  // days score against what history exists; day 1 scores nothing).
  // Completes the monitoring family: q127's median/MAD catches level
  // outliers, q111 catches distribution drift, EWMA catches trend
  // breaks — a count drifting 5%/day never trips a static gate but
  // walks away from its own forecast. Engine parity is by shared
  // literals and shared shape: the weights are Scala-computed doubles
  // embedded as round-trip decimal strings in BOTH engines, and both
  // sum the 14 terms in the same left-to-right order, so forecasts are
  // bit-identical before the cosmetic round. One corpus scan → tiny
  // day frame; the 28 lag windows share one (type, day) sort.
  private val EwmaLambda = 0.3
  private val EwmaWindow = 14
  private val ewmaWeights: Seq[Double] =
    Iterator.iterate(1.0)(_ * (1.0 - EwmaLambda)).take(EwmaWindow).toSeq

  def q137EwmaMonitor(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    def lg(j: Int) = lag(col("cnt"), j + 1).over(w)
    val num = ewmaWeights.zipWithIndex
      .map { case (wj, j) => lit(wj) * coalesce(lg(j), lit(0.0)) }
      .reduce(_ + _)
    val den = ewmaWeights.zipWithIndex
      .map { case (wj, j) =>
        lit(wj) * when(lg(j).isNull, lit(0.0)).otherwise(lit(1.0)) }
      .reduce(_ + _)
    events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("fc", when(den > 0, num / den))
      .withColumn("dev", (col("cnt") - col("fc")) / col("fc"))
      .groupBy(col("event_type"))
      .agg(count(when(col("fc").isNotNull, 1)).as("n_scored"),
        round(max(abs(col("dev"))), 6).as("max_abs_dev"),
        sum(when(abs(col("dev")) > 0.25, 1L).otherwise(0L)).as("n_flags"),
        round(max_by(col("fc"), col("day")), 6).as("last_forecast"))
      .orderBy("event_type")
  }

  val q137Sql: String = {
    val terms = ewmaWeights.zipWithIndex.map { case (wj, j) =>
      s"$wj * coalesce(lag(cnt, ${j + 1}) OVER w, 0.0)" }.mkString("\n   + ")
    val dens = ewmaWeights.zipWithIndex.map { case (wj, j) =>
      s"$wj * (CASE WHEN lag(cnt, ${j + 1}) OVER w IS NULL THEN 0.0 ELSE 1.0 END)"
    }.mkString("\n   + ")
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |   CAST(count(*) AS DOUBLE) AS cnt FROM events GROUP BY 1, 2),
       |f AS (SELECT event_type, day, cnt,
       |  CASE WHEN ($dens) > 0
       |    THEN ($terms) / ($dens) END AS fc
       | FROM daily
       | WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |sc AS (SELECT event_type, day, fc, (cnt - fc) / fc AS dev FROM f)
       |SELECT event_type,
       | count(CASE WHEN fc IS NOT NULL THEN 1 END) AS n_scored,
       | round(max(abs(dev)), 6) AS max_abs_dev,
       | CAST(sum(CASE WHEN abs(dev) > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_flags,
       | round(max_by(fc, day), 6) AS last_forecast
       |FROM sc GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q126: metric correlation matrix — pairwise Pearson r between the
  // five event types' daily value totals. Shape: ONE corpus scan into
  // a conditional-sum day rollup (no pivot operator — the type list is
  // declared, so no distinct-types pre-job), then all 10 pairwise
  // corr() aggregates in ONE pass over the ~#days-row frame, stacked
  // to long. The corpus shuffles once on day; the correlation work is
  // a single tiny aggregate whatever the corpus size. corr is scale-
  // invariant, so double sum-order noise in the day totals is ~1e-12
  // relative and round(·,6) absorbs it in both engines.
  private val evTypes = Seq("click", "error", "purchase", "signup", "view")

  def q126CorrMatrix(s: SparkSession, d: String): DataFrame = {
    val sums = evTypes.map(t =>
      sum(when(col("event_type") === t, col("value"))).as(t))
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sums.head, sums.tail: _*)
    val pairs = for {
      i <- evTypes.indices; j <- (i + 1) until evTypes.size
    } yield (evTypes(i), evTypes(j))
    // Pearson assembled from covar/stddev co-moments rather than
    // corr(): under ANSI mode corr() RAISES on a zero-variance metric
    // where the contract (and DuckDB) wants NULL — a constant metric
    // is undefined correlation, not a query failure. Same one-pass
    // partial-aggregate shape; the when() guard short-circuits the
    // division.
    val corrs = pairs.map { case (a, b) =>
      val den = stddev_samp(col(a)) * stddev_samp(col(b))
      round(when(den.isNull || den === 0, lit(null).cast("double"))
        .otherwise(covar_samp(col(a), col(b)) / den), 6).as(s"${a}_$b")
    }
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', ${a}_$b" }.mkString(", ")
    daily.agg(corrs.head, corrs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $stackArgs)" +
        " as (metric_a, metric_b, r)"))
      .orderBy("metric_a", "metric_b")
  }

  val q126Sql: String = {
    val dayCols = evTypes.map(t =>
      s"sum(CASE WHEN event_type = '$t' THEN value END) AS $t").mkString(",\n  ")
    val pairs = for {
      i <- evTypes.indices; j <- (i + 1) until evTypes.size
    } yield (evTypes(i), evTypes(j))
    val arms = pairs.map { case (a, b) =>
      s"SELECT '$a' AS metric_a, '$b' AS metric_b, round(corr($a, $b), 6) AS r FROM d"
    }.mkString("\n UNION ALL ")
    s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
       |  $dayCols
       | FROM events GROUP BY 1)
       |SELECT * FROM ($arms)
       |ORDER BY metric_a, metric_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q127: ingest anomaly monitor — per-type daily event counts scored
  // by the robust median/MAD z (Analytics.robustOutlierScores), rolled
  // up per type. The corpus is scanned ONCE into the (type, day) count
  // frame; medians/MADs are exact interpolated percentiles over that
  // tiny fact frame (broadcast back — facts never re-shuffle to the
  // stats). Day counts are integers, so the interpolated medians land
  // on .0/.5 — IEEE-exact in both engines; the score division is then
  // bit-identical and round(·,6) is cosmetic.
  def q127AnomalyDays(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    graft.operators.Analytics.robustOutlierScores(daily, "event_type", "cnt")
      .groupBy(col("event_type"))
      .agg(round(max(col("med")), 6).as("median_cnt"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(abs(col("rscore")) > 3, 1L).otherwise(0L)).as("n_anom"),
        round(max(abs(col("rscore"))), 6).as("max_abs_score"))
      .orderBy("event_type")
  }

  val q127Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |   CAST(count(*) AS DOUBLE) AS cnt FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
      |      FROM daily GROUP BY 1),
      |dv AS (SELECT daily.event_type, cnt, med
      |       FROM daily JOIN m USING (event_type)),
      |md AS (SELECT event_type, quantile_cont(abs(cnt - med), 0.5) AS mad
      |       FROM dv GROUP BY 1),
      |sc AS (SELECT dv.event_type, cnt, dv.med, md.mad,
      |   CASE WHEN md.mad = 0 THEN NULL
      |        ELSE (cnt - dv.med) / (1.4826 * md.mad) END AS rscore
      |  FROM dv JOIN md USING (event_type))
      |SELECT event_type, round(max(med), 6) AS median_cnt,
      | round(max(mad), 6) AS mad,
      | CAST(sum(CASE WHEN abs(rscore) > 3 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_anom,
      | round(max(abs(rscore)), 6) AS max_abs_score
      |FROM sc GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q128: data-mix experiment readout — Welch's unequal-variance t over
  // purchase values between two DETERMINISTIC hash arms (the q39 split
  // discipline: arm = seeded user hash, so re-runs and engines agree on
  // membership). ONE conditional-aggregate corpus pass computes both
  // arms' (n, mean, var_samp) — map-side partials, no per-arm shuffle,
  // no join — and Analytics.welchT assembles t and the Welch–
  // Satterthwaite df as pure column math on the single output row.
  private val hash60Sql =
    (c: String) => s"CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"

  def q128AbTest(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Analytics
    val arm = graft.operators.TextStats.hash60(
      concat_ws(":", lit("ab1"), col("user_id").cast("string"))) % 2
    val withArm = events(s, d)
      .filter(col("event_type") === "purchase")
      .withColumn("arm", arm)
    def f(a: Int, c: org.apache.spark.sql.Column) =
      when(col("arm") === a, c)
    val stats = withArm.agg(
      count(f(0, lit(1))).as("n_a"), avg(f(0, col("value"))).as("mean_a"),
      var_samp(f(0, col("value"))).as("var_a"),
      count(f(1, lit(1))).as("n_b"), avg(f(1, col("value"))).as("mean_b"),
      var_samp(f(1, col("value"))).as("var_b"))
    val (t, df) = Analytics.welchT(
      col("n_a"), col("mean_a"), col("var_a"),
      col("n_b"), col("mean_b"), col("var_b"))
    stats.select(col("n_a"), col("n_b"),
      round(col("mean_a"), 6).as("mean_a"),
      round(col("mean_b"), 6).as("mean_b"),
      round(t, 4).as("t_stat"), round(df, 2).as("df"))
  }

  val q128Sql: String =
    s"""WITH p AS (SELECT value,
       |  ${hash60Sql("'ab1:' || user_id")} % 2 AS arm
       |  FROM events WHERE event_type = 'purchase'),
       |s AS (SELECT
       |  count(*) FILTER (WHERE arm = 0) AS n_a,
       |  avg(value) FILTER (WHERE arm = 0) AS mean_a,
       |  var_samp(value) FILTER (WHERE arm = 0) AS var_a,
       |  count(*) FILTER (WHERE arm = 1) AS n_b,
       |  avg(value) FILTER (WHERE arm = 1) AS mean_b,
       |  var_samp(value) FILTER (WHERE arm = 1) AS var_b
       | FROM p)
       |SELECT n_a, n_b, round(mean_a, 6) AS mean_a,
       | round(mean_b, 6) AS mean_b,
       | round((mean_a - mean_b)
       |   / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
       | round(pow(var_a / n_a + var_b / n_b, 2)
       |   / (pow(var_a / n_a, 2) / (n_a - 1)
       |      + pow(var_b / n_b, 2) / (n_b - 1)), 2) AS df
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // q139: rolling 7-day active users (WAU) per day — the sliding
  // DISTINCT-count staple of event analytics. Scale shape: the corpus
  // collapses FIRST to the distinct (day, user) frame (one shuffle
  // with map-side distinct partials — the only stage that sees raw
  // event volume), then each (day, user) row fans out to the ≤ 7
  // window endpoints it contributes to — 7·|day×user| rows, corpus-
  // size-independent — and the per-day distinct rolls up on that tiny
  // frame. A per-day range self-join over raw events would re-scan
  // the corpus 7×; a RANGE window can't do sliding DISTINCT at all.
  // Target days are the DENSE grid [first event day, last event day]:
  // an interior day with no events still has a well-defined trailing
  // WAU — covered by its active predecessors' fan-outs when any fall
  // inside the horizon, reported as wau = 0 (grid LEFT join) when a
  // gap exceeds the whole 7-day window; days past the data's end are
  // excluded.
  def q139RollingWau(s: SparkSession, d: String): DataFrame = {
    // the collapsed (day, user) frame feeds BOTH the fan-out and the
    // observed-day grid — materialize it (the q111/q127 discipline;
    // Catalyst re-executes a shared lazy subplan per consumer, which
    // here means scanning the corpus twice), so the raw event volume
    // is read exactly once and everything downstream works on the
    // |days×users| frame
    val du = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .localCheckpoint()
    val days = du.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("day"))
    val counts = du.select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("day"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau"))
    days.join(counts, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy("day")
  }

  val q139Sql: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT CAST(unnest(generate_series(
      |  (SELECT min(day) FROM du), (SELECT max(day) FROM du),
      |  INTERVAL 1 DAY)) AS DATE) AS day)
      |SELECT strftime(days.day, '%Y-%m-%d') AS day,
      | count(DISTINCT du.user_id) AS wau
      |FROM days LEFT JOIN du
      |  ON days.day BETWEEN du.day AND du.day + INTERVAL 6 DAY
      |GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q140: leave-one-out SMOOTHED TARGET ENCODING of event_type against
  // the value column — the categorical-feature encoder of a training
  // pipeline (LOO so a row never sees its own target; m-estimate
  // smoothing toward the global prior so rare categories don't
  // memorize). enc_i = (Σ_cat − v_i + m·prior) / (n_cat − 1 + m).
  // Integer-micro discipline end to end (the q101/q67 rule): sums and
  // the prior live in exact integer micros, so the encoding is
  // identical across engines AND partition merge orders; the single
  // double division of two exact integers is IEEE-deterministic. One
  // groupBy(category) + a broadcast of |categories| rows + a one-row
  // global prior — the corpus is scanned once and never shuffled by
  // row. (BIGINT micros hold to ~9·10¹⁸ — a corpus-scale sum of a
  // LARGE-valued column moves to DECIMAL(38,0), the q101 escalation.)
  private val TeM = 10 // m-estimate smoothing weight

  def q140TargetEncode(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("event_type"),
      expr("CAST(round(value * 1000000) AS BIGINT)").as("vmic"))
    // the |categories|-row stats frame feeds the broadcast join AND
    // the global prior — materialize it so the corpus stats pass runs
    // once (the q111 discipline), leaving the join-side scan as the
    // only other corpus read
    val st = ev.groupBy("event_type")
      .agg(sum("vmic").as("tsum"), count(lit(1)).as("tcnt"))
      .localCheckpoint()
    // the global prior folds out of the per-category stats (exact
    // integer algebra) — no third corpus scan
    val g = st.agg(expr("CAST(sum(tsum) div sum(tcnt) AS BIGINT)")
      .as("prior_mic"))
    ev.join(broadcast(st), "event_type")
      .crossJoin(broadcast(g))
      .select(col("event_id"), col("event_type"),
        round((col("tsum") - col("vmic") + lit(TeM) * col("prior_mic"))
            .cast("double")
          / ((col("tcnt") - 1 + TeM).cast("double") * lit(1000000.0)), 6)
          .as("enc"))
      .orderBy("event_id")
  }

  val q140Sql: String =
    s"""WITH ev AS (
       | SELECT event_id, event_type,
       |  CAST(round(value * 1000000) AS BIGINT) AS vmic
       | FROM events),
       |st AS (SELECT event_type, CAST(sum(vmic) AS BIGINT) AS tsum,
       |        count(*) AS tcnt
       |       FROM ev GROUP BY 1),
       |g AS (SELECT CAST(CAST(sum(tsum) AS BIGINT) // sum(tcnt) AS BIGINT)
       |        AS prior_mic FROM st)
       |SELECT ev.event_id, ev.event_type,
       | round(CAST(st.tsum - ev.vmic + $TeM * g.prior_mic AS DOUBLE)
       |   / (CAST(st.tcnt - 1 + $TeM AS DOUBLE) * 1000000.0), 6) AS enc
       |FROM ev JOIN st USING (event_type) CROSS JOIN g
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q141: LAST-TOUCH ATTRIBUTION — each purchase attributes to the
  // most recent same-user click within 24 h, rolled up per day. The
  // as-of lookup is ONE running-max window over the user's event
  // stream (last click time so far, event-time order with event_id
  // tiebreak — deterministic in both engines), not a per-purchase
  // backward join: the corpus crosses the shuffle once, partitioned
  // by user, and the per-user cost is the q129/q34 window-family
  // shape (measured at 100× both density regimes, SURVEY §6.1).
  private val AttrWindowUs = 86400000000L // 24 h in micros

  def q141Attribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      col("event_id"), expr("unix_micros(ts)").as("tus"),
      to_date(col("ts")).as("day"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click",
        max(when(col("event_type") === "click", col("tus"))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("purchases"),
        sum(when(col("last_click").isNotNull &&
            col("tus") - col("last_click") <= AttrWindowUs, 1L)
          .otherwise(0L)).as("attributed"))
      .withColumn("attach_rate",
        round(col("attributed").cast("double") / col("purchases"), 6))
      .orderBy("day")
  }

  val q141Sql: String =
    s"""WITH ev AS (
       | SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
       |        CAST(ts AS DATE) AS day
       | FROM events),
       |wc AS (
       | SELECT *, max(CASE WHEN event_type = 'click' THEN tus END)
       |   OVER (PARTITION BY user_id ORDER BY tus, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   AS last_click
       | FROM ev),
       |agg AS (
       | SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS purchases,
       |  CAST(sum(CASE WHEN last_click IS NOT NULL
       |        AND tus - last_click <= $AttrWindowUs
       |       THEN 1 ELSE 0 END) AS BIGINT) AS attributed
       | FROM wc WHERE event_type = 'purchase' GROUP BY 1)
       |SELECT day, purchases, attributed,
       | round(CAST(attributed AS DOUBLE) / purchases, 6) AS attach_rate
       |FROM agg ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q142: SESSION-DURATION distribution per day — a pure composition
  // of two existing kernels (the engine-maturity test: sessionize's
  // output feeds the exact grouped-quantile machinery unchanged):
  // sessionizeBatch (q34, one user-window pass over the corpus) →
  // per-day min/max/median/p90 of session length via Extents.extentsBy
  // (the q44 exact-rank R-7 kernel — no percentile buffer, no
  // single-partition sort, however many sessions a day has). Durations
  // are exact micro differences divided by 1e6 — bit-identical doubles
  // in both engines, so the R-7 interpolation hashes cleanly (the q03
  // precedent).
  def q142SessionDurations(s: SparkSession, d: String): DataFrame = {
    val sess = Streaming.sessionizeBatch(
        events(s, d).select("user_id", "ts", "value"),
        gapMs = 30 * 60 * 1000L)
      .select(date_format(col("session_start"), "yyyy-MM-dd").as("day"),
        ((unix_micros(col("session_end")) - unix_micros(col("session_start")))
          / lit(1000000.0)).as("dur_s"))
    graft.operators.Extents.extentsBy(sess, "day", Seq("dur_s"), // ordered by day
        lo = 0.5, hi = 0.9)
      .select(col("day"),
        round(col("vmin"), 6).as("dmin"), round(col("vmax"), 6).as("dmax"),
        round(col("q1"), 6).as("p50"), round(col("q99"), 6).as("p90"))
  }

  val q142Sql: String =
    """WITH m AS (
      | SELECT user_id, ts,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |       THEN 1 ELSE 0 END AS new_session
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      | SELECT user_id, ts,
      |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      | FROM m),
      |sess AS (
      | SELECT strftime(min(ts), '%Y-%m-%d') AS day,
      |  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur_s
      | FROM s GROUP BY user_id, session_id)
      |SELECT day,
      | round(min(dur_s), 6) AS dmin, round(max(dur_s), 6) AS dmax,
      | round(quantile_cont(dur_s, 0.5), 6) AS p50,
      | round(quantile_cont(dur_s, 0.9), 6) AS p90
      |FROM sess GROUP BY day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q143: first-order MARKOV transition matrix over per-user event
  // streams — the behavioral sequence model next to q129's trigram
  // mining: P(next type | type) with counts. One lead() on the SAME
  // (user, ts, event_id) window family as q141 (the corpus crosses
  // the shuffle once), then the probability normalization runs on the
  // ≤ |types|² aggregated frame — corpus-size-independent past the
  // first aggregation.
  def q143MarkovTransitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
    val wSrc = Window.partitionBy("src")
    events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("unix_micros(ts)").as("tus"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum("n").over(wSrc), 6))
      .orderBy("src", "dst")
  }

  val q143Sql: String =
    """WITH ev AS (
      | SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
      | FROM events),
      |nx AS (
      | SELECT event_type AS src,
      |  lead(event_type) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id) AS dst
      | FROM ev),
      |c AS (SELECT src, dst, count(*) AS n FROM nx
      |      WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      | round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
      |FROM c ORDER BY src, dst""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_session_durations" -> (q142SessionDurations _),
    "q143_markov_transitions" -> (q143MarkovTransitions _),
    "q139_rolling_wau" -> (q139RollingWau _),
    "q140_target_encode" -> (q140TargetEncode _),
    "q141_attribution" -> (q141Attribution _),
    "q34_sessionize" -> (q34Sessionize _),
    "q35_count_distinct" -> (q35CountDistinct _),
    "q45_json_extract" -> (q45JsonExtract _),
    "q46_range_frame" -> (q46RangeFrame _),
    "q120_audience_overlap" -> (q120AudienceOverlap _),
    "q122_retention_cohorts" -> (q122RetentionCohorts _),
    "q123_funnel" -> (q123Funnel _),
    "q126_corr_matrix" -> (q126CorrMatrix _),
    "q127_anomaly_days" -> (q127AnomalyDays _),
    "q128_ab_test" -> (q128AbTest _),
    "q129_session_paths" -> (q129SessionPaths _),
    "q132_hopping_trending" -> (q132HoppingTrending _),
    "q137_ewma_monitor" -> (q137EwmaMonitor _),
  )

  val oracle: Map[String, String] = Map(
    "q142_session_durations" -> q142Sql,
    "q143_markov_transitions" -> q143Sql,
    "q139_rolling_wau" -> q139Sql,
    "q140_target_encode" -> q140Sql,
    "q141_attribution" -> q141Sql,
    "q34_sessionize" -> q34Sql,
    "q35_count_distinct" -> q35Sql,
    "q45_json_extract" -> q45Sql,
    "q46_range_frame" -> q46Sql,
    "q120_audience_overlap" -> q120Sql,
    "q122_retention_cohorts" -> q122Sql,
    "q123_funnel" -> q123Sql,
    "q126_corr_matrix" -> q126Sql,
    "q127_anomaly_days" -> q127Sql,
    "q128_ab_test" -> q128Sql,
    "q129_session_paths" -> q129Sql,
    "q132_hopping_trending" -> q132Sql,
    "q137_ewma_monitor" -> q137Sql,
  )
}
