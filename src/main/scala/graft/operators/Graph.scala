package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph propagation over edge-list DataFrames. The reference
  * pipeline has no graph tier; this is part of the large-scale
  * training-data extension (domain-authority scoring for corpus
  * curation — the CommonCrawl-style "rank the hosts, keep documents
  * from reputable ones" filter), built on the same bounded-round
  * discipline as [[Dedup.connectedComponents]].
  */
object Graph {

  /** Node-count ceiling under which the per-round |N|-row vector
    * (ranks / labels / inflow) is BROADCAST into its joins instead of
    * shuffled: the transition matrix is partitioned on DST and
    * checkpointed in this regime (r19), so the broadcast vector join
    * AND the following inflow / vote groupBy(dst) are both
    * exchange-free — ZERO shuffles per round instead of one-to-three.
    * 500k nodes ≈ tens of MB
    * serialized (string id + double), inside the executor broadcast
    * comfort zone; a web-scale host graph above it falls back to the
    * plain equi-join plan automatically.
    */
  val BroadcastNodeLimit = 500000L

  /** Rounds between lineage cuts in a FIXED-round loop (r19). With the
    * broadcast-regime rounds exchange-free and each round's vector
    * referenced exactly once, the per-round localCheckpoint was pure
    * scheduling overhead: one job + one block-manager write per round
    * whose only job was cutting a lineage that is already linear. A
    * fixed-round loop now checkpoints every 8th round only; the rounds
    * in between ride the plan as nested broadcast builds. 8 bounds the
    * broadcasts resident inside one execution to
    * 8 × [[BroadcastNodeLimit]] rows ≈ 200 MB worst-case — and bounds
    * plan depth for long convergence budgets. Convergence-checked
    * loops (tol > 0 / maxChanged ≥ 0) still cut every round: their
    * per-round count/delta ACTION would otherwise re-execute the whole
    * chain each round (O(R²) work). The LAST round is always resident,
    * so the returned vector never reaches the transition matrix and the
    * matrix is unpersisted before the operator returns.
    */
  private val CheckpointEvery = 8

  /** Rounds actually executed by the LAST pageRank / labelPropagation
    * call in this JVM — the early-exit observable for specs and dev
    * tools (the operators return only the final vector).
    */
  private[graft] val lastPageRankIters = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val lastLpaIters = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Weighted PageRank, a FIXED number of power iterations.
    *
    * `edges` = (src, dst, weight); ranks flow along edge direction,
    * split proportionally to weight. Every node must appear as a `src`
    * at least once (no dangling sinks — callers with asymmetric edges
    * add the reverse direction or self-loops first; q121 doubles its
    * bipartite edges, which also guarantees this). Dst-only nodes would
    * silently leak their mass; the require below rejects them.
    *
    * Scale shape (the reason this is NOT a driver-side loop over
    * collect()ed rows):
    *  - the transition matrix (edge → probability `w/W(src)`) is built
    *    once — one groupBy(src) + one equi-join — then repartitioned on
    *    the REGIME'S key and localCheckpointed (r19): `dst` below
    *    [[BroadcastNodeLimit]] so each round's inflow groupBy(dst)
    *    rides the preserved partitioning, `src` above it so the
    *    per-round rank equi-join is co-partitioned. Either way only
    *    the |N|-row rank vector moves per round, never the |E|-row
    *    edge list;
    *  - below [[BroadcastNodeLimit]] nodes, the per-round rank vector
    *    and inflow table BROADCAST into their joins — ZERO per-round
    *    exchanges (the dst-partitioned matrix feeds the inflow groupBy
    *    directly); above it, each iteration is exactly two equi-keyed
    *    shuffles;
    *  - each round's vector is referenced exactly once, so lineage is
    *    LINEAR in rounds by construction; fixed-round loops cut it
    *    only every [[CheckpointEvery]] rounds (r19 — the per-round
    *    checkpoint job was pure scheduling overhead), while
    *    convergence-checked loops (whose per-round action re-executes
    *    the chain) still cut every round.
    *
    * Total mass is conserved (no dangling nodes), so ranks sum to 1 —
    * spec-pinned in GraphSpec along with closed-form fixtures.
    */
  /** Synchronous weighted label propagation, a FIXED number of rounds —
    * the community-detection sibling of [[pageRank]] (cluster the host
    * graph, then curate per community: sample caps, contamination
    * audits, dedup scopes per cluster).
    *
    * `edges` = (src, dst, weight); labels start as each node's own id
    * and every round each node adopts the label with the LARGEST
    * incoming weight sum, ties to the smallest label — so round
    * results are a pure function of the graph, independent of
    * partitioning or schedule (asynchronous LPA, the textbook variant,
    * is schedule-dependent and could never be oracle-checked). Every
    * node must appear as both a src and a dst (symmetric/doubled
    * edges, or add self-loops); dst-only nodes never vote, src-only
    * nodes never update.
    *
    * Scale shape is [[pageRank]]'s: the edge list is repartitioned on
    * the regime's key (dst below [[BroadcastNodeLimit]], src above —
    * r19) and checkpointed ONCE; each round moves only the |N|-row
    * label vector (join on src, vote groupBy on (dst, label), then a
    * min_by pick groupBy on dst — in the broadcast regime all three
    * ride the dst-partitioning, zero per-round exchanges, and the
    * pick is an aggregation rather than a window so no per-round sort
    * exists at any scale), with lineage cut every [[CheckpointEvery]]
    * rounds (fixed-round loops; convergence-checked loops cut every
    * round) — linear in rounds by construction.
    *
    * The coverage contract is VALIDATED by default (the [[pageRank]]
    * discipline): on an asymmetric graph the node set would silently
    * drift between rounds — each round's output is keyed by the
    * dst-set, so src-only nodes vanish from the result and dst-only
    * nodes never vote. Callers whose edges are symmetric BY
    * CONSTRUCTION (q125 doubles every edge) may skip the two
    * anti-join passes.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
      validateCoverage: Boolean = true,
      maxChanged: Long = -1L,
      forceBroadcast: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the knob is a CONVERGENCE stop, not a tolerance: only
    // maxChanged == 0 carries the identical-output guarantee below (a
    // positive threshold would stop while labels are still mutating
    // and diverge from the fixed-round run), so positive values are
    // rejected rather than silently weakening the contract
    require(maxChanged <= 0L,
      s"maxChanged must be -1 (fixed rounds) or 0 (stop when " +
        s"converged); a positive threshold loses the " +
        s"identical-output guarantee, got $maxChanged")
    // r19: the node vector is derived BEFORE the transition matrix so
    // the regime decides trans's partitioning key. Broadcast regime:
    // trans partitions on DST — the per-round vote groupBy(dst, label)
    // and its rank window then ride the checkpoint's preserved
    // partitioning with ZERO per-round exchange (the broadcast join
    // never needed src-partitioning in the first place). Shuffle
    // regime: src as before (the per-round equi-join reuses it; the
    // vote groupBy pays its one exchange). Cost of the reorder: edges
    // is evaluated twice (nodes, trans) — the [[pageRank]] contract
    // this operator now shares; callers with expensive upstreams
    // checkpoint their edge frame first (q125's tradeEdges does).
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = true)
    // forceBroadcast overrides the size heuristic — the GraphScale
    // measurement seam that prices the broadcast↔shuffle regimes on
    // the SAME graph (output is identical either way; only the
    // exchange count changes)
    val small = forceBroadcast.getOrElse(nodes.count() <= BroadcastNodeLimit)
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // persist, NOT a checkout — the one exception to the rule of
    // [[graft.Pipeline.withCheckouts]]: an AQE-executed checkpoint records
    // UnknownPartitioning on its ExistingRDD scan (measured r19 — the
    // repartition key was invisible downstream and every round paid the
    // vote exchange anyway), while a cached plan keeps its partitioning
    // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays
    // at its false default). Released after the last round below.
    val trans = edges
      .select(col("src"), col("dst"), col("weight").cast("double").as("w"))
      .repartition(if (small) col("dst") else col("src"))
      .persist()
    // materialize the cache NOW: a round planned against an
    // un-materialized cache sees AdaptiveSparkPlan/UnknownPartitioning
    // and EnsureRequirements re-inserts the per-round exchange the
    // partitioning exists to remove (measured r19 — the plan-evidence
    // capture caught it after the checkpoint-cadence change made every
    // round lazy). The coverage anti-joins materialize it as a side
    // effect; validation-skipping callers pay one count() job instead.
    if (!validateCoverage) trans.count()
    if (validateCoverage) {
      require(trans.join(nodes, col("dst") === col("node"), "left_anti").isEmpty,
        "labelPropagation requires every dst to also appear as a src " +
          "(src-only/dst-only nodes drift out of the sync rounds — " +
          "double the edges or add self-loops)")
      require(nodes.join(trans.select(col("dst")).distinct(),
          col("node") === col("dst"), "left_anti").isEmpty,
        "labelPropagation requires every src to also appear as a dst " +
          "(a node that never receives votes vanishes after round 1)")
    }

    var labels = nodes.withColumn("label", col("node").cast("string"))
    // convergence-aware early exit (maxChanged == 0, the only value
    // the require above admits besides -1): after each SYNC round,
    // one |N|-row join counts nodes whose label changed; at zero the
    // loop stops — a converged LPA round reproduces itself exactly,
    // so the early-exit output is IDENTICAL to running the remaining
    // rounds (spec-pinned; the guarantee holds ONLY at zero). The
    // default (-1) keeps fixed-round semantics for oracle-checked
    // callers (q125's DuckDB twin unrolls exactly 4 rounds).
    var changed = Long.MaxValue
    var i = 0
    while (i < iters && (maxChanged < 0 || changed > maxChanged)) {
      // the winning label via a second aggregation instead of a
      // row_number window (r19): min_by over the lexicographic
      // (−wv, label) struct IS "largest inflow, ties to smallest
      // label" (label is unique within a dst group, so the pick is
      // total) — same partitioning, no per-round sort at any scale
      val voted = trans.join(bc(labels), col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("wv"))
        .groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("wv")).as("nw"), col("label"))).as("label"))
        .select(col("dst").as("node"), col("label"))
      // lineage cut cadence: see [[CheckpointEvery]]
      val next = if (maxChanged >= 0 || (i + 1) % CheckpointEvery == 0 ||
          i + 1 == iters) voted.localCheckpoint(eager = true)
        else voted
      if (maxChanged >= 0)
        changed = next.join(
            labels.select(col("node").as("n0"), col("label").as("l0")),
            col("node") === col("n0"))
          .filter(col("label") =!= col("l0")).count()
      labels = next
      i += 1
    }
    lastLpaIters.set(i)
    // the final round is resident, so the returned plan no longer
    // reaches the matrix
    trans.unpersist()
    labels
  }

  /** `symmetricEdges = true` asserts the caller built the edge list
    * symmetric (every edge doubled / self-loops added — q121's shape),
    * so the dst set EQUALS the node set and each round's inflow table
    * already covers every node: the per-round `nodes` left join — and
    * the broadcast that fed it — is skipped outright (r19). The
    * coalesce-to-zero branch it replaced can never fire on such a
    * graph, so the output is identical; asymmetric callers keep the
    * default and pay the coverage join.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double,
      validateNoDangling: Boolean = true,
      tol: Double = 0.0,
      forceBroadcast: Option[Boolean] = None,
      symmetricEdges: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")

    // r19: the out-weight aggregate IS the distinct-src table, so it
    // doubles as the node vector — the separate distinct + checkpoint
    // the old code paid is one whole exchange saved. It is checkpointed
    // (|N| rows) because every round's rank update re-reads it.
    val outW = edges.groupBy("src").agg(sum("weight").as("wsum"))
      .localCheckpoint(eager = true)
    val nodes = outW.select(col("src").as("node"))
    val n = outW.count()
    // forceBroadcast: see labelPropagation — same-size regime A/B seam
    val small = forceBroadcast.getOrElse(n <= BroadcastNodeLimit)
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // Broadcast regime: trans partitions on DST, so each round's inflow
    // groupBy(dst) rides the checkpoint's preserved partitioning with
    // ZERO per-round exchange (the rank join is a broadcast — it never
    // consumed the old src-partitioning). Shuffle regime: src, so the
    // per-round equi-join on src stays co-partitioned and only the
    // inflow groupBy pays its exchange.
    // persist, NOT localCheckpoint — see labelPropagation: only a
    // cached plan carries the repartition key through AQE, and the
    // per-round zero-exchange inflow groupBy depends on seeing it
    val trans = edges.join(bc(outW), "src")
      .select(col("src"), col("dst"), (col("weight") / col("wsum")).as("p"))
      .repartition(if (small) col("dst") else col("src"))
      .persist()
    // materialize the cache NOW — see labelPropagation: plans built
    // against an un-materialized cache lose its partitioning and pay
    // the per-round exchange again
    if (!validateNoDangling) trans.count()
    // no-dangling contract: a dst that never appears as src would leak
    // rank mass out of the system. The check is one anti-join over the
    // checkpointed edges — callers whose edges are symmetric BY
    // CONSTRUCTION (q121 doubles every edge) may skip the pass.
    if (validateNoDangling)
      require(trans.join(nodes, col("dst") === col("node"), "left_anti").isEmpty,
        "pageRank requires every dst to also appear as a src " +
          "(add reverse edges or self-loops for dangling nodes)")

    var ranks = nodes.withColumn("r", lit(1.0 / n))
    // convergence-aware early exit (tol > 0): after each iteration,
    // one |N|-row join computes the L1 delta ‖r_t − r_{t−1}‖₁ and the
    // loop stops below tol — the deployment mode (a web-scale rank
    // usually converges long before a conservative fixed budget). The
    // default (0.0) keeps fixed-iteration semantics for oracle-checked
    // callers (q121's DuckDB twin unrolls exactly 5 iterations).
    var delta = Double.MaxValue
    var i = 0
    while (i < iters && (tol <= 0 || delta >= tol)) {
      val inflow = trans.join(bc(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("p") * col("r")).as("inflow"))
      // symmetric graphs: inflow covers every node, so the rank update
      // is a pure projection of it — no nodes join, no inflow broadcast
      val updated = if (symmetricEdges)
          inflow.select(col("dst").as("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * col("inflow")).as("r"))
        else nodes
          .join(bc(inflow), nodes("node") === inflow("dst"), "left")
          .select(col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("inflow"), lit(0.0))).as("r"))
      // lineage cut cadence: see [[CheckpointEvery]]
      val next = if (tol > 0 || (i + 1) % CheckpointEvery == 0 ||
          i + 1 == iters) updated.localCheckpoint(eager = true)
        else updated
      if (tol > 0)
        delta = next.join(
            ranks.select(col("node").as("n0"), col("r").as("r0")),
            col("node") === col("n0"))
          .agg(sum(abs(col("r") - col("r0")))).head().getDouble(0)
      ranks = next
      i += 1
    }
    lastPageRankIters.set(i)
    // the final round is resident: see labelPropagation
    trans.unpersist()
    ranks
  }
}
