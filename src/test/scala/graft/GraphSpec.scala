package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** PageRank: closed-form fixtures, mass conservation, the no-dangling
  * contract, and the bounded-lineage discipline.
  */
class GraphSpec extends AnyFunSuite with SharedSpark with PlanCapture {
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String, Double)], iters: Int,
      d: Double = 0.85): Map[String, Double] =
    Graph.pageRank(edges.toDF("src", "dst", "weight"), iters, d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("regular graph fixes to the uniform vector immediately") {
    // 3-cycle with equal weights: uniform is the exact fixpoint of
    // every iteration, so 1 round or 7 rounds both give exactly 1/3
    val cyc = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
    for (it <- Seq(1, 7)) {
      val r = ranksOf(cyc, it)
      r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-15, s"$it: $r"))
    }
  }

  test("star graph: hub out-ranks leaves, matches the hand-rolled iteration") {
    // hub h ↔ leaves l1..l4 (symmetric, unit weights)
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = leaves.flatMap(l => Seq(("h", l, 1.0), (l, "h", 1.0)))
    val got = ranksOf(edges, 5)
    // reference: dense power iteration in plain Scala, same arithmetic
    val n = 5
    var r = Map[String, Double](("h" +: leaves).map(_ -> 1.0 / n): _*)
    for (_ <- 1 to 5) {
      val inflowH = leaves.map(l => r(l) * 1.0).sum // each leaf sends all to h
      val teleport = (1.0 - 0.85) / n
      val hubShare = r("h") / 4.0 // hub splits evenly across 4 leaves
      r = Map("h" -> (teleport + 0.85 * inflowH)) ++
        leaves.map(l => l -> (teleport + 0.85 * hubShare))
    }
    got.foreach { case (k, v) =>
      assert(math.abs(v - r(k)) < 1e-12, s"$k: got $v want ${r(k)}")
    }
    assert(got("h") > got("l1"), "hub must out-rank a leaf")
  }

  test("rank mass is conserved (no dangling ⇒ sums to 1)") {
    val rnd = new scala.util.Random(7)
    val e0 = Seq.fill(200)((s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}",
      1.0 + rnd.nextInt(5)))
    // symmetrize so the contract holds
    val edges = e0 ++ e0.map { case (a, b, w) => (b, a, w) }
    val total = ranksOf(edges, 6).values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass leaked: $total")
  }

  test("symmetricEdges fast path matches the coverage-join path exactly") {
    // doubled random graph — q121's shape: dst set == src set, so the
    // r19 projection-only rank update must be bit-identical to the
    // default nodes-left-join formulation, round for round
    val rnd = new scala.util.Random(13)
    val e0 = Seq.fill(120)((s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}",
      (rnd.nextInt(5) + 1).toDouble))
    val edges = (e0 ++ e0.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "weight")
    for (iters <- Seq(1, 3)) {
      val want = Graph.pageRank(edges, iters, 0.85)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = Graph.pageRank(edges, iters, 0.85, symmetricEdges = true)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == want) // exact double equality — same arithmetic
    }
  }

  test("dangling sink is rejected by the contract check") {
    val bad = Seq(("a", "b", 1.0)) // b never appears as src
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(bad.toDF("src", "dst", "weight"), 2, 0.85)
    }
    assert(ex.getMessage.contains("dangling"))
  }

  /** Total shuffle-write records across every task of `body` — the
    * direct observable for the r19 zero-per-round-exchange claim.
    */
  private def shuffleRecords(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // listener bus drains async
    finally spark.sparkContext.removeSparkListener(l)
    acc.get
  }

  test("broadcast-regime rounds shuffle ZERO records (r19 dst-partitioned matrix)") {
    val rnd = new scala.util.Random(17)
    val e0 = Seq.fill(150)((s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}",
      (rnd.nextInt(4) + 1).toDouble))
    val edges = (e0 ++ e0.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "weight").localCheckpoint(eager = true)
    // setup (out-weight agg, dst repartition, seed) shuffles the same
    // rows whatever the round count — extra rounds must add NOTHING
    // q121's exact flags: validation SKIPPED (a validation pass would
    // materialize the cached matrix and mask the lazy-planning bug this
    // test exists to catch — an un-materialized cache plans as
    // UnknownPartitioning and the per-round exchange returns)
    val pr1 = shuffleRecords(
      Graph.pageRank(edges, 1, 0.85, validateNoDangling = false,
        symmetricEdges = true).collect())
    val pr5 = shuffleRecords(
      Graph.pageRank(edges, 5, 0.85, validateNoDangling = false,
        symmetricEdges = true).collect())
    assert(pr5 == pr1,
      s"pageRank rounds must be exchange-free in the broadcast regime: " +
        s"1 iter wrote $pr1 shuffle records, 5 iters wrote $pr5")
    val lp1 = shuffleRecords(
      Graph.labelPropagation(edges, 1, validateCoverage = false).collect())
    val lp4 = shuffleRecords(
      Graph.labelPropagation(edges, 4, validateCoverage = false).collect())
    assert(lp4 == lp1,
      s"LPA rounds must be exchange-free in the broadcast regime: " +
        s"1 round wrote $lp1 shuffle records, 4 rounds wrote $lp4")
  }

  test("lineage is linear in rounds (constant exchanges per extra round)") {
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 2.0),
      ("c", "b", 2.0)).toDF("src", "dst", "weight")
    // the last round is checked out, so its execution (the last one the
    // call runs) holds every round since the previous lineage cut
    def exchanges(rounds: Int): Int = {
      val p = capturePlans(Graph.pageRank(edges, rounds, 0.85)).last.toString
      "Exchange".r.findAllIn(p).size
    }
    val (e2, e3, e4) = (exchanges(2), exchanges(3), exchanges(4))
    assert(e3 - e2 == e4 - e3,
      s"exchange growth must be constant per round: $e2, $e3, $e4")
  }

  test("pageRank and labelPropagation release the transition matrix before returning") {
    // q121's 5 rounds and q125's 4 both end between lineage cuts
    // (CheckpointEvery = 8): the persisted matrix must not outlive the call
    val rnd = new scala.util.Random(11)
    val e0 = Seq.fill(60)((s"n${rnd.nextInt(12)}", s"n${rnd.nextInt(12)}",
      (rnd.nextInt(3) + 1).toDouble))
    val edges = (e0 ++ e0.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "weight")
    def persisted = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(_.id).toSet
    val before = persisted
    Graph.pageRank(edges, 5, 0.85)
    assert(persisted == before, s"pageRank left RDDs ${persisted -- before}")
    Graph.labelPropagation(edges, 4)
    assert(persisted == before,
      s"labelPropagation left RDDs ${persisted -- before}")
  }

  private def lpa(edges: Seq[(String, String, Double)], iters: Int,
      parts: Int = 1): Map[String, String] =
    Graph.labelPropagation(
        edges.toDF("src", "dst", "weight").repartition(parts), iters)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("labelPropagation: two cliques over a weak bridge split into two communities") {
    def clique(ns: Seq[String]) = for {
      a <- ns; b <- ns if a != b
    } yield (a, b, 5.0)
    val edges = clique(Seq("a", "b", "c")) ++ clique(Seq("d", "e", "f")) ++
      Seq(("c", "d", 1.0), ("d", "c", 1.0))
    val labels = lpa(edges, 4)
    assert(Set("a", "b", "c").map(labels) .size == 1, s"clique 1 split: $labels")
    assert(Set("d", "e", "f").map(labels).size == 1, s"clique 2 split: $labels")
    assert(labels("a") != labels("d"),
      s"weak bridge must not merge the cliques: $labels")
  }

  test("labelPropagation: one round matches the hand vote (largest inflow, min-label tie)") {
    // b receives: a(label a, w=3) vs c+d (labels c,d, w=2 each) → 'a'
    // e receives equal votes from a and c → tie breaks to 'a'
    val edges = Seq(("a", "b", 3.0), ("c", "b", 2.0), ("d", "b", 2.0),
      ("a", "e", 1.0), ("c", "e", 1.0),
      // reverse edges so every node votes AND updates
      ("b", "a", 1.0), ("b", "c", 1.0), ("b", "d", 1.0), ("e", "a", 1.0))
    val l1 = lpa(edges, 1)
    assert(l1("b") == "a", s"b must take the heaviest label: $l1")
    assert(l1("e") == "a", s"equal vote must tie to the smaller label: $l1")
    assert(l1("a") == "b" && l1("c") == "b" && l1("d") == "b",
      s"single-in-neighbor nodes adopt that neighbor's label: $l1")
  }

  test("labelPropagation: partitioning-invariant (sync rounds, deterministic tie)") {
    val rnd = new scala.util.Random(11)
    val e0 = Seq.fill(150)((s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}",
      (1 + rnd.nextInt(4)).toDouble))
    val edges = e0 ++ e0.map { case (a, b, w) => (b, a, w) }
    assert(lpa(edges, 3, parts = 1) == lpa(edges, 3, parts = 13),
      "labels must be a pure function of the graph")
  }

  test("labelPropagation: asymmetric graphs are rejected by the coverage check") {
    // b never votes (dst-only) — without the check it would silently
    // drift out of the sync rounds instead of failing loudly
    val bad = Seq(("a", "b", 1.0)).toDF("src", "dst", "weight")
    val ex = intercept[IllegalArgumentException] {
      Graph.labelPropagation(bad, 2)
    }
    assert(ex.getMessage.contains("every dst"))
    // src-only/dst-only in the other direction: c emits but never receives
    val bad2 = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "weight")
    val ex2 = intercept[IllegalArgumentException] {
      Graph.labelPropagation(bad2, 2)
    }
    assert(ex2.getMessage.contains("every src"))
  }

  test("labelPropagation: lineage linear in rounds (constant exchange growth)") {
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 2.0),
      ("c", "b", 2.0)).toDF("src", "dst", "weight")
    // the last round's checkout holds every round (see pageRank's test)
    def exchanges(rounds: Int): Int = {
      val p = capturePlans(Graph.labelPropagation(edges, rounds)).last.toString
      "Exchange".r.findAllIn(p).size
    }
    val (e2, e3, e4) = (exchanges(2), exchanges(3), exchanges(4))
    assert(e3 - e2 == e4 - e3,
      s"exchange growth must be constant per round: $e2, $e3, $e4")
  }

  test("pageRank: tolerance stop exits early with identical output on a converged fixture") {
    // 3-cycle with equal weights: uniform is the exact fixpoint, so
    // the L1 delta is 0 after round 1 and the tolerance loop must
    // stop at round 2 (the round that MEASURES convergence) — with
    // output bit-identical to the full fixed budget
    val cyc = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "weight")
    val full = Graph.pageRank(cyc, iters = 20, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tolRun = Graph.pageRank(cyc, iters = 20, damping = 0.85, tol = 1e-12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(Graph.lastPageRankIters.get() < 20,
      s"tolerance run must exit early, ran ${Graph.lastPageRankIters.get()}")
    assert(tolRun == full, s"early exit changed the fixpoint: $tolRun vs $full")
    // tol = 0 (default) keeps the fixed budget — the oracle contract
    Graph.pageRank(cyc, iters = 4, damping = 0.85).collect()
    assert(Graph.lastPageRankIters.get() == 4,
      "default run must execute the full fixed budget")
  }

  test("labelPropagation: converged-stop exits early with identical labels") {
    def clique(ns: Seq[String]) = for {
      a <- ns; b <- ns if a != b
    } yield (a, b, 5.0)
    val edges = (clique(Seq("a", "b", "c")) ++ clique(Seq("d", "e", "f")) ++
      Seq(("c", "d", 1.0), ("d", "c", 1.0))).toDF("src", "dst", "weight")
    val full = Graph.labelPropagation(edges, iters = 20)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val stopped = Graph.labelPropagation(edges, iters = 20, maxChanged = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Graph.lastLpaIters.get() < 20,
      s"converged LPA must exit early, ran ${Graph.lastLpaIters.get()}")
    assert(stopped == full,
      s"early exit changed the partition: $stopped vs $full")
    // the knob is a convergence stop, not a tolerance: a positive
    // threshold would stop mid-mutation and lose the identical-output
    // guarantee, so it is rejected outright
    val ex = intercept[IllegalArgumentException] {
      Graph.labelPropagation(edges, iters = 20, maxChanged = 5)
    }
    assert(ex.getMessage.contains("maxChanged"))
  }

  test("q121 graph at sf0.001: suppliers with more trade rank higher on average") {
    val out = QueriesRel.q121PageRank(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty)
    assert(math.abs(out.values.sum - 1.0) < 1e-6, "q121 mass")
    // suppliers aggregate far more edges than any single customer in
    // the TPC-H shape — the top-ranked node must be a supplier
    val top = out.maxBy(_._2)._1
    assert(top.startsWith("s"), s"expected a supplier on top, got $top")
  }
}
