package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench protocol's decisions ([[BenchProtocol]]): the
  * budget gate, the min-over-successful-samples rule and the stdout
  * tail discipline.
  *
  * The r17 failure was a protocol-SHAPE bug no test could catch
  * because the protocol had no seams: the harness printed nothing until
  * the end and a kill left rc=124 and zero perf data. Every
  * decision is now a pure function; this spec is the decision table.
  */
class BenchProtocolSpec extends AnyFunSuite {

  import BenchProtocol.Sample

  // ---- pass admission (margin 1.2) --------------------------------------

  test("second pass runs while budget fits it with margin") {
    assert(BenchProtocol.nextPassFits(500, 1500, 150)) // 680 <= 1500
    // boundary is inclusive: exactly-at-budget still runs
    assert(BenchProtocol.nextPassFits(1500 - 150 * 1.2, 1500, 150))
  }

  test("second pass skipped when it would overrun") {
    assert(!BenchProtocol.nextPassFits(1400, 1500, 150)) // 1580 > 1500
  }

  test("a throttled host that doubles pass time halves the sample count") {
    // clean host: warm-up estimated 150 s/pass, pass 2 fits at t=400
    assert(BenchProtocol.nextPassFits(400, 1000, 150))
    // throttled host: same suite measured 450 s/pass — pass 2 must NOT
    // be attempted at t=900 (the protocol degrades to fewer samples
    // instead of degrading to a killed run)
    assert(!BenchProtocol.nextPassFits(900, 1000, 450))
  }

  // ---- reported time per query ------------------------------------------

  test("a query reports its min over successful samples; all-failed is left out") {
    val p1 = Seq(Sample("q01_a", 0.50, ok = true),
      Sample("q02_b", 0.01, ok = false), // threw at once
      Sample("q03_c", 300.0, ok = false), // watchdog kill at the deadline
      Sample("q04_d", 0.90, ok = true))
    val p2 = Seq(Sample("q01_a", 0.40, ok = true),
      Sample("q02_b", 0.70, ok = true),
      Sample("q03_c", 0.02, ok = false),
      Sample("q04_d", 0.05, ok = false))
    // a failed sample's time-to-failure never wins the min, and q03,
    // failed in both passes, reports no time at all
    assert(BenchProtocol.minOverSuccesses(Seq(p1, p2)) ==
      Seq("q01_a" -> 0.40, "q02_b" -> 0.70, "q04_d" -> 0.90))
    assert(BenchProtocol.minOverSuccesses(Seq(p1)) ==
      Seq("q01_a" -> 0.50, "q04_d" -> 0.90))
  }

  // ---- tail-safety spacer ----------------------------------------------

  test("spacer is one ~2KB JSON line that flushes provisional data out of the tail") {
    val s = BenchProtocol.spacerLine()
    assert(s.length >= 2000)
    assert(!s.contains("\n"))
    assert(s.startsWith("""{"metric":"spacer""""))
    assert(s.endsWith("\"}"))
    // inert: must not alias into the driver's entry recovery
    assert(!s.contains("per_query_cs") && !s.contains("\"total\""))
  }

  // ---- kill-survivability of the streamed artifact ----------------------
  // The harness prints, after every pass: perQueryLines(minsSoFar) and a
  // totalLine. This test replays that print order into a buffer and
  // asserts that truncating to the driver's 2 KB tail AT ANY KILL POINT
  // after the first pass still yields a parseable total line.
  test("a kill at ANY point in pass 2 leaves a parseable total in the 2KB tail") {
    // replays the harness's print discipline: pass-1 provisional block,
    // then pass-2 progress lines with the total-line heartbeat every 20
    // queries. The first REAL kill test (r18, SIGKILL at p2 q131) proved
    // progress lines alone evict the block from the tail within ~60
    // queries — this test kills at EVERY query index and requires a
    // parseable total each time.
    val results = (1 to 152).map(i => (f"q$i%03d_name", 0.42))
    val expect = "\"value\":" + BenchFormat.ms3(results.map(_._2).sum)
    val out = new StringBuilder
    def emit(l: String): Unit = { out.append(l).append('\n') }
    BenchFormat.perQueryLines(results).foreach(emit)
    val totalLine =
      BenchFormat.totalLine(results.map(_._2).sum, "/root/testdata/sf0.1")
    emit(totalLine)
    for (i <- 0 until 152) {
      emit(f"#r1 p2 ${i + 1}%03d/152 ${i + 1}%d 0.42s t=900")
      if (i % 20 == 19) emit(totalLine) // the heartbeat
      // a stray engine WARN line of realistic length must not break it
      if (i == 50) emit("26/08/16 14:48:22 WARN BlockManager: Block " +
        "rdd_14657_0 already exists on this machine; not re-adding it")
      val tail = out.toString.takeRight(2048)
      val totals = tail.linesIterator
        .filter(_.startsWith("""{"metric":"total"""")).toSeq
      assert(totals.nonEmpty && totals.last.contains(expect),
        s"kill after p2 q${i + 1}: no parseable total in the tail")
    }
  }

  // A COMPLETED run's tail must contain only final-block values: the
  // spacer guarantees every provisional line has scrolled out.
  test("a completed run's 2KB tail holds only the final kept block") {
    val prov = (1 to 152).map(i => (f"q$i%03d_name", 0.99)) // pass-1 sample
    val fin = (1 to 152).map(i => (f"q$i%03d_name", 0.42)) // final mins
    val out = new StringBuilder
    def emit(l: String): Unit = { out.append(l).append('\n') }
    BenchFormat.perQueryLines(prov).foreach(emit)
    emit(BenchFormat.totalLine(prov.map(_._2).sum, "sf0.1"))
    emit(BenchProtocol.spacerLine())
    emit(BenchFormat.canaryLine(Canary.names.map(_ -> 0.15), "sf0.1"))
    BenchFormat.perQueryLines(fin).foreach(emit)
    emit(BenchFormat.totalLine(fin.map(_._2).sum, "sf0.1"))
    val tail = out.toString.takeRight(2048)
    // no provisional value (99 cs) survives; final values (42 cs) do
    assert(!tail.contains(":99"), s"provisional entry leaked into tail")
    assert(tail.contains(":42"))
    assert(tail.linesIterator.toSeq.last.startsWith("""{"metric":"total""""))
  }
}
