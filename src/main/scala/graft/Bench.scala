package graft

/** Benchmark harness. Protocol decisions (throttle gate, budget
  * arithmetic, deflation) are pure functions in [[BenchProtocol]] —
  * this file only observes, runs, and prints.
  *
  * r18 rework — a killed run must still leave a parseable artifact
  * (BENCH_r17 rc=124 left ZERO perf data because nothing printed until
  * the very end):
  *  - each timed pass streams its per-query lines and a provisional
  *    total to stdout THE MOMENT the pass completes;
  *  - the whole protocol is wall-budget-aware
  *    (`SPARK_GRAFT_BENCH_BUDGET_S`, default 1500): passes, cooldowns
  *    and the throttle re-run are skipped — with a logged reason —
  *    when the remaining budget cannot fit them;
  *  - every query runs under a watchdog
  *    (`SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S`, default 300 — raised from
  *    120 after the r18 shakedown; rationale at the val site):
  *    `cancelJobGroup` after the deadline, a FAILED line, and the
  *    suite continues — one hung plan can no longer stall the run
  *    until the driver's kill;
  *  - one short timestamped stderr line per query, so a killed run's
  *    tail shows exactly where it died.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Wall budget for the WHOLE protocol, calibrated to the driver's
    // OBSERVED kill horizon rather than a guess. Every measured point
    // so far: r16 completed at 1946 s sbt wall (horizon > 1946 s);
    // r17's longer protocol was killed rc=124 at some T beyond that;
    // r18 completed at 872 s sbt wall under this default. So the
    // horizon is bracketed at (1946, r17_wall] and 1500 in-JVM +
    // ~60 s sbt overhead sits under the proven-safe 1946 floor with
    // ~25% margin. Leaving headroom is the point — a self-truncated
    // run with data beats a killed run without.
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .map(_.toDouble).getOrElse(1500.0)
    // 300 s: the watchdog exists for HANGS, not slow windows — the r18
    // shakedown saw a 5.25× throttled window push two legitimate
    // multi-job queries (q50 connected components, q146 entity diff)
    // past a 120 s deadline into false FAILEDs; at 300 s a real hang
    // still costs only a fifth of the default budget once per pass
    val queryTimeoutS = sys.env.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S")
      .map(_.toDouble).getOrElse(300.0)
    val knobs = BenchProtocol.Knobs()
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The r17 driver tail was consumed by `WindowExec: No Partition
    // Defined` spam from the engine's deliberate bounded-frame
    // single-partition windows (keySkewProfile's histogram,
    // packingOffsets' bucket sums — all documented at their sites).
    // This logger config IS the fix: the partitionBy(lit(1)) spelling
    // does not survive Catalyst's constant folding (measured, r18), so
    // the warning cannot be suppressed at the source without changing
    // plans. Verified: zero such lines across full bench runs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Warm-up: JIT + codegen + parquet footer reads land outside the
    // per-query timings. Each table warms under its OWN catch: a loader
    // that breaks on drifted testdata must cost only its dependent
    // queries (which fail visibly in run()), never the whole bench JVM.
    Tables.names.foreach { n =>
      try {
        if (n == "events") Tables.events(spark, sfDir).count()
        else Tables.load(spark, sfDir, n).count()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up of table $n FAILED: ${e.getMessage}")
      }
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val byName = queries.toMap
    // noop sink = full evaluation of EVERY output column. A count()
    // consumer lets Catalyst prune the very projections being measured.
    // Watchdog ([[Watchdog]], spec-pinned): a hung plan gets its job
    // group cancelled after the deadline and benches as FAILED — the
    // r17 artifact could not even say whether the timeout was protocol
    // length or a single hang. A failed query is NEVER silent: it
    // would otherwise bench as ~0 s.
    def run(name: String, timeoutS: Double = queryTimeoutS): Unit =
      Watchdog.runWatched(spark, s"bench-$name", timeoutS) {
        byName(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }.foreach(why => System.err.println(s"[bench] $name FAILED: $why"))
    // Untimed warm-up pass over the whole suite: janino compilation is
    // a one-time per-plan cost any long-lived deployment amortizes to
    // zero. Its wall doubles as the first (conservative: includes
    // compilation) pass-time estimate for the budget arithmetic.
    // No query caches an intermediate (Pipeline.withCheckouts); the
    // clear between runs, OUTSIDE the timed window, is a backstop.
    val warmT0 = System.nanoTime()
    val warmTimes = queries.map { case (name, _) =>
      // 3× deadline during warm-up: one-time artifact learns (BPE, PQ
      // codebooks, token-count artifacts) land here by design, and a
      // cold registry on a throttled host must not trip the watchdog
      // into poisoning the learn (the retry would then bill a timed pass)
      val t0 = System.nanoTime()
      run(name, queryTimeoutS * 3)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"#w ${BenchFormat.compactKey(name)} $dt%.2fs " +
        f"t=${elapsedS}%.0f")
      spark.catalog.clearCache()
      name -> dt
    }
    var estPassS = (System.nanoTime() - warmT0) / 1e9
    System.err.println(f"[bench] warm-up pass ${estPassS}%.1f s, " +
      f"elapsed ${elapsedS}%.1f / budget ${budgetS}%.0f s")
    def timesJson(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    System.err.println(
      s"""{"learning":${timesJson(graft.operators.ArtifactCache.learnTimes)},""" +
      s""""registry_loads":${timesJson(graft.operators.ArtifactCache.loadTimes)}}""")
    // Up to two timed passes, min per query ACROSS passes (suite-
    // separated samples: back-to-back samples of one query share any
    // transient contention window). Host-speed canaries bracket each
    // suite; mcpu/cpu > gate = throttled window (Canary.scala).
    val nPasses = 2
    // Streamed provisional block: printed the moment a pass (and then
    // a suite) completes, so a kill at ANY later point still leaves a
    // parseable per-query map + total in the tail. Same line format as
    // the final block — a killed run's newest provisional block IS the
    // artifact; the spacer before the final block keeps a completed
    // run's tail pure.
    // The newest provisional total is also re-emitted as a HEARTBEAT
    // every ~20 queries during passes: the first kill-test run proved
    // that per-query progress lines alone push the provisional block
    // out of the driver's 2 KB tail within ~60 queries — the heartbeat
    // keeps a parseable total within the last ~700 chars at any kill
    // point (BenchProtocolSpec pins the arithmetic).
    var lastTotalLine: Option[String] = None
    def printProvisional(mins: Seq[(String, Double)],
                         defl: Double): Unit = {
      BenchFormat.perQueryLines(mins).foreach(println)
      // defl = the caller's already-gated deflator: 0 for mid-pass
      // blocks (no completed bracket yet) AND for non-stationary
      // windows (SuiteRun.deflatorOrZero) — either way the block
      // publishes the raw total only, no deflated field
      val total = BenchFormat.totalLine(mins.map(_._2).sum, sfDir, defl)
      println(total)
      lastTotalLine = Some(total)
      System.out.flush()
    }
    // Last-ditch artifact floor: a provisional block from the WARM-UP
    // timings, printed before the first timed pass even starts. These
    // values include one-time compile/learn cost — inflated as a perf
    // number, but if the driver's kill lands mid-pass-1 they are the
    // only per-query data the round gets, and a worse number beats no
    // number. Pass 1's own provisional block supersedes them in the
    // tail the moment it completes.
    printProvisional(warmTimes, 0.0)
    Canary.warm(spark)
    val preProbe = Canary.sample(spark)
    def ratioOf(c: Map[String, Double]): Double = c("mcpu") / c("cpu")
    if (ratioOf(preProbe) > knobs.gate) {
      if (BenchProtocol.preCooldown(ratioOf(preProbe), elapsedS, budgetS,
          estPassS, knobs)) {
        System.err.println(f"""{"throttle_gate":"pre-run probe mcpu/cpu=${
          ratioOf(preProbe)}%.2f > ${knobs.gate}%.1f - cooling down ${
          knobs.cooldownS.toInt}s before the timed suite"}""")
        Thread.sleep((knobs.cooldownS * 1000).toLong)
      } else System.err.println(f"""{"throttle_gate":"pre-run probe mcpu/cpu=${
        ratioOf(preProbe)}%.2f throttled but budget cannot fit a cooldown + pass - proceeding"}""")
    }
    final case class SuiteRun(
        samples: Seq[collection.Map[String, Double]],
        pre: Map[String, Double], post: Map[String, Double],
        wallS: Double) {
      // the WORSE bracket judges the window: throttling at either end
      // can inflate queries anywhere between them
      def worstRatio: Double = math.max(ratioOf(pre), ratioOf(post))
      // deflation publishes only when the window HELD between the
      // brackets (pre ≈ post); a spiked bracket deflates to nonsense
      // (BenchProtocol.stationary's scaladoc has the live r19 case)
      def deflatorOrZero: Double =
        if (BenchProtocol.stationary(ratioOf(pre), ratioOf(post)))
          BenchProtocol.deflator(worstRatio)
        else 0.0
      def mins: Seq[(String, Double)] = queries.map { case (name, _) =>
        name -> samples.map(_(name)).min
      }
    }
    def timedSuite(tag: String): SuiteRun = {
      val suiteT0 = System.nanoTime()
      val pre = Canary.sample(spark)
      val samples =
        collection.mutable.ArrayBuffer.empty[collection.Map[String, Double]]
      var pass = 0
      var go = true
      while (go) {
        val m = collection.mutable.LinkedHashMap.empty[String, Double]
        val passT0 = System.nanoTime()
        queries.zipWithIndex.foreach { case ((name, _), i) =>
          val qt0 = System.nanoTime()
          run(name)
          val dt = (System.nanoTime() - qt0) / 1e9
          m(name) = dt
          // short per-query progress line: a killed run's tail shows
          // exactly where it died (keep it terse — under a kill these
          // lines share the ~2 KB tail with the provisional block)
          System.err.println(
            f"#$tag p${pass + 1} ${i + 1}%03d/${queries.size} ${
              BenchFormat.compactKey(name)} ${dt}%.2fs t=${elapsedS}%.0f")
          // heartbeat: keep the newest provisional total inside the
          // tail window even under a flood of progress lines
          if (i % 20 == 19) {
            lastTotalLine.foreach(println)
            System.out.flush()
          }
          spark.catalog.clearCache()
        }
        samples += m
        estPassS = (System.nanoTime() - passT0) / 1e9
        // provisional block after EVERY pass — min over passes so far
        val minsSoFar = queries.map { case (name, _) =>
          name -> samples.map(_(name)).min
        }
        printProvisional(minsSoFar, 0.0)
        pass += 1
        go = pass < nPasses &&
          BenchProtocol.nextPassFits(elapsedS, budgetS, estPassS, knobs)
        if (!go && pass < nPasses)
          System.err.println(f"""{"budget_gate":"skipping pass ${
            pass + 1} of $tag - elapsed ${elapsedS}%.0f + est ${
            estPassS}%.0f*${knobs.margin}%.1f > budget ${budgetS}%.0f"}""")
      }
      SuiteRun(samples.toSeq, pre, Canary.sample(spark),
        (System.nanoTime() - suiteT0) / 1e9)
    }
    val run1 = timedSuite("r1")
    printProvisional(run1.mins, run1.deflatorOrZero)
    val chosen = if (run1.worstRatio > knobs.gate) {
      if (BenchProtocol.rerun(run1.worstRatio, elapsedS, budgetS,
          run1.wallS, knobs)) {
        System.err.println(f"""{"throttle_gate":"bracket mcpu/cpu=${
          run1.worstRatio}%.2f > ${knobs.gate}%.1f - re-running the timed suite once after a ${
          knobs.cooldownS.toInt}s cooldown"}""")
        Thread.sleep((knobs.cooldownS * 1000).toLong)
        val run2 = timedSuite("r2")
        printProvisional(run2.mins, run2.deflatorOrZero)
        val keep = if (run2.worstRatio < run1.worstRatio) run2 else run1
        System.err.println(f"""{"throttle_gate":"kept the ${
          if (keep eq run2) "second" else "first"} run (brackets ${
          run1.worstRatio}%.2f vs ${run2.worstRatio}%.2f)"}""")
        keep
      } else {
        System.err.println(f"""{"throttle_gate":"bracket mcpu/cpu=${
          run1.worstRatio}%.2f > ${knobs.gate}%.1f but budget cannot fit a cooldown + re-run - keeping run 1 (deflated total corrects for the throttle)"}""")
        run1
      }
    } else run1
    val samples = chosen.samples
    val (canaryPre, canaryPost) = (chosen.pre, chosen.post)
    val canary = Canary.names.map(n =>
      n -> math.min(canaryPre(n), canaryPost(n)))
    val results = chosen.mins
    val raw = queries.map { case (name, _) =>
      s"\"" + name + "\":" +
        samples.map(_(name)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Raw per-pass samples + canary calibration go to STDERR (tail
    // budget); the driver-facing artifact is the final stdout block.
    System.err.println(s"""{"samples":$raw,"estimator":"min over ${
      samples.size} suite-separated passes (untimed warm-up pass first)"}""")
    System.err.println(
      s"""{"canary_pre":${timesJson(canaryPre)},"canary_post":${timesJson(canaryPost)}}""")
    // Final kept block, in casualty order (the driver keeps the LAST
    // ~2 KB): spacer first — it flushes any surviving provisional
    // lines out of the tail so the position-independent entry recovery
    // sees only kept-run values — then canary, per-query parts, and
    // the short total line last, always. Deflation: the kept run's own
    // worstRatio (the gate's signal), not min-of-bracket pairs — and
    // only when the window held between the brackets; a moving window
    // logs a deflation_gate line and ships raw + brackets only.
    if (chosen.deflatorOrZero == 0.0 && chosen.worstRatio > 0)
      System.err.println(f"""{"deflation_gate":"brackets ${
        ratioOf(chosen.pre)}%.2f vs ${ratioOf(chosen.post)
        }%.2f disagree > 2x - window non-stationary, publishing raw total only"}""")
    println(BenchProtocol.spacerLine())
    println(BenchFormat.canaryLine(canary, sfDir))
    BenchFormat.perQueryLines(results).foreach(println)
    println(BenchFormat.totalLine(total, sfDir, chosen.deflatorOrZero))
    spark.stop()
  }
}
