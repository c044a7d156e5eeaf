package graft

import graft.BenchProtocol.Sample

/** Benchmark harness: one untimed warm pass over the catalogue, then
  * up to two timed passes; each query reports its minimum over the
  * passes in which it succeeded ([[BenchProtocol.minOverSuccesses]]).
  * Protocol decisions are pure functions in [[BenchProtocol]]; this
  * file only runs and prints.
  *
  * A killed run must still leave a parseable artifact (BENCH_r17 rc=124
  * left none because nothing printed until the end):
  *  - the warm pass and each timed pass stream their per-query lines
  *    and a provisional total to stdout the moment the pass completes,
  *    and the newest total is re-printed as a heartbeat every 20
  *    queries;
  *  - pass 2 runs only when the wall budget
  *    (`SPARK_GRAFT_BENCH_BUDGET_S`, default 1500) still fits it
  *    ([[BenchProtocol.nextPassFits]]), with a logged reason otherwise;
  *  - every query runs under a watchdog
  *    (`SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S`, default 300; rationale at
  *    the val site): `cancelJobGroup` after the deadline, a FAILED
  *    line, and the suite continues;
  *  - one short timestamped stderr line per query, so a killed run's
  *    tail shows exactly where it died.
  *
  * The final block is the spacer, the `per_query_cs` lines and the
  * short total line last. The host-speed bracket around the timed
  * passes (context only) goes to stderr, so under `sbt runMain`, whose
  * `[info] ` prefixes and `[success]` line share the 2 KB tail, the
  * tail still holds the whole block (BenchFormatSpec).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Wall budget for the WHOLE protocol, under the kill horizon observed
    // for bench runs (a 1946 s sbt run completed, a longer one was killed):
    // 1500 s in-JVM + ~60 s sbt leaves ~25% margin — a self-truncated
    // run with data beats a killed run without.
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .map(_.toDouble).getOrElse(1500.0)
    // 300 s: the watchdog exists for HANGS, not slow windows (a 5.25×
    // throttled window pushed q50 and q146 past a 120 s deadline); a
    // real hang still costs only a fifth of the budget per pass
    val queryTimeoutS = sys.env.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S")
      .map(_.toDouble).getOrElse(300.0)
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `WindowExec: No Partition Defined` spam from the engine's
    // deliberate single-partition windows (keySkewProfile,
    // packingOffsets) would fill the stdout tail; Catalyst folds a
    // partitionBy(lit(1)) spelling away, so the logger level is the fix.
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
    val names = SparkEntry.queries.keys.toSeq.sorted
    // noop sink = full evaluation of EVERY output column. A count()
    // consumer lets Catalyst prune the very projections being measured.
    // Watchdog ([[Watchdog]], spec-pinned): a hung plan gets its job
    // group cancelled after the deadline and the sample is marked
    // failed, so it never reports as a time.
    // No query caches an intermediate (Pipeline.withCheckouts); the
    // clear after each query, outside the timed window, is a backstop.
    def run(name: String, timeoutS: Double): Sample = {
      val qt0 = System.nanoTime()
      val failure = Watchdog.runWatched(spark, s"bench-$name", timeoutS) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val dt = (System.nanoTime() - qt0) / 1e9
      failure.foreach(why => System.err.println(s"[bench] $name FAILED: $why"))
      spark.catalog.clearCache()
      Sample(name, dt, failure.isEmpty)
    }
    // Every pass ends with a provisional block in the final block's
    // line format, so a kill at any later point still leaves a
    // parseable per-query map + total in the tail; the spacer before
    // the final block keeps a completed run's tail pure. The newest
    // total is re-printed as a HEARTBEAT every 20 queries: per-query
    // progress lines alone push the block out of the 2 KB stdout
    // tail within ~60 queries (BenchProtocolSpec replays this).
    var lastTotalLine: Option[String] = None
    def printBlock(times: Seq[(String, Double)]): Unit = {
      BenchFormat.perQueryLines(times).foreach(println)
      val total = BenchFormat.totalLine(times.map(_._2).sum, sfDir)
      println(total)
      lastTotalLine = Some(total)
      System.out.flush()
    }
    // One pass over the catalogue; returns its samples and its wall.
    def pass(tag: String, timeoutS: Double): (Seq[Sample], Double) = {
      val passT0 = System.nanoTime()
      val samples = names.zipWithIndex.map { case (name, i) =>
        val s = run(name, timeoutS)
        // terse: under a kill these lines share the ~2 KB tail with
        // the provisional block
        System.err.println(f"#$tag ${i + 1}%03d/${names.size} ${
          BenchFormat.compactKey(name)} ${s.seconds}%.2fs t=${elapsedS}%.0f")
        if (i % 20 == 19) {
          lastTotalLine.foreach(println)
          System.out.flush()
        }
        s
      }
      (samples, (System.nanoTime() - passT0) / 1e9)
    }
    // Untimed warm pass: janino compilation and one-time artifact
    // learns land here, not in the timed passes (the codegen cache is
    // sized to hold the whole catalogue's classes, Session). 3×
    // deadline: a cold registry on a throttled host must not trip the
    // watchdog into poisoning a learn (the retry would bill a timed
    // pass). Its block is the artifact floor if a kill lands in pass
    // 1: inflated by compilation, but a worse number beats none.
    val (warmSamples, warmS) = pass("w", queryTimeoutS * 3)
    System.err.println(f"[bench] warm-up pass ${warmS}%.1f s, " +
      f"elapsed ${elapsedS}%.1f / budget ${budgetS}%.0f s")
    def timesJson(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    System.err.println(
      s"""{"learning":${timesJson(graft.operators.ArtifactCache.learnTimes)},""" +
      s""""registry_loads":${timesJson(graft.operators.ArtifactCache.loadTimes)}}""")
    printBlock(BenchProtocol.minOverSuccesses(Seq(warmSamples)))
    // Up to two timed passes, min per query ACROSS passes (pass-
    // separated samples: back-to-back samples of one query share any
    // transient contention window).
    val mins = Canary.bracketed(spark, "bench") {
      val (p1, p1S) = pass("p1", queryTimeoutS)
      printBlock(BenchProtocol.minOverSuccesses(Seq(p1)))
      val passes = if (BenchProtocol.nextPassFits(elapsedS, budgetS, p1S)) {
        val p2 = pass("p2", queryTimeoutS)._1
        printBlock(BenchProtocol.minOverSuccesses(Seq(p1, p2)))
        Seq(p1, p2)
      } else {
        System.err.println(f"""{"budget_gate":"skipping pass 2 - elapsed ${
          elapsedS}%.0f + est ${p1S}%.0f*${BenchProtocol.Margin}%.1f > budget ${
          budgetS}%.0f"}""")
        Seq(p1)
      }
      BenchProtocol.minOverSuccesses(passes)
    }
    val measured = mins.map(_._1).toSet
    System.err.println(s"[bench] failed in every timed pass, left out: ${
      names.filterNot(measured).mkString(" ")}")
    println(BenchProtocol.spacerLine())
    BenchFormat.perQueryLines(mins).foreach(println)
    println(BenchFormat.totalLine(mins.map(_._2).sum, sfDir))
    spark.stop()
  }
}
