package graft

/** Re-measure individual catalog queries outside the full bench.
  *
  * Comparability contract with the per-round bench artifact
  * (`BENCH_r*.json` per_query_cs): set `SPARK_GRAFT_CPUS=32` — those
  * artifacts were taken at local[32]; the [[Session]] default stays 4
  * for cheap plan-shape checks — and read the `min` line, which is min over
  * `SPARK_GRAFT_ONEQ_PASSES` (default 2) timed passes taken AFTER one
  * untimed warm pass, the same estimator Bench uses (warm pass absorbs
  * janino/codegen compilation and parquet footer reads; min over
  * suite-separated passes sheds transient contention).
  *
  * `SPARK_GRAFT_ONEQ_STATS=1` additionally prints, for the LAST timed
  * pass of each query, the scheduler's view: job / stage / task counts
  * and summed executor task time (a [[org.apache.spark.scheduler.SparkListener]]
  * over the pass). At sf0.1 most catalog queries are
  * scheduling-bound, not data-bound — `wall − task_time/cores` exposes
  * how much of a query's wall is job/stage round-trips, which is the
  * r19 optimization signal (fewer jobs/stages, not fewer bytes).
  */
object OneQ {
  private final class StatsListener
      extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskTimeMs.addAndGet(e.taskInfo.duration)
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val passes = sys.env.getOrElse("SPARK_GRAFT_ONEQ_PASSES", "2").toInt
    val wantStats = sys.env.get("SPARK_GRAFT_ONEQ_STATS").contains("1")
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the whole run self-reports its host window (stderr bracket line)
    // so a OneQ absolute is never published without throttle context
    Canary.bracketed(spark, "oneq") {
      for (q <- args) {
        // same full-evaluation consumer as Bench (a count() would let
        // Catalyst prune the very projections being timed)
        def once(stats: Option[StatsListener] = None): Double = {
          stats.foreach(spark.sparkContext.addSparkListener)
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, d).write.format("noop")
            .mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          stats.foreach { l =>
            // listener events are posted async (the bus's drain method
            // is private[spark]) — a short settle keeps the dev-tool
            // counters complete without touching Spark internals
            Thread.sleep(500)
            spark.sparkContext.removeSparkListener(l)
          }
          spark.catalog.clearCache()
          dt
        }
        val warm = once() // untimed-in-spirit: printed but never kept
        val statsL = if (wantStats) Some(new StatsListener) else None
        val timed = (1 to passes).map(i =>
          once(if (i == passes) statsL else None))
        println((f"[oneq] $q warm=$warm%.2f " +
          timed.zipWithIndex.map { case (t, i) => f"p${i + 1}=$t%.2f" }
            .mkString(" ") +
          f" min=${timed.min}%.2f s cpus=$cpus") +
          statsL.map(l => f" jobs=${l.jobs.get} stages=${l.stages.get}" +
            f" tasks=${l.tasks.get} task_s=${l.taskTimeMs.get / 1000.0}%.2f")
            .getOrElse(""))
      }
    }
    spark.stop()
  }
}
