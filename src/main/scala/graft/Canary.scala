package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-speed calibration probes bracketing a bench run (stderr).
  *
  * Cross-round per-query comparisons have one confound the suite itself
  * cannot observe: the wall speed of the host window the driver happened
  * to run in (r9→r10 showed a uniform 1.35× shift on queries whose code
  * did not change — almost certainly ambient drift, but the bench
  * carried no instrument to prove it). These three probes are
  * FIXED-WORK, SEED-CONSTANT and PARQUET-FREE, so their only variable
  * across rounds is the host itself:
  *
  *  - `cpu`: a single-threaded 64-bit mix loop (xorshift/multiply —
  *    constant instruction stream, no allocation, no memory traffic
  *    beyond registers) — pure scalar CPU speed;
  *  - `sort`: `java.util.Arrays.sort` over a constant-seed xorshift
  *    array of 2^22 longs — cache/memory-bandwidth-bound single-thread
  *    work, the profile of in-partition sorts;
  *  - `shuf`: a `spark.range` → hash-key groupBy-count through the noop
  *    sink — one real exchange over 2^22 synthetic rows, exercising the
  *    task-scheduling + shuffle-write/read path with zero file IO;
  *  - `mcpu` (r16): the `cpu` mix loop run CONCURRENTLY on every
  *    available core, wall-timed. Single-stream probes cannot see
  *    multi-core throttling — a measured r16 episode had cpu/sort/shuf
  *    FASTER than the prior round while the 32-thread suite ran 1.74×
  *    slower (hypervisor steal visible only under parallel load). On an
  *    unthrottled host `mcpu ≈ cpu`; a higher `mcpu/cpu` ratio says the
  *    window was short of parallel capacity.
  *
  * Protocol ([[bracketed]]): one untimed warm run (JIT + codegen land
  * outside the samples, same policy as the suite warm-up), then one
  * timed sample before the measured body and one after it. The bracket
  * is context for reading the body's timings: nothing is corrected by
  * it. SURVEY §6 records the per-round values.
  */
object Canary {

  // JIT blackhole: the probes' results fold in here so dead-code
  // elimination can't hollow out the measured loops
  @volatile private var sink: Long = 0L

  private def time(f: => Long): Double = {
    val t0 = System.nanoTime()
    sink ^= f
    (System.nanoTime() - t0) / 1e9
  }

  private def cpuProbe(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 26)) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29
      i += 1
    }
    x
  }

  private def sortProbe(): Long = {
    val a = new Array[Long](1 << 22)
    var s = 88172645463325252L
    var i = 0
    while (i < a.length) {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      a(i) = s
      i += 1
    }
    java.util.Arrays.sort(a)
    a(a.length / 2)
  }

  private def shufProbe(spark: SparkSession): Long = {
    spark.range(0, 1L << 22)
      .select(pmod(hash(col("id")), lit(4096)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .write.format("noop").mode("overwrite").save()
    0L
  }

  /** The cpu mix loop on every available core at once — wall time of
    * the slowest thread. Plain threads, not Spark tasks: the probe
    * measures the HOST's parallel capacity, not the scheduler.
    */
  private def mcpuProbe(): Long = {
    val n = Runtime.getRuntime.availableProcessors()
    val results = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until n).map { _ =>
      new Thread(() => { results.getAndAdd(cpuProbe()) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.get()
  }

  private def warm(spark: SparkSession): Unit = {
    sink ^= cpuProbe(); sink ^= sortProbe(); sink ^= shufProbe(spark)
    sink ^= mcpuProbe()
  }

  /** One timed sample of every probe. */
  private def sample(spark: SparkSession): Map[String, Double] = Map(
    "cpu" -> time(cpuProbe()),
    "sort" -> time(sortProbe()),
    "shuf" -> time(shufProbe(spark)),
    "mcpu" -> time(mcpuProbe()))

  /** Run `body` inside a canary bracket, print the bracket as one
    * stderr JSON line, and return `body`'s result. Every
    * measurement tool (Bench, OneQ) carries its own window tag, so an
    * absolute number is never published without the throttle context
    * that decides whether it is an anchor or an upper bound.
    */
  def bracketed[T](spark: SparkSession, label: String)(body: => T): T = {
    warm(spark)
    val pre = sample(spark)
    try body finally {
      val post = sample(spark)
      def j(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val worst = math.max(pre("mcpu") / pre("cpu"),
        post("mcpu") / post("cpu"))
      System.err.println(f"""{"bracket":"$label","worst_mcpu_cpu":$worst%.2f,"pre":${
        j(pre)},"post":${j(post)}}""")
    }
  }
}
