package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every main and the test suite
  * share, so plan evidence (Explain), timings (Bench, OneQ), the
  * correctness dump (Verify) and the specs all run under the same
  * confs:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions` = cpus;
  *  - AQE on (measured net-positive: q44 2.65 s with it, 11.79 s
  *    without);
  *  - UTC session time zone, UI off;
  *  - `windowGroupLimitThreshold` 100000, so ranked top-k windows plan
  *    as WindowGroupLimit (PlanAuditSpec pins the shapes);
  *  - [[graft.functions.GraftExtensions]] (the SQL function surface);
  *  - a codegen cache of [[CodegenCacheEntries]] classes.
  *
  * Callers add only what is theirs (app name, `SPARK_MASTER`, the
  * tests' warehouse dir) and call `getOrCreate()`.
  */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Spark's compiled-class LRU (`spark.sql.codegen.cache.maxEntries`,
    * default 100). One catalogue pass compiles ~2,200 distinct classes,
    * a warm `runRegion` 161 and an in-place delta 241; an LRU smaller
    * than a cyclic working set misses on every access, so at 100 every
    * warm pass recompiled nearly all it ran. This bound holds the whole
    * catalogue with headroom. It is a static conf, and Spark builds the
    * cache once per JVM from the conf in force at the first compile
    * (CodegenCacheSpec shows the size reached it).
    */
  val CodegenCacheEntries = 5000

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.adaptive.enabled", true)
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", false)
    .config("spark.sql.optimizer.windowGroupLimitThreshold", 100000L)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
}
