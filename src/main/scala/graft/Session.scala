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
  *  - [[graft.functions.GraftExtensions]] (the SQL function surface).
  *
  * Callers add only what is theirs (app name, `SPARK_MASTER`, the
  * tests' warehouse dir) and call `getOrCreate()`.
  */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.adaptive.enabled", true)
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", false)
    .config("spark.sql.optimizer.windowGroupLimitThreshold", 100000L)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
