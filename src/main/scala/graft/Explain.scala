package graft

/** Dev tool: print the executed plan of registered queries under the
  * same [[Session]] confs Bench and OneQ time at (`SPARK_GRAFT_CPUS`) —
  * `runMain graft.Explain q121_pagerank`.
  * Iteration aid for the plan-shape work PlanAuditSpec pins.
  *
  * `SPARK_GRAFT_EXPLAIN_MODE=formatted` switches to
  * `explain("formatted")` output (numbered operators + per-operator
  * details: PushedFilters, ReadSchema, join build side) — the mode the
  * r19 plan-evidence files under plans/ are captured in.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "executed")
    for (q <- args) {
      println(s"==== $q ====")
      val qe = SparkEntry.queries(q)(spark, d).queryExecution
      if (mode == "formatted") println(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      else println(qe.executedPlan)
    }
    spark.stop()
  }
}
