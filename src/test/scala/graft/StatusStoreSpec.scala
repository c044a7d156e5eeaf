package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session holds flat: Spark's status stores keep at most
  * [[Session.StatusRetention]] finished jobs and SQL executions however
  * many queries the session runs (Bench, Verify and the suite run the
  * whole catalogue in one session).
  */
class StatusStoreSpec extends AnyFunSuite with SharedSpark with PlanCapture {

  /** Small queries with a shuffle each (an aggregate, a join, a sort). */
  private def queries: Seq[() => Any] = Seq(
    () => spark.range(2000).groupBy(col("id") % 7).count().collect(),
    () => spark.range(2000).join(spark.range(500), "id").count(),
    () => spark.range(500).orderBy(col("id").desc).limit(3).collect(),
    () => spark.range(1000).select(sum("id")).collect(),
    () => spark.range(300).distinct().count())

  test("status stores keep at most Session.StatusRetention jobs and SQL executions") {
    val cap = Session.StatusRetention
    val passes = 4
    val jobs = captureJobs {
      for (_ <- 1 to passes; q <- queries; _ <- 1 to 3) q()
    }
    val executions = jobs.count(_._1.nonEmpty)
    assert(executions > cap, s"the spec must run more than $cap executions, ran $executions")
    val store = spark.sharedState.statusStore
    awaitStable(store.executionsCount().toInt)
    assert(store.executionsCount() <= cap,
      s"${store.executionsCount()} SQL executions retained, cap $cap")
    val retainedJobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(retainedJobs <= cap, s"$retainedJobs jobs retained, cap $cap")
  }
}
