package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed plans of a composed run, for scan-count and plan-shape
  * assertions over everything the run triggers.
  */
trait PlanCapture { self: SharedSpark =>

  /** Executed plans of every action `body` triggers, captured by a
    * QueryExecutionListener.
    */
  def capturePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the execution listener bus is async — poll until the capture
      // count is stable for a second
      var last = -1; var stable = 0
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stable < 4 && System.nanoTime < deadline) {
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
        Thread.sleep(250)
      }
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Structural traversal: descend through AQE wrappers, STOP at
    * InMemoryTableScan (its cached child plan executes once by the
    * cache contract, not per consumer).
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** File scans whose root paths name `path` (a file or any part of
    * its path), counting the plan of each distinct cache build the
    * plans consume once: a build runs inside whichever query first
    * reads the cache, so its scan is invisible to [[allNodes]].
    */
  def fileScans(plans: Seq[SparkPlan], path: String): Seq[FileSourceScanExec] = {
    val builds = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def expand(p: SparkPlan): Seq[SparkPlan] = allNodes(p).flatMap {
      case t: InMemoryTableScanExec if builds.add(t.relation.cacheBuilder) =>
        t +: expand(t.relation.cacheBuilder.cachedPlan)
      case n => Seq(n)
    }
    plans.flatMap(expand).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains(path)) => f
    }
  }
}
