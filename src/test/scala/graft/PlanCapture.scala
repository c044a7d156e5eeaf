package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
      awaitStable(plans.size)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The listener buses are async — poll until `count` is stable for a
    * second.
    */
  def awaitStable(count: => Int): Unit = {
    var last = -1; var stable = 0
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (stable < 4 && System.nanoTime < deadline) {
      if (count == last) stable += 1 else { stable = 0; last = count }
      Thread.sleep(250)
    }
  }

  /** Jobs of every action `body` triggers, counted by an `onJobStart`
    * listener and grouped by `spark.sql.execution.id`: one (description,
    * jobs, job groups) triple per SQL execution, in execution order,
    * labelled by its `SparkListenerSQLExecutionStart` description (the
    * call site, e.g. `foreachPartition at TileBuild.scala:…`), with the
    * `spark.jobGroup.id` of its jobs ("" for none); jobs outside any
    * execution count under "".
    */
  def captureJobs(body: => Unit): Seq[(String, Int, Set[String])] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val described = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(prop("spark.sql.execution.id").fold(-1L)(_.toLong) ->
          prop("spark.jobGroup.id").getOrElse(""))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          described.put(s.executionId, s.description)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      awaitStable(jobs.size)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, js) =>
      (if (id < 0) "" else described.getOrDefault(id, s"execution $id"), js.size,
        js.map(_._2).toSet)
    }
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
