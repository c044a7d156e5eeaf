package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Raw scheduler and SQL events, each tagged with the job group that was
  * set on the calling thread when the work was submitted. The harness
  * sets one job group per span; aggregation into per-span counters
  * happens offline (perfbench/stats.py), so this class only records.
  *
  * Lives under `org.apache.spark.sql` for the `private[sql]` query
  * execution carried by SQL end events and the `private[spark]` bus
  * drain used at span boundaries.
  */
class Recorder(scanPath: String) extends SparkListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // one long-CSV scan per distinct cache build, however many consumers
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[AnyRef, java.lang.Boolean]())

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .getOrElse("")

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = group(j.properties)
    j.stageIds.foreach(stageGroup.put(_, g))
    events.add(Map("kind" -> "job", "group" -> g, "job" -> j.jobId))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    events.add(Map("kind" -> "stage",
      "group" -> Option(stageGroup.get(i.stageId)).getOrElse(""),
      "stage" -> i.stageId, "tasks" -> i.numTasks,
      "task_ms" -> (if (m == null) 0L else m.executorRunTime),
      "shuffle_write_bytes" ->
        (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" ->
        (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case s: SparkListenerSQLExecutionEnd if s.qe != null =>
      val qe = s.qe
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val nodes = Recorder.nodes(qe.executedPlan)
      val exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      val scans = nodes.count {
        case f: FileSourceScanExec => Recorder.reads(f, scanPath)
        case _ => false
      } + nodes.collect { case t: InMemoryTableScanExec => t }.count { t =>
        val builder = t.relation.cacheBuilder
        Recorder.nodes(builder.cachedPlan).exists {
          case f: FileSourceScanExec => Recorder.reads(f, scanPath)
          case _ => false
        } && seenCaches.add(builder)
      }
      events.add(Map("kind" -> "sql",
        "group" -> Option(execGroup.get(s.executionId)).getOrElse(""),
        "exec" -> s.executionId, "plan_ms" -> planMs,
        "exchanges" -> exchanges, "long_csv_scans" -> scans))
    case _ =>
  }

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def drained(): Seq[Map[String, Any]] = events.asScala.toSeq
}

object Recorder {
  /** Every node of an executed plan: descends through AQE wrappers and
    * query stages and into subqueries; stops at an in-memory scan (its
    * cached plan runs once per cache build, not per consumer).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def reads(f: FileSourceScanExec, path: String): Boolean =
    path.nonEmpty && f.relation.location.rootPaths.exists(_.toString.endsWith(path))
}
