package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** [[Pipeline.concurrently]]: branches run side by side, inherit the
  * caller's Spark context, and the call ends only after every branch. No
  * spec sleeps: each ordering is forced by a latch, and every wait is
  * bounded.
  */
class ConcurrentlySpec extends AnyFunSuite with SharedSpark with PlanCapture {

  test("branches run side by side: two that wait for each other both finish") {
    // one after the other, the first branch would wait for the second
    // forever; the bounded await turns that into a failed assertion
    val both = new CountDownLatch(2)
    def meet(): Boolean = { both.countDown(); both.await(60, TimeUnit.SECONDS) }
    val (a, b) = Pipeline.concurrently(meet(), meet())
    assert(a && b, "the branches did not run at the same time")
  }

  test("a failing branch surfaces after its sibling ends; the call's checkouts are released") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val thrown = new CountDownLatch(1)
    @volatile var siblingDone = false
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def held(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.logical.collect { case r: LogicalRDD => ids.add(r.rdd.id) }
    val e = intercept[IllegalStateException] {
      Pipeline.withCheckouts { checkout =>
        Pipeline.concurrently({
          val c = checkout(spark.range(100).toDF("id"))
          held(c)
          // the sibling's failure is already on its way; this branch
          // still has a job to run before it ends
          thrown.await(60, TimeUnit.SECONDS)
          assert(c.count() == 100)
          siblingDone = true
        }, {
          val c = checkout(spark.range(7).toDF("id"))
          held(c)
          try throw new IllegalStateException("injected branch failure")
          finally thrown.countDown()
        })
      }
    }
    assert(e.getMessage == "injected branch failure")
    assert(siblingDone, "the failure surfaced before the sibling branch ended")
    val checkedOut = ids.asScala.toSet
    assert(checkedOut.size == 2, s"expected two checkouts, saw $checkedOut")
    assert(persisted.intersect(checkedOut).isEmpty,
      s"checkouts left persisted: ${persisted.intersect(checkedOut)}")
  }

  test("every failure surfaces: the first is thrown, the others suppressed on it") {
    val e = intercept[RuntimeException] {
      Pipeline.concurrently[Unit, Unit, Int](
        throw new RuntimeException("a"), throw new RuntimeException("b"), 3)
    }
    assert((e.getMessage +: e.getSuppressed.map(_.getMessage).toSeq).sorted ==
      Seq("a", "b"))
  }

  test("jobs of every branch carry the caller's job group and session") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    val executions = try captureJobs {
      val (a, b) = Pipeline.concurrently(
        { assert(SparkSession.active eq spark); spark.range(5).count() },
        { assert(SparkSession.active eq spark); spark.range(6).count() })
      assert((a, b) == (5L, 6L))
    } finally sc.clearJobGroup()
    assert(executions.size >= 2, executions.toString)
    assert(executions.forall(_._3 == Set("caller-group")), executions.toString)
  }
}
