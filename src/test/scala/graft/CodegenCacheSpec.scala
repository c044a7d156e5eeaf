package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The codegen cache holds a catalogue working set
  * ([[Session.CodegenCacheEntries]]). Spark builds the cache once per
  * JVM from the conf in force at the first compile, so the session's
  * conf (PlanAuditSpec "session invariants") does not by itself show
  * that the size reached it; a second run of the same queries that
  * compiles next to nothing does. At Spark's default of 100 entries the
  * second run recompiles nearly every class the first one compiled.
  */
class CodegenCacheSpec extends AnyFunSuite with SharedSpark {

  test("a second run of the same catalogue queries compiles almost nothing") {
    val sf = "/root/testdata/sf0.001"
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => (1 to 20).contains(BenchFormat.compactKey(n).toInt))
    assert(names.size == 20)
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def runAll(): Long = {
      val before = compiles()
      for (n <- names)
        SparkEntry.queries(n)(spark, sf).write.format("noop")
          .mode("overwrite").save()
      compiles() - before
    }
    val first = runAll()
    val second = runAll()
    assert(second <= 5, s"second run compiled $second classes (first $first)")
  }
}
