package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The scan counter the scan-once specs rest on. */
class PlanCaptureSpec extends AnyFunSuite with SharedSpark with PlanCapture {

  test("fileScans counts the scan inside each cache build, once per build") {
    val csv = Paths.get(Files.createTempDirectory("plancap").toString, "kv.csv")
    Files.write(csv, "k,v\na,1\nb,2\nc,3\n".getBytes("UTF-8"))
    val df = spark.read.option("header", "true").csv(csv.toString)
    // one file feeds two separately persisted frames (distinct plans, so
    // two cache entries); each is consumed, one of them twice
    val keys = df.select("k").persist()
    val big = df.filter(col("v") > 1).persist()
    try {
      val plans = capturePlans {
        keys.count(); big.count(); keys.collect()
      }
      assert(fileScans(plans, csv.toString).size == 2,
        "two cache builds each scan the file once")
    } finally { keys.unpersist(); big.unpersist() }
  }
}
