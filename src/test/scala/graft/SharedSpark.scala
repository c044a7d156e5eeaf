package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** One SparkSession per suite, built through [[Session]] at 4 cores. */
trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  @transient lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-test")
    // static conf, first session in the JVM wins: keep saveAsTable
    // artifacts (the bucketed-join spec) out of the repo tree
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }
}
