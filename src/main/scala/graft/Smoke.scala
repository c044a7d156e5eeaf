package graft

import org.apache.spark.sql.SparkSession

/** The entry-point smoke check: a bare `local[4]` session (no special
  * confs — deliberately NOT [[Session]], so an entry point that only
  * works under the repo's confs fails here), run `SparkEntry.entry`,
  * require rows > 0. Run with `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(3, truncate = false)
    println(s"[smoke] entry rows=$n cols=${df.columns.length}")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
