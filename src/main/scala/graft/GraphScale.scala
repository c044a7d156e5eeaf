package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Graph NODE-count scaling measurement — the SURVEY §6 gap the r14
  * verdict named (item 3): the ×10 bench grows edge WEIGHTS on the
  * same sf0.1 graph, so true node growth ("more hosts", the regime a
  * web-scale authority rank actually lives in) was still asserted
  * linear rather than measured, and the
  * [[Graph.BroadcastNodeLimit]] = 500k broadcast→shuffle transition
  * had never been priced.
  *
  * Per node count this main synthesizes — once, deterministically
  * (hash-derived targets, no Random/now) — a degree-6 directed
  * graph, SYMMETRIZED by doubling (the q121/q125
  * coverage contract, so validation passes are skipped exactly as
  * those callers skip them), persists it to parquet, and measures:
  *
  *  - pageRank per-round wall = (wall(5 iters) − wall(1 iter)) / 4 —
  *    the subtraction removes the one-time transition-matrix build +
  *    checkpoint and the |N| count from the per-round figure;
  *  - labelPropagation per-round wall, same protocol;
  *  - at the counts straddling the 500k limit, a forced-regime A/B on
  *    the SAME graph (forceBroadcast seam): below-limit graphs also
  *    run forced-SHUFFLE and above-limit graphs forced-BROADCAST, so
  *    the limit's placement is a measured decision, not an asserted
  *    one.
  *
  * Default node counts bracket the transition around q121's real
  * base (~16k nodes at sf0.1): 160k (×10), 400k (below limit),
  * 800k (above), 1.6M (×100).
  *
  * Usage: runMain graft.GraphScale [nNodes ...]
  * (the SURVEY §6 figures ran with `SPARK_GRAFT_CPUS=32`)
  */
object GraphScale {

  private val Degree = 6

  /** Build-once deterministic symmetric edge list: node i → 6 hash
    * targets, then doubled (dst→src) — every node is both a src and a
    * dst by construction.
    */
  private def edgesFor(spark: SparkSession, n: Long): DataFrame = {
    val dir = s"/tmp/graft_synth/graph_$n"
    val path = new org.apache.hadoop.fs.Path(s"$dir/edges.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) {
      val fwd = spark.range(n)
        .select(col("id").as("src"),
          explode(array((0 until Degree).map(lit): _*)).as("j"))
        .select(col("src"),
          pmod(xxhash64(col("src"), col("j")), lit(n)).as("dst"),
          (pmod(xxhash64(col("j"), col("src")), lit(9)) + 1)
            .cast("double").as("weight"))
        .filter(col("src") =!= col("dst")) // self-loops add nothing here
      val sym = fwd.unionByName(fwd.select(col("dst").as("src"),
        col("src").as("dst"), col("weight")))
      sym.write.mode("overwrite").parquet(s"$dir/edges.parquet")
      println(s"[graphscale] wrote $n-node graph -> $dir")
    }
    spark.read.parquet(s"$dir/edges.parquet")
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(160000L, 400000L, 800000L, 1600000L)
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (n <- counts) {
      val edges = edgesFor(spark, n)
      val auto = n <= Graph.BroadcastNodeLimit
      // one untimed warm pass (janino + shuffle file warm-up)
      Graph.pageRank(edges, 1, 0.85, validateNoDangling = false)
        .write.format("noop").mode("overwrite").save()

      def prRound(force: Option[Boolean]): Double = {
        def wall(iters: Int) = timed(
          Graph.pageRank(edges, iters, 0.85, validateNoDangling = false,
            forceBroadcast = force)
            .write.format("noop").mode("overwrite").save())
        (wall(5) - wall(1)) / 4
      }
      def lpaRound(force: Option[Boolean]): Double = {
        def wall(iters: Int) = timed(
          Graph.labelPropagation(edges, iters, validateCoverage = false,
            forceBroadcast = force)
            .write.format("noop").mode("overwrite").save())
        (wall(4) - wall(1)) / 3
      }

      val prAuto = prRound(None)
      val lpaAuto = lpaRound(None)
      // price the OTHER regime on the same graph
      val prForced = prRound(Some(!auto))
      val lpaForced = lpaRound(Some(!auto))
      val (prB, prS) = if (auto) (prAuto, prForced) else (prForced, prAuto)
      val (lpB, lpS) = if (auto) (lpaAuto, lpaForced) else (lpaForced, lpaAuto)
      println(f"""{"metric":"graphscale","nodes":$n,""" +
        f""""edges":${n * Degree * 2},"auto_regime":"${if (auto) "broadcast" else "shuffle"}",""" +
        f""""pr_round_bcast":$prB%.2f,"pr_round_shuffle":$prS%.2f,""" +
        f""""lpa_round_bcast":$lpB%.2f,"lpa_round_shuffle":$lpS%.2f,""" +
        f""""unit":"sec"}""")
    }
    spark.stop()
  }
}
