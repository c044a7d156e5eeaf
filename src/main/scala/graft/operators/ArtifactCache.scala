package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Registry for LEARNED artifacts — BPE merge tables, PQ/SQ codebooks,
  * GK cuts, index tables: deterministic, immutable functions of
  * (corpus, hyperparameters), learned once and then only applied.
  *
  * [[fixture]] persists one in `$FixtureRoot/<name>/<count>/`: parquet
  * rows carrying the corpus count column the DuckDB oracle filters on
  * (it takes no scale factor), plus a sidecar `_key` with the full
  * provenance — cache key (corpus dir, hyperparameters), row count and
  * any other corpus-derived stamp. Spark skips `_` files; the oracle's
  * parquet glob does not match it.
  *   - Memory hit: re-read `_key` (one small driver-side read, no Spark
  *     job) and serve only if it still matches; a same-count corpus in
  *     this or another JVM may have republished the dir since.
  *   - Miss or mismatch: load the dir if its `_key` matches, else learn
  *     and publish through [[graft.Pipeline.staged]]: build the dir in a
  *     hidden sibling of the count dir, write `_key` last, swap it in.
  *     No reader sees a partial dir, and a failed learn leaves the live
  *     one as it was.
  *   - The value is always read back from the published dir, so
  *     load ≡ learn by construction. Table artifacts serve the dir path
  *     and their callers re-read it on each call.
  *
  * [[getOrLearn]] is the in-memory half alone, for unpersisted ones.
  */
private[graft] object ArtifactCache {

  val FixtureRoot = "/tmp/graft_fixtures/v3"

  private case class Published(dir: Path, sidecar: String, value: AnyRef)

  private val cache = TrieMap.empty[String, AnyRef]

  private val learns = new java.util.concurrent.atomic.AtomicInteger(0)

  // the bench reports these apart from serving cost
  private val learnWall = TrieMap.empty[String, Double]
  private val loadWall = TrieMap.empty[String, Double]

  private def timed[A](wall: TrieMap[String, Double], key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val v = body
    wall(key) = (System.nanoTime() - t0) / 1e9
    v
  }

  /** The in-memory artifact for `key`, learned once per JVM (a racing
    * duplicate learn is harmless: learning is deterministic). */
  def getOrLearn[A <: AnyRef](key: String)(learn: => A): A =
    cache.getOrElseUpdate(key, {
      learns.incrementAndGet()
      timed(learnWall, key)(learn)
    }).asInstanceOf[A]

  /** The persisted protocol over `fixtureDir` = `$FixtureRoot/<name>`.
    * `count` (subdir name and `countCol` value) and `stamp` (extra
    * provenance) only run on a memory miss. `learn` returns the rows;
    * `read` turns the published dir path into the served value.
    */
  def fixture[A <: AnyRef](spark: SparkSession, fixtureDir: String, key: String,
      countCol: String, count: => Long, stamp: Long => String = _ => "")
      (read: String => A)(learn: => DataFrame): A = {
    val fs = new Path(FixtureRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cache.get(key) match {
      case Some(p: Published) if readKey(fs, p.dir).contains(p.sidecar) =>
        p.value.asInstanceOf[A]
      case _ =>
        val n = count
        val dir = new Path(s"$fixtureDir/$n")
        val sidecar = s"$key\n$countCol=$n\n${stamp(n)}"
        val loaded = readKey(fs, dir).contains(sidecar)
        if (!loaded) learns.incrementAndGet()
        val value = timed(if (loaded) loadWall else learnWall, key) {
          if (!loaded) graft.Pipeline.staged(fs, dir) { tmp =>
            learn.withColumn(countCol, lit(n)).write.parquet(tmp.toString)
            val out = fs.create(new Path(tmp, "_key"), false)
            try out.write(sidecar.getBytes(UTF_8)) finally out.close()
          }
          read(dir.toString)
        }
        cache(key) = Published(dir, sidecar, value)
        value
    }
  }

  private def readKey(fs: FileSystem, dir: Path): Option[String] =
    try {
      val in = fs.open(new Path(dir, "_key"))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Learn bodies run in this JVM (a fixture-served call must not move
    * it), and wall seconds per artifact learned / loaded.
    */
  private[graft] def learnCount: Int = learns.get()
  private[graft] def learnTimes: Map[String, Double] = learnWall.toMap
  private[graft] def loadTimes: Map[String, Double] = loadWall.toMap

  /** Drop one key; the next access re-loads or re-learns. */
  private[graft] def invalidate(key: String): Unit = cache.remove(key)

  /** Test hook. */
  private[graft] def clear(): Unit = cache.clear()
}
