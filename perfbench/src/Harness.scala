package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Recorder
import org.apache.spark.storage.StorageLevel

import graft.{Incremental, Pipeline}
import graft.config.EtlConfig
import graft.operators.Tiling
import graft.sinks.{Mbtiles, TileBuild}
import graft.sources.Sources

/** JVM side of the benchmark. One process runs one workload:
  *
  *   1. set-up: bring a SparkSession up three times (the first from
  *      process start) and keep the third;
  *   2. one timed pass of the workload's composed call, cold: a nightly
  *      job pays JIT and code generation every time;
  *   3. with `trace`, one more untraced and one traced composed call
  *      (their difference is the tracing overhead), then a layer-by-layer
  *      replay with one span per public call.
  *
  * Results go to a JSON file the Python driver turns into metrics;
  * output checks run there, outside every timed part.
  *
  * Usage: Harness <key=value>... with keys mode (run | prepare),
  * workload, region, metrics (comma list of long names), csv, geo,
  * newCsv, base, ref, dest, work, trace, result.
  */
object Harness {

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", 100000)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", false)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- process-level gauges -------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Highest heap in use right after a collection, since the last reset. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach { gc =>
        gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
          (n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              synchronized { if (used > peak) peak = used }
            }
          }, null, null)
      }
  }

  // ---- small file helpers ---------------------------------------------

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
  }

  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = new File(from).toPath
    val dst = new File(to).toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def files(dir: String): Seq[File] = {
    val f = new File(dir)
    if (!f.exists) Nil
    else Files.walk(f.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
  }

  /** (bytes, pbf files) created or rewritten under `dir` since `sinceMs`. */
  def written(dir: String, sinceMs: Long): (Long, Long) = {
    val fresh = files(dir).filter(_.lastModified >= sinceMs)
    (fresh.map(_.length).sum, fresh.count(_.getName.endsWith(".pbf")).toLong)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** The flat string map a pbf tree's metadata.json holds. */
  def readMeta(path: String): Map[String, String] =
    mapper.readValue(new File(path), classOf[java.util.Map[String, String]]).asScala.toMap

  // ---- the workloads --------------------------------------------------

  final class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing $k"))
    def get(k: String): Option[String] = kv.get(k)
    val region: String = apply("region")
    val metrics: Seq[String] = apply("metrics").split(",").toSeq
    val work: String = apply("work")
  }

  private def mbtilesPackage(spark: SparkSession, tiles: String, region: String): Unit =
    for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
      val dir = s"$tiles/$region/$decade"
      Mbtiles.writeMbtiles(Incremental.readPbfTree(spark, dir),
        s"$dir.mbtiles", readMeta(s"$dir/metadata.json") + ("format" -> "pbf"))
    }

  /** One workload: what resets its output, and its composed call. */
  trait Workload {
    def out: String
    /** The argument naming the long CSV whose scans are counted. */
    def scanned: String
    def reset(): Unit
    def run(spark: SparkSession): Map[String, Any]
  }

  final class RegionFull(a: Args) extends Workload {
    val out: String = s"${a.work}/out"
    val scanned = "csv"
    def reset(): Unit = deleteTree(out)
    def run(spark: SparkSession): Map[String, Any] = {
      val features = Pipeline.geometryFeatures(Sources.readGeoJson(spark, a("geo")))
      Pipeline.runRegion(spark, a("csv"), "raw", a.metrics, a.region,
        features = Some(features), outDir = Some(s"$out/tiles"),
        wideOut = Some(s"$out/${a.region}.wide"),
        extentsOut = Some(s"$out/${a.region}.extents"))
      mbtilesPackage(spark, s"$out/tiles", a.region)
      Map.empty
    }
  }

  final class NightlyDelta(a: Args) extends Workload {
    val out: String = s"${a.work}/live"
    val scanned = "newCsv"
    def reset(): Unit = copyTree(a("base"), out)
    def run(spark: SparkSession): Map[String, Any] = {
      val features = Pipeline.geometryFeatures(Sources.readGeoJson(spark, a("geo")))
      val st = Incremental.incrementalRegion(spark, a("csv"), a("newCsv"), "raw",
        a.metrics, a.region, features, prevDir = out, outDir = out)
      Map("changed_geoids" -> (st.changed + st.added + st.removed),
        "contributors" -> st.contributors, "affected_tiles" -> st.affectedTiles,
        "full_rebuild" -> st.fullRebuild)
    }
  }

  // ---- tracing --------------------------------------------------------

  final class Tracer(spark: SparkSession, rec: Recorder) {
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span[A](name: String)(body: => A): A = {
      val sc = spark.sparkContext
      rec.drain(sc)
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body finally {
        val ms = (System.nanoTime() - t0) / 1e6
        sc.clearJobGroup()
        rec.drain(sc)
        spans += Map("kind" -> "span", "group" -> name, "wall_ms" -> ms)
      }
    }
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  private def maxTileBytes(dfs: Seq[DataFrame]): Long =
    dfs.map(_.agg(max(length(col("tile_bytes")))).head())
      .filterNot(_.isNullAt(0)).map(_.getInt(0).toLong).foldLeft(0L)(math.max)

  /** Region-full, one span per public call; every output is cached at
    * the span boundary so the next span measures only its own layer.
    */
  private def replayRegion(spark: SparkSession, t: Tracer, a: Args,
                           out: String): Map[String, Any] = {
    val region = a.region
    deleteTree(out)
    val long = t.span("sources")(materialize(
      Sources.readCsv(spark, a("csv"), Sources.longSchema(a.metrics))))
    val geo = t.span("sources")(materialize(Sources.readGeoJson(spark, a("geo"))))
    val wide = t.span("shape")(materialize(Pipeline.shape(long, "raw")))
    t.span("sources")(Sources.writeCsv(wide, s"$out/$region.wide"))
    val ext = t.span("extents")(materialize(Pipeline.extents(wide)))
    t.span("sources")(Sources.writeCsv(ext, s"$out/$region.extents", singleFile = true))
    val feats = t.span("geometry")(materialize(Pipeline.geometryFeatures(geo)))
    val bz = EtlConfig.bubbleZoom(region)
    val cz = EtlConfig.choroplethZoom(region)
    val knobs = EtlConfig.choroplethBuild(region)
    val bubbleMaxZ = if (bz.extend) Some(Tiling.extendMaxZoom(feats, "lon", "lat",
      bz.maxZoom, bz.maxZoom + 2, budget = 10000)) else None
    val choroMaxZ = if (cz.extend && !knobs.coalesce) Tiling.extendMaxZoom(feats,
      "lon", "lat", cz.maxZoom, cz.maxZoom + 2, budget = 10000) else cz.maxZoom
    val decades = EtlConfig.decades.keys.toSeq.sorted
    val bubbles = decades.map(d => t.span("tilebuild.bubble")(materialize(
      Pipeline.decadeTiles(wide, feats, "raw", d, "bubble", region,
        maxZoomOverride = bubbleMaxZ))))
    val polys = t.span("tilebuild.choropleth")(materialize(
      Pipeline.choroTileFeatures(feats, region, choroMaxZ)))
    val choros = decades.map(d => t.span("tilebuild.choropleth")(materialize(
      Pipeline.choroDecadeEncode(wide, polys, "raw", d, region))))
    for (((d, b), c) <- decades.zip(bubbles).zip(choros)) t.span("sink.pbf") {
      val merged = b.select(col("z"), col("x"), col("y"), col("tile_bytes").as("bb"))
        .join(c.select(col("z"), col("x"), col("y"), col("tile_bytes").as("cb")),
          Seq("z", "x", "y"), "full_outer")
        .select(col("z"), col("x"), col("y"),
          concat(coalesce(col("bb"), lit(Array.empty[Byte])),
            coalesce(col("cb"), lit(Array.empty[Byte]))).as("tile_bytes"))
      TileBuild.writePbfDirectory(merged, s"$out/tiles/$region/$d",
        Map("name" -> s"$region-$d", "type" -> "overlay"))
    }
    t.span("sink.mbtiles")(mbtilesPackage(spark, s"$out/tiles", region))
    val extras = Map[String, Any](
      "tilebuild.bubble.max_tile_bytes" -> maxTileBytes(bubbles),
      "tilebuild.choropleth.max_tile_bytes" -> maxTileBytes(choros),
      "sink.pbf.files" -> files(s"$out/tiles").count(_.getName.endsWith(".pbf")))
    (Seq(long, geo, wide, ext, feats, polys) ++ bubbles ++ choros).foreach(_.unpersist())
    extras
  }

  /** Nightly-delta, one span per public call of the incremental layer. */
  private def replayDelta(spark: SparkSession, t: Tracer, a: Args,
                          w: NightlyDelta): Map[String, Any] = {
    w.reset()
    val schema = Sources.longSchema(a.metrics)
    val newLong = t.span("sources")(materialize(Sources.readCsv(spark, a("newCsv"), schema)))
    val geo = t.span("sources")(materialize(Sources.readGeoJson(spark, a("geo"))))
    val feats = t.span("geometry")(materialize(Pipeline.geometryFeatures(geo)))
    val oldFp = spark.read.parquet(s"${w.out}/${a.region}/fingerprints.parquet")
    val newFp = t.span("incremental")(materialize(Incremental.fingerprints(newLong)))
    val diff = t.span("incremental")(materialize(Incremental.diffFingerprints(oldFp, newFp)))
    val fan = t.span("incremental")(materialize(Incremental.featureTileFan(feats, a.region)))
    val since = System.currentTimeMillis()
    Thread.sleep(20)
    val st = t.span("incremental")(Incremental.incrementalRegion(spark, a("csv"),
      a("newCsv"), "raw", a.metrics, a.region, feats, prevDir = w.out, outDir = w.out))
    val treeTiles = files(a("base")).count(_.getName.endsWith(".pbf"))
    val changed = st.changed + st.added + st.removed
    Seq(newLong, geo, feats, newFp, diff, fan).foreach(_.unpersist())
    Map("incremental.changed_geoids" -> changed,
      "incremental.contributors" -> st.contributors,
      "incremental.useful_ratio" ->
        (if (st.contributors > 0) changed.toDouble / st.contributors else 0.0),
      "incremental.affected_tiles" -> st.affectedTiles,
      "incremental.affected_ratio" ->
        (if (treeTiles > 0) st.affectedTiles.toDouble / treeTiles else 0.0),
      "sink.pbf.files" -> written(w.out, since)._2)
  }

  // ---- entry ----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val local = s"${a.work}/spark-local"
    new File(local).mkdirs()
    val result = mutable.LinkedHashMap.empty[String, Any]
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapAfterGc.install()

    // set-up: session start -> first job done, three times; keep the last
    val setups = (0 until 3).map { i =>
      val t0 = if (i == 0) procStart else System.currentTimeMillis()
      val s = session(local)
      s.range(1).selectExpr("sum(id)").collect()
      val ms = System.currentTimeMillis() - t0
      if (i < 2) s.stop()
      ms / 1000.0
    }
    result("setup_s") = setups
    val spark = session(local)

    a("mode") match {
      case "prepare" =>
        // the base tree plus its fingerprint artifact: what last night's
        // run left for tonight's delta
        val features = Pipeline.geometryFeatures(Sources.readGeoJson(spark, a("geo")))
        Pipeline.runRegion(spark, a("csv"), "raw", a.metrics, a.region,
          features = Some(features), outDir = Some(a("dest")))
        Incremental.fingerprints(Sources.readCsv(spark, a("csv"),
          Sources.longSchema(a.metrics)))
          .write.parquet(s"${a("dest")}/${a.region}/fingerprints.parquet")

      case "run" =>
        val w: Workload = a("workload") match {
          case "region-full" => new RegionFull(a)
          case "nightly-delta" => new NightlyDelta(a)
        }
        def timed(): Map[String, Any] = {
          w.reset()
          System.gc()
          Thread.sleep(20)
          HeapAfterGc.reset()
          val since = System.currentTimeMillis()
          val (c0, t0) = (cpuSeconds(), System.nanoTime())
          val info = w.run(spark)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = cpuSeconds() - c0
          val (bytes, pbf) = written(w.out, since)
          info ++ Map("wall_s" -> wall, "cpu_s" -> cpu,
            "peak_heap_mb" -> HeapAfterGc.peakMb, "output_bytes" -> bytes,
            "tiles_written" -> pbf)
        }
        // the measured pass: the composed call, cold, as a nightly job runs it
        result("pass") = timed()
        if (a("trace") == "1") {
          // the traced root pass sits between two untraced ones, so JIT
          // warming does not count as tracing overhead
          val before = timed()
          val sc = spark.sparkContext
          val rec = new Recorder(new File(a(w.scanned)).getName)
          val tracer = new Tracer(spark, rec)
          sc.addSparkListener(rec)
          val root = tracer.span("root")(timed())
          sc.removeSparkListener(rec)
          val after = timed()
          sc.addSparkListener(rec)
          val extras = w match {
            case _: RegionFull => replayRegion(spark, tracer, a, s"${a.work}/replay")
            case d: NightlyDelta => replayDelta(spark, tracer, a, d)
          }
          rec.drain(sc)
          result("untraced") = Seq(before, after)
          result("root") = root
          result("extras") = extras
          result("events") = tracer.spans.toSeq ++ rec.drained()
        }
        // the parity reference for an in-place delta: a full rebuild of
        // the new snapshot, made once per seed and kept
        for (ref <- a.get("ref") if !new File(s"$ref/${a.region}").exists) {
          val features = Pipeline.geometryFeatures(Sources.readGeoJson(spark, a("geo")))
          Pipeline.runRegion(spark, a("newCsv"), "raw", a.metrics, a.region,
            features = Some(features), outDir = Some(s"$ref.tmp"))
          new File(s"$ref.tmp").renameTo(new File(ref))
        }
    }
    spark.stop()
    mapper.writeValue(new File(a("result")), result.toMap)
  }
}
