package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** A local-disk Hadoop FileSystem under the `faulty://` scheme that
  * refuses to create any file whose path contains [[FaultyFs.failOn]]
  * (none while it is null). `faulty:///tmp/x` reads and writes `/tmp/x`.
  */
class FaultyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override protected def createOutputStreamWithMode(f: org.apache.hadoop.fs.Path,
      append: Boolean, permission: org.apache.hadoop.fs.permission.FsPermission
  ): java.io.OutputStream = {
    val marker = FaultyFs.failOn
    if (marker != null && f.toString.contains(marker))
      throw new java.io.IOException(s"injected fault: $f")
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object FaultyFs {
  @volatile var failOn: String = null
}

/** Incremental region rebuild ≡ full rebuild — the r14 verdict's item 4:
  * q135's diff primitive wired to the composed pipeline must produce a
  * tile tree BYTE-IDENTICAL to rebuilding everything, while touching
  * only the changed GEOIDs' neighbourhood. The fixture is a 300-cell
  * shared-border grid (block-groups knobs: coalesce + shared borders —
  * the adversarial path, since border arcs depend on neighbours) with
  * one changed, one removed, and one added GEOID between snapshots.
  */
class IncrementalSpec extends AnyFunSuite with SharedSpark with PlanCapture {

  private val Cols = 20
  private val Rows = 15
  private val NCells = Cols * Rows // 300
  private val Years = (2000 to 2018).map(_.toString)
  private val metricLongNames = Seq("population", "judgement_rate",
    "filing_rate", "threatened_rate", "median_gross_rent")

  private def geoid(cell: Int): String = f"$cell%012d"

  /** Deterministic metric value; `bump` shifts a cell's values to make
    * it "changed".
    */
  private def value(cell: Int, year: Int, m: Int, bump: Int): String =
    (((cell * 31 + year * 7 + m * 13 + bump) % 97) + 1).toString

  /** Write a long CSV for the given cells. */
  private def writeLong(cells: Seq[Int], bumped: Set[Int]): String = {
    val dir = Files.createTempDirectory("incr-long").toString
    val sb = new StringBuilder("id,year,name,parent_location," +
      metricLongNames.mkString(",") + "\n")
    for (c <- cells; y <- Years) {
      sb.append(geoid(c)).append(',').append(y).append(",Cell ").append(c)
        .append(",Gridland")
      val bump = if (bumped(c)) 1 else 0
      for (m <- metricLongNames.indices)
        sb.append(',').append(value(c, y.toInt, m, bump))
      sb.append('\n')
    }
    val p = Paths.get(dir, "data.csv")
    Files.write(p, sb.toString.getBytes("UTF-8"))
    p.toString
  }

  /** 20×15 exact grid over a small bbox — neighbours share edges, so
    * the shared-border arc machinery runs for real.
    */
  private lazy val featuresJsonl: String = {
    val dir = Files.createTempDirectory("incr-geo").toString
    val (lon0, lat0, cw, ch) = (-100.0, 30.0, 0.1, 0.1)
    val sb = new StringBuilder
    for (c <- 0 until NCells) {
      val (gx, gy) = (c % Cols, c / Cols)
      val (x0, y0) = (lon0 + gx * cw, lat0 + gy * ch)
      val (x1, y1) = (x0 + cw, y0 + ch)
      sb.append(s"""{"type":"Feature","properties":{"GEOID":"${geoid(c)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],""" +
        s"""[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}}""").append('\n')
    }
    val p = Paths.get(dir, "features.jsonl")
    Files.write(p, sb.toString.getBytes("UTF-8"))
    p.toString
  }

  private lazy val features = {
    val f = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, featuresJsonl)).persist()
    f.count()
    f
  }

  /** The delta's fingerprint publish: `fps` swapped in as
    * `regionDir/fingerprints.parquet` through [[Pipeline.staged]].
    */
  private def publishFps(fps: org.apache.spark.sql.DataFrame,
                         regionDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(regionDir, "fingerprints.parquet")
    Pipeline.staged(live.getFileSystem(spark.sessionState.newHadoopConf()), live)(p =>
      fps.write.parquet(p.toString))
  }

  /** md5 of every file under `dir` whose name ends with `suffix`, keyed
    * by its relative path.
    */
  private def md5tree(dir: String, suffix: String = ".pbf"): Map[String, String] = {
    val base = Paths.get(dir)
    if (!Files.exists(base)) return Map.empty
    val out = scala.collection.mutable.Map.empty[String, String]
    Files.walk(base).filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(suffix)).forEach { p =>
      val d = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      out(base.relativize(p).toString) = d.map("%02x".format(_)).mkString
    }
    out.toMap
  }

  test("incremental rebuild is byte-identical to the full rebuild (1% mutation)") {
    // old snapshot: cells 0..298 (299 is born later); new snapshot:
    // cell 5 changed, cell 7 removed, cell 299 added
    val oldCsv = writeLong((0 until NCells - 1), bumped = Set.empty)
    val newCsv = writeLong((0 until NCells).filterNot(_ == 7), bumped = Set(5))

    val dirOld = Files.createTempDirectory("incr-prev").toString
    val dirFull = Files.createTempDirectory("incr-full").toString
    val dirIncr = Files.createTempDirectory("incr-out").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(features), outDir = Some(dirOld))
    Pipeline.runRegion(spark, newCsv, "raw", metricLongNames, "block-groups",
      features = Some(features), outDir = Some(dirFull))
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", features, prevDir = dirOld,
      outDir = dirIncr)

    assert(!stats.fullRebuild, s"3/300 GEOIDs must take the incremental path: $stats")
    assert(stats.changed == 1 && stats.added == 1 && stats.removed == 1, stats.toString)
    assert(stats.affectedTiles > 0 && stats.contributors >= 3, stats.toString)

    for (decade <- Seq("00", "10")) {
      val full = md5tree(s"$dirFull/block-groups/$decade")
      val incr = md5tree(s"$dirIncr/block-groups/$decade")
      assert(full.nonEmpty, s"full rebuild wrote no tiles for decade $decade")
      assert(incr.keySet == full.keySet,
        s"decade $decade tile SETS differ: only-full=" +
          s"${(full.keySet -- incr.keySet).take(5)} only-incr=" +
          s"${(incr.keySet -- full.keySet).take(5)}")
      val mismatched = full.keys.filter(k => full(k) != incr(k)).toSeq
      assert(mismatched.isEmpty,
        s"decade $decade: ${mismatched.size} tiles differ, e.g. " +
          s"${mismatched.take(5)}")
      // the carry-over must be real: strictly fewer tiles rebuilt than exist
      assert(stats.affectedTiles < full.size * 2L, // both decades share the tile set
        s"affected=${stats.affectedTiles} of ${full.size} tiles/decade")
      // metadata carried from the previous run
      assert(Files.exists(Paths.get(dirIncr, "block-groups", decade, "metadata.json")))
    }

    // IN-PLACE mode (outDir == prevDir, the live-deployment shape):
    // clone the previous tree, update it in place, same byte parity —
    // including DELETION of tiles the delta emptied
    val dirLive = Files.createTempDirectory("incr-live").toString
    Files.walk(Paths.get(dirOld)).forEach { p =>
      val t = Paths.get(dirLive).resolve(Paths.get(dirOld).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    val metaBefore = new String(Files.readAllBytes(
      Paths.get(dirLive, "block-groups", "00", "metadata.json")), "UTF-8")
    val statsLive = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", features, prevDir = dirLive,
      outDir = dirLive)
    assert(!statsLive.fullRebuild)
    // the live tree's metadata (bounds/zooms/layers) must survive the
    // in-place update untouched — an empty-map rewrite once clobbered it
    val metaAfter = new String(Files.readAllBytes(
      Paths.get(dirLive, "block-groups", "00", "metadata.json")), "UTF-8")
    assert(metaAfter == metaBefore, s"metadata clobbered:\n$metaAfter")
    assert(metaAfter.contains("bounds"), metaAfter)
    // the next delta can start from the stored fingerprint artifact
    assert(Files.exists(Paths.get(dirLive, "block-groups",
      "fingerprints.parquet")))
    for (decade <- Seq("00", "10")) {
      val full = md5tree(s"$dirFull/block-groups/$decade")
      val live = md5tree(s"$dirLive/block-groups/$decade")
      assert(live.keySet == full.keySet,
        s"in-place decade $decade tile SETS differ: only-full=" +
          s"${(full.keySet -- live.keySet).take(5)} only-live=" +
          s"${(live.keySet -- full.keySet).take(5)}")
      val mm = full.keys.filter(k => full(k) != live(k)).toSeq
      assert(mm.isEmpty, s"in-place decade $decade: ${mm.size} differ ${mm.take(5)}")
    }

    // CHAINED delta: the second in-place update diffs against the
    // STORED fingerprint artifact (the first one hashed the old CSV —
    // this is the only path that exercises stored-fp parity), and its
    // result must equal a full rebuild of the third state
    val thirdCsv = writeLong((0 until NCells).filterNot(_ == 7),
      bumped = Set(5, 9))
    val statsChain = Incremental.incrementalRegion(spark, newCsv, thirdCsv,
      "raw", metricLongNames, "block-groups", features, prevDir = dirLive,
      outDir = dirLive)
    assert(!statsChain.fullRebuild && statsChain.changed == 1,
      s"only cell 9 changes between states 2 and 3: $statsChain")
    val dirFull3 = Files.createTempDirectory("incr-full3").toString
    Pipeline.runRegion(spark, thirdCsv, "raw", metricLongNames,
      "block-groups", features = Some(features), outDir = Some(dirFull3))
    for (decade <- Seq("00", "10")) {
      val full3 = md5tree(s"$dirFull3/block-groups/$decade")
      val live3 = md5tree(s"$dirLive/block-groups/$decade")
      assert(live3.keySet == full3.keySet, s"chained decade $decade set diff")
      val mm3 = full3.keys.filter(k => full3(k) != live3(k)).toSeq
      assert(mm3.isEmpty, s"chained decade $decade: ${mm3.size} differ ${mm3.take(5)}")
    }
  }

  test("no cross-region state leak: counties after states ≡ counties solo, full and in-place") {
    // one session runs regions serially (`build.sh:69`): any cache or
    // artifact state leaking from one region into the next must show
    // as a counties tree that differs from a solo counties build, on
    // the full path and on the in-place incremental path
    val oldCsv = writeLong(0 until NCells, bumped = Set.empty)
    val newCsv = writeLong(0 until NCells, bumped = Set(5, 150))
    // states: different data and a different feature set
    val statesFeats = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(120))
    val statesOld = writeLong(0 until 120, bumped = Set(3))
    val statesNew = writeLong(0 until 120, bumped = Set(3, 40))

    val solo = Files.createTempDirectory("leak-solo").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "counties",
      features = Some(features), outDir = Some(solo))
    val soloFull = md5tree(s"$solo/counties")
    val soloIncrDir = Files.createTempDirectory("leak-isolo").toString
    val soloStats = Incremental.incrementalRegion(spark, oldCsv, newCsv,
      "raw", metricLongNames, "counties", features, prevDir = solo,
      outDir = soloIncrDir)
    assert(!soloStats.fullRebuild, soloStats.toString)
    val soloIncr = md5tree(s"$soloIncrDir/counties")
    assert(soloFull.nonEmpty && soloIncr != soloFull,
      "the delta must rewrite some counties tiles")

    val serial = Files.createTempDirectory("leak-serial").toString
    Pipeline.runRegion(spark, statesOld, "raw", metricLongNames, "states",
      features = Some(statesFeats), outDir = Some(serial))
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "counties",
      features = Some(features), outDir = Some(serial))
    assert(md5tree(s"$serial/counties") == soloFull,
      "full path: counties built after states differs from the solo build")

    for ((region, f, o, n) <- Seq(
        ("states", statesFeats, statesOld, statesNew),
        ("counties", features, oldCsv, newCsv))) {
      val st = Incremental.incrementalRegion(spark, o, n, "raw",
        metricLongNames, region, f, prevDir = serial, outDir = serial)
      assert(!st.fullRebuild, s"$region: $st")
    }
    assert(md5tree(s"$serial/counties") == soloIncr,
      "in-place path: counties updated after states differs from the solo update")
  }

  test("mass change routes to the full-rebuild fallback") {
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = (0 until 20).toSet) // 50% changed
    val dirOld = Files.createTempDirectory("incr-prev2").toString
    val dirOut = Files.createTempDirectory("incr-out2").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(features.filter(org.apache.spark.sql.functions.col("GEOID") <
        geoid(40))), outDir = Some(dirOld))
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups",
      features.filter(org.apache.spark.sql.functions.col("GEOID") < geoid(40)),
      prevDir = dirOld, outDir = dirOut)
    assert(stats.fullRebuild && stats.changed == 20, stats.toString)
    // the fallback still produced a complete tree
    assert(md5tree(s"$dirOut/block-groups/00").nonEmpty)
  }

  test("a tree deeper than the configured fan routes to the full rebuild") {
    // an extend-zooms-deepened previous tree holds tiles the fan never
    // covers: incremental updates would strand them stale. The guard
    // reads the tree's own deepest z directory (block-groups fan max
    // is z10; plant a z13 leaf) and must take the fallback — which
    // wipes the region subtree, so the stale deep tile also vanishes.
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = Set(3)) // tiny delta
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val dirOld = Files.createTempDirectory("incr-deep").toString
    val dirOut = Files.createTempDirectory("incr-deep-out").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(dirOld))
    val deep = Paths.get(dirOld, "block-groups", "00", "13", "4096")
    Files.createDirectories(deep)
    Files.write(deep.resolve("2048.pbf"), Array[Byte](1, 2, 3))
    assert(Incremental.treeMaxZoom(
      new org.apache.hadoop.fs.Path(s"$dirOld/block-groups")
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$dirOld/block-groups")) == 13)

    // copy mode: the fallback must fire despite the 1/40 delta
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", feats40, prevDir = dirOld,
      outDir = dirOut)
    assert(stats.fullRebuild, s"deep tree must force the fallback: $stats")
    assert(md5tree(s"$dirOut/block-groups/00").nonEmpty)
    assert(!Files.exists(Paths.get(dirOut, "block-groups", "00", "13")),
      "the fallback tree must not inherit the stale deep tiles")

    // in-place mode: same guard, and the wipe removes the stale leaf
    val statsLive = Incremental.incrementalRegion(spark, oldCsv, newCsv,
      "raw", metricLongNames, "block-groups", feats40, prevDir = dirOld,
      outDir = dirOld)
    assert(statsLive.fullRebuild)
    assert(!Files.exists(deep), "in-place fallback must wipe the deep leaf")
  }

  test("featureTileFan covers every tile runRegion writes") {
    // the fan decides which tiles a delta rebuilds: a written tile the
    // fan misses would never be rebuilt or deleted
    val csv = writeLong(0 until NCells, bumped = Set.empty)
    for (region <- Seq("block-groups", "counties")) {
      val dir = Files.createTempDirectory(s"fan-$region").toString
      Pipeline.runRegion(spark, csv, "raw", metricLongNames, region,
        features = Some(features), outDir = Some(dir))
      val written = md5tree(s"$dir/$region").keySet.map { rel =>
        val parts = rel.stripSuffix(".pbf").split('/') // decade/z/x/y
        (parts(1).toInt, parts(2).toLong, parts(3).toLong)
      }
      assert(written.nonEmpty, s"$region: runRegion wrote no tiles")
      val fan = Incremental.featureTileFan(features, region)
        .select("z", "x", "y").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val missed = written -- fan
      assert(missed.isEmpty,
        s"$region: ${missed.size} written tiles outside the fan, e.g. ${missed.take(5)}")
    }
  }

  test("a failed full-rebuild fallback leaves the live tree untouched") {
    // mass change routes to the fallback; the rebuild then fails while
    // evaluating the features. The live tree must survive byte for byte
    // and no staging dir may be left behind.
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = (0 until 20).toSet) // 50% changed
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val live = Files.createTempDirectory("incr-crash").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(live))
    val before = md5tree(s"$live/block-groups")
    assert(before.nonEmpty)
    val fault = org.apache.spark.sql.functions.udf { (lon: Double) =>
      if (lon < 1000.0) throw new IllegalStateException("injected fault") else lon
    }
    val broken = feats40.withColumn("lon",
      fault(org.apache.spark.sql.functions.col("lon")))
    intercept[Exception] {
      Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
        metricLongNames, "block-groups", broken, prevDir = live, outDir = live)
    }
    assert(md5tree(s"$live/block-groups") == before,
      "the failed fallback must leave the live tree as it was")
    val leftovers = new java.io.File(live).list().filterNot(_ == "block-groups")
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.mkString(", ")}")
  }

  /** Persisted frames that are not checkpoints: what a call leaves in
    * the session's cache (a checkpoint is released once unreferenced).
    */
  private def cachedRdds: Int =
    spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)

  test("a fallback that fails at the fingerprint publish recovers on the re-run") {
    // the fallback's runRegion swaps the new tree in before its
    // fingerprints follow: a crash between the two leaves a tree without
    // fingerprints, and the re-run must diff by hashing the old CSV (the
    // cold path) and still end at the full rebuild
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = (0 until 20).toSet) // 50% changed
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val live = Files.createTempDirectory("incr-fp-crash").toString
    val full = Files.createTempDirectory("incr-fp-crash-full").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(live))
    Pipeline.runRegion(spark, newCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(full))
    def delta(): Incremental.Stats = Incremental.incrementalRegion(spark, oldCsv,
      newCsv, "raw", metricLongNames, "block-groups", feats40,
      prevDir = s"faulty://$live", outDir = s"faulty://$live")
    FaultyFs.failOn = "/.fingerprints."
    try intercept[Exception](delta()) finally FaultyFs.failOn = null
    val stats = delta()
    assert(stats.fullRebuild && stats.changed == 20, stats.toString)
    for (suffix <- Seq(".pbf", "metadata.json")) {
      val want = md5tree(s"$full/block-groups", suffix)
      assert(want.nonEmpty && md5tree(s"$live/block-groups", suffix) == want,
        s"the re-run must leave the full rebuild's $suffix files")
    }
    assert(Files.isDirectory(Paths.get(live, "block-groups", "fingerprints.parquet")),
      "the re-run must publish the fingerprints")
    val leftovers = Seq(live, s"$live/block-groups")
      .flatMap(d => new java.io.File(d).list()).filter(_.startsWith("."))
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.mkString(", ")}")
  }

  test("a copy-mode delta that fails mid-update leaves outDir and the cache as they were") {
    // the fault hits the fingerprint publish, the last write of the
    // update: by then every rebuilt tile has been written. The region
    // must not appear half-updated, no staging dir may be left, and
    // the call's persisted frames must be released.
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = Set(3))
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val prev = Files.createTempDirectory("incr-fault-prev").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(prev))
    val out = Files.createTempDirectory("incr-fault-out").toString
    val cachedBefore = cachedRdds
    FaultyFs.failOn = "/.fingerprints."
    try {
      intercept[Exception] {
        Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
          metricLongNames, "block-groups", feats40, prevDir = prev,
          outDir = s"faulty://$out")
      }
    } finally FaultyFs.failOn = null
    val left = new java.io.File(out).list()
    assert(left.isEmpty, s"outDir must be as it was (empty), found ${left.mkString(", ")}")
    assert(cachedRdds <= cachedBefore,
      s"the failed delta left ${cachedRdds - cachedBefore} persisted frames behind")
  }

  test("a copy-mode delta leaves the previous tree untouched") {
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = Set(3))
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val prev = Files.createTempDirectory("incr-keep-prev").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(prev))
    publishFps(Incremental.fingerprints(graft.sources.Sources.readCsv(
      spark, oldCsv, graft.sources.Sources.longSchema(metricLongNames))),
      s"$prev/block-groups")
    val before = md5tree(s"$prev/block-groups", suffix = "")
    assert(before.keys.exists(_.endsWith(".pbf")) &&
      before.keys.exists(_.endsWith("metadata.json")) &&
      before.keys.exists(_.startsWith("fingerprints.parquet/part-")), before.keys.toString)
    val out = Files.createTempDirectory("incr-keep-out").toString
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", feats40, prevDir = prev, outDir = out)
    assert(!stats.fullRebuild && stats.changed == 1, stats.toString)
    assert(md5tree(s"$out/block-groups") != md5tree(s"$prev/block-groups"),
      "the delta must rewrite some tiles of the copy")
    assert(md5tree(s"$prev/block-groups", suffix = "") == before,
      "a copy-mode delta must not write the previous tree")
  }

  test("a delta into a symlink of the previous tree equals the full rebuild") {
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = Set(3))
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val prev = Files.createTempDirectory("incr-alias-prev").toString
    val full = Files.createTempDirectory("incr-alias-full").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(prev))
    Pipeline.runRegion(spark, newCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(full))
    val alias = Files.createSymbolicLink(
      Files.createTempDirectory("incr-alias").resolve("tree"), Paths.get(prev))
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", feats40, prevDir = prev,
      outDir = alias.toString)
    assert(!stats.fullRebuild && stats.changed == 1, stats.toString)
    for (decade <- Seq("00", "10")) {
      val want = md5tree(s"$full/block-groups/$decade")
      val got = md5tree(s"$prev/block-groups/$decade")
      assert(want.nonEmpty && got.keySet == want.keySet,
        s"decade $decade tile SETS differ: only-full=${(want.keySet -- got.keySet).take(5)}" +
          s" only-alias=${(got.keySet -- want.keySet).take(5)}")
      val mm = want.keys.filter(k => want(k) != got(k)).toSeq
      assert(mm.isEmpty, s"decade $decade: ${mm.size} tiles differ ${mm.take(5)}")
    }
    val leftovers = new java.io.File(prev).list().filterNot(_ == "block-groups")
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.mkString(", ")}")
  }

  test("an in-place delta reads each input once") {
    // the 1% mutation fixture, with features the delta must derive
    // itself: unpersisted, from their own copy of the file (the suite's
    // persisted frame would otherwise serve the same plan from cache)
    val oldCsv = writeLong((0 until NCells - 1), bumped = Set.empty)
    val newCsv = writeLong((0 until NCells).filterNot(_ == 7), bumped = Set(5))
    val live = Files.createTempDirectory("incr-once").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(features), outDir = Some(live))
    val geo = Files.copy(Paths.get(featuresJsonl),
      Files.createTempDirectory("incr-once-geo").resolve("features.jsonl")).toString
    val unpersisted = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, geo))
    var stats: Incremental.Stats = null
    val plans = capturePlans {
      stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
        metricLongNames, "block-groups", unpersisted, prevDir = live,
        outDir = live)
    }
    val csvScans = fileScans(plans, newCsv).size
    assert(csvScans <= 1, s"the new snapshot must be scanned once, saw $csvScans")
    val geoScans = fileScans(plans, geo).size
    assert(geoScans <= 1, s"the features must be derived once, saw $geoScans")
    // the same sets as the unfused bookkeeping computed on this fixture
    assert(stats == Incremental.Stats(changed = 1, added = 1, removed = 1,
      affectedTiles = 9, contributors = 199, fullRebuild = false),
      stats.toString)
  }

  test("job count: a warm in-place delta rebuilds both decades in one sink pass") {
    val oldCsv = writeLong((0 until NCells - 1), bumped = Set.empty)
    val newCsv = writeLong((0 until NCells).filterNot(_ == 7), bumped = Set(5))
    def tree(): String = {
      val live = Files.createTempDirectory("incr-jobs").toString
      Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
        features = Some(features), outDir = Some(live))
      live
    }
    def delta(live: String): Unit = Incremental.incrementalRegion(spark, oldCsv,
      newCsv, "raw", metricLongNames, "block-groups", features, prevDir = live,
      outDir = live)
    delta(tree()) // warm
    val live = tree()
    val executions = captureJobs(delta(live))
    val writes = executions.filter(_._1.startsWith("foreachPartition at TileBuild.scala"))
    assert(writes.size == 1, s"one sink execution for both decades: $executions")
    val jobs = executions.map(_._2).sum
    assert(jobs == DeltaJobs, s"$jobs jobs per warm in-place delta: $executions")
  }

  /** Jobs of a warm in-place delta on the 1% mutation fixture (the
    * per-decade tile plans and their two sink passes took 58, and the
    * hash-aggregate contributor pivot's checkout one more).
    */
  private val DeltaJobs = 42

  test("runRegion and an in-place delta release their checkpoints") {
    // checkouts held past the call would pin the snapshot and the
    // features in memory or on disk between regions of a long session
    val oldCsv = writeLong(0 until 40, bumped = Set.empty)
    val newCsv = writeLong(0 until 40, bumped = Set(3))
    val feats40 = features.filter(
      org.apache.spark.sql.functions.col("GEOID") < geoid(40))
    val live = Files.createTempDirectory("incr-release").toString
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Pipeline.runRegion(spark, oldCsv, "raw", metricLongNames, "block-groups",
      features = Some(feats40), outDir = Some(live))
    assert((persisted -- before).isEmpty,
      s"runRegion left ${(persisted -- before).size} persisted RDDs")
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metricLongNames, "block-groups", feats40, prevDir = live, outDir = live)
    assert(!stats.fullRebuild && stats.changed == 1, stats.toString)
    assert((persisted -- before).isEmpty,
      s"the in-place delta left ${(persisted -- before).size} persisted RDDs")
  }

  test("a fingerprint publish whose frame throws mid-write leaves the previous artifact") {
    val csv = writeLong(0 until 40, bumped = Set.empty)
    val regionDir = Files.createTempDirectory("incr-fp").resolve("block-groups")
    val fps = Incremental.fingerprints(graft.sources.Sources.readCsv(spark, csv,
      graft.sources.Sources.longSchema(metricLongNames)))
    publishFps(fps, regionDir.toString)
    val before = md5tree(regionDir.toString, suffix = "")
    assert(before.keys.exists(_.startsWith("fingerprints.parquet/part-")), before.toString)
    val fault = org.apache.spark.sql.functions.udf { (g: String) =>
      if (g != null) throw new IllegalStateException("injected fault") else g
    }
    intercept[Exception] {
      publishFps(
        fps.withColumn("GEOID", fault(org.apache.spark.sql.functions.col("GEOID"))),
        regionDir.toString)
    }
    assert(md5tree(regionDir.toString, suffix = "") == before,
      "the failed publish must leave the previous fingerprints as they were")
    val leftovers = regionDir.toFile.list().filterNot(_ == "fingerprints.parquet")
    assert(leftovers.isEmpty, s"staging left behind: ${leftovers.mkString(", ")}")
  }

  test("diff plan: map-side partial fingerprints; one id-keyed shuffle per side") {
    val oldCsv = writeLong(0 until 20, bumped = Set.empty)
    val newCsv = writeLong(0 until 20, bumped = Set(3))
    val schema = graft.sources.Sources.longSchema(metricLongNames)
    val p = Incremental.diffFingerprints(
      Incremental.fingerprints(graft.sources.Sources.readCsv(spark, oldCsv, schema)),
      Incremental.fingerprints(graft.sources.Sources.readCsv(spark, newCsv, schema)))
      .queryExecution.executedPlan.toString
    assert("FileScan csv".r.findAllIn(p).size == 2,
      "each snapshot must scan exactly once")
    assert(p.contains("partial_sum"),
      "fingerprints must combine map-side — raw rows may not cross")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    // the only shuffles are the two per-side fingerprint aggregations,
    // keyed on the id: the rename to GEOID is alias-aware, so the join
    // reuses the aggregation partitioning with NO third exchange
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.size == 2, s"expected 2 id-keyed exchanges:\n${ex.mkString("\n")}")
    ex.foreach(l => assert(l.contains("(id#"), l))
  }

  test("diffFingerprints classifies added/removed/changed and drops unchanged") {
    val oldCsv = writeLong(0 until 10, bumped = Set.empty)
    val newCsv = writeLong((0 until 11).filterNot(_ == 3), bumped = Set(4))
    val schema = graft.sources.Sources.longSchema(metricLongNames)
    val d = Incremental.diffFingerprints(
      Incremental.fingerprints(graft.sources.Sources.readCsv(spark, oldCsv, schema)),
      Incremental.fingerprints(graft.sources.Sources.readCsv(spark, newCsv, schema)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d == Map(geoid(3) -> "removed", geoid(4) -> "changed",
      geoid(10) -> "added"), d.toString)
  }
}
