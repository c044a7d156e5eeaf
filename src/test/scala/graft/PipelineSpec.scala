package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-shaped end-to-end fixture test (FIXTURES.md §A, SURVEY.md §5
  * item 4): a tiny long CSV with every edge case runs through
  * shape → extents → decade tiles, outputs checked against hand-computed
  * goldens replicating shape-data.js / extract-extents.js semantics.
  */
class PipelineSpec extends AnyFunSuite with SharedSpark with PlanCapture {

  /** A1-style fixture: dup (id,year) rows, missing parent_location,
    * empty metric cells, an unmapped column, non-numeric junk, leading
    * zeros.
    */
  private lazy val fixtureCsv: String = {
    val dir = Files.createTempDirectory("fixture").toString
    val csv =
      """id,year,name,parent_location,population,judgements,judgement_rate,low_flag,junk_col
        |01001,2000,Autauga,Alabama,43671,23,1.2,0,IGNORED
        |01001,2000,Autauga,Alabama,43671,24,1.3,0,IGNORED
        |01001,2001,Autauga,Alabama,44021,25,1.4,0,x
        |02013,2000,Aleutians,,2697,,not-a-number,1,y
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(dir, "data.csv"), csv.getBytes("UTF-8"))
    s"$dir/data.csv"
  }

  private val metricLongNames = Seq("population", "judgements",
    "judgement_rate", "low_flag", "junk_col")

  test("shape: A2 semantics — rename, last-wins, pl default, sort, zeros") {
    val wide = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    val rows = wide.collect()
    // sorted by GEOID ascending, leading zeros intact
    assert(rows.map(_.getAs[String]("GEOID")).toSeq == Seq("01001", "02013"))
    val r1 = rows(0); val r2 = rows(1)
    // duplicate (01001, 2000): last row wins -> judgements 24, rate 1.3
    assert(r1.getAs[String]("e-00") == "24")
    assert(r1.getAs[String]("er-00") == "1.3")
    // non-duplicated year cell
    assert(r1.getAs[String]("e-01") == "25")
    // missing parent_location defaults
    assert(r2.getAs[String]("pl") == "United States")
    assert(r1.getAs[String]("pl") == "Alabama")
    // empty metric cell is null, junk passes through as string cell
    assert(r2.isNullAt(r2.fieldIndex("e-00")))
    assert(r2.getAs[String]("er-00") == "not-a-number")
    // unmapped column dropped entirely
    assert(!wide.columns.exists(_.contains("junk")))
    // year columns beyond the data exist but are null (declared schema)
    assert(wide.columns.contains("e-18"))
    assert(r1.isNullAt(r1.fieldIndex("e-18")))
  }

  test("extents: A3 semantics — numeric coercion, junk/empty dropped") {
    val ext = Pipeline.extents(Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties"))
    val byId = ext.collect().map(r => r.getAs[String]("id") -> r).toMap
    // er-00: values ("1.3" [last-wins], "not-a-number") -> only 1.3 numeric
    val er = byId("er-00")
    assert(er.getAs[Double]("vmin") == 1.3 && er.getAs[Double]("vmax") == 1.3)
    // e-00: 24 (last-wins) and null -> single value 24
    assert(byId("e-00").getAs[Double]("vmin") == 24.0)
    // p-00 spans both geoids
    assert(byId("p-00").getAs[Double]("vmin") == 2697.0)
    assert(byId("p-00").getAs[Double]("vmax") == 43671.0)
    // id columns never appear
    assert(!byId.keySet.exists(k => k == "GEOID" || k == "n" || k == "pl"))
  }

  /** Source-geometry fixture (`build.sh:111`): a FeatureCollection with
    * a concave (L-shaped) polygon for 01001 and a MultiPolygon for
    * 02013 — the real entry point of the reference's geometry pipeline.
    */
  private lazy val fixtureGeoJson: String = {
    val dir = Files.createTempDirectory("geo").toString
    val gj =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"GEOID":"01001"},"geometry":
        | {"type":"Polygon","coordinates":[[[-86.8,32.3],[-86.4,32.3],
        |  [-86.4,32.45],[-86.7,32.45],[-86.7,32.7],[-86.8,32.7],[-86.8,32.3]]]}},
        |{"type":"Feature","properties":{"GEOID":"02013"},"geometry":
        | {"type":"MultiPolygon","coordinates":[
        |  [[[-151.6,54.4],[-151.4,54.4],[-151.4,54.6],[-151.6,54.6],[-151.6,54.4]]],
        |  [[[-151.9,54.4],[-151.8,54.4],[-151.8,54.5],[-151.9,54.5],[-151.9,54.4]]]]}}
        |]}""".stripMargin
    val p = java.nio.file.Paths.get(dir, "source.geojson")
    Files.write(p, gj.getBytes("UTF-8"))
    p.toString
  }

  test("geometryFeatures: interior points land inside their polygons") {
    val geo = graft.sources.Sources.readGeoJson(spark, fixtureGeoJson)
    val feats = Pipeline.geometryFeatures(geo).collect()
      .map(r => r.getAs[String]("GEOID") -> r).toMap
    assert(feats.keySet == Set("01001", "02013"))
    // 01001 is L-shaped (concave): the interior point must be INSIDE the
    // L, which its centroid is not guaranteed to be
    val r1 = feats("01001")
    val lRing = Seq((-86.8, 32.3), (-86.4, 32.3), (-86.4, 32.45),
      (-86.7, 32.45), (-86.7, 32.7), (-86.8, 32.7))
    assert(graft.operators.Tiling.signedDist(
      r1.getAs[Double]("lon"), r1.getAs[Double]("lat"), lRing) > 0)
    // 02013: largest part (the first, 0.2x0.2 square) anchors the point
    val r2 = feats("02013")
    assert(r2.getAs[Double]("lon") > -151.6 && r2.getAs[Double]("lon") < -151.4)
    assert(r2.getAs[Double]("lat") > 54.4 && r2.getAs[Double]("lat") < 54.6)
  }

  test("runRegion with GeoJSON features writes merged bubble+choropleth pbf trees") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    val out = Files.createTempDirectory("tiles").toString
    Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames,
      "counties", features = Some(features), outDir = Some(out))
    for (decade <- Seq("00", "10")) {
      val dir = new java.io.File(s"$out/counties/$decade")
      assert(dir.exists, s"missing $dir")
      assert(new java.io.File(dir, "metadata.json").exists)
      val pbfs = java.nio.file.Files.walk(dir.toPath)
        .filter(_.toString.endsWith(".pbf")).count()
      assert(pbfs > 0)
    }
    // merged tile bytes contain BOTH layer names (J3 protobuf-level merge)
    val z0 = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/counties/00"))
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(z0)
    val s0 = new String(bytes.map(b => (b & 0xff).toChar))
    assert(s0.contains("counties-00-bubble") && s0.contains("counties-00-choropleth"))
    // tile-join metadata fidelity: bounds = the fixture's geometry bbox,
    // center = its midpoint (lon,lat,maxzoom), type present
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/counties/00/metadata.json")), "UTF-8")
    assert(meta.contains(""""bounds": "-151.9,32.3,-86.4,54.6""""), meta)
    assert(meta.contains(""""center": "-119.15"""), meta)
    assert(meta.contains(""""type": "overlay""""), meta)
  }

  test("bubble-only runRegion: point features write a bubble tree with point bounds") {
    import spark.implicits._
    val features = Seq(("01001", -86.6, 32.5), ("02013", -151.5, 54.5))
      .toDF("GEOID", "lon", "lat")
    val out = Files.createTempDirectory("bubble-only").toString
    Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames,
      "counties", features = Some(features), outDir = Some(out))
    val dir = new java.io.File(s"$out/counties/00")
    assert(dir.exists)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/counties/00/metadata.json")), "UTF-8")
    // bounds from the bubble centers; no choropleth layer advertised
    assert(meta.contains(""""bounds": "-151.5,32.5,-86.6,54.5""""), meta)
    assert(meta.contains(""""layers": "counties-00-bubble""""), meta)
    val pbf = java.nio.file.Files.walk(dir.toPath)
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val s0 = new String(java.nio.file.Files.readAllBytes(pbf)
      .map(b => (b & 0xff).toChar))
    assert(s0.contains("counties-00-bubble") && !s0.contains("choropleth"))
  }

  test("extend-zooms: drop-strategy choropleth deepens; coalesce regions don't") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    // extendBudget 0: no tile can satisfy the budget, so every layer
    // entitled to extend runs to its hard cap — the wiring seam
    def run(region: String): (String, java.io.File) = {
      val out = Files.createTempDirectory("xt").toString
      Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames, region,
        features = Some(features), outDir = Some(out), extendBudget = 0)
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/$region/00/metadata.json")), "UTF-8")
      val mz = "\"maxzoom\": \"(\\d+)\"".r.findFirstMatchIn(meta).get.group(1)
      (mz, new java.io.File(s"$out/$region/00"))
    }
    // cities choropleth uses drop-densest (`build.sh:150`) -> extends 9->11
    val (cityMz, cityDir) = run("cities")
    assert(cityMz == "11", s"cities must extend to 11, got $cityMz")
    val z11 = new java.io.File(cityDir, "11")
    assert(z11.exists, "cities choropleth must build z11 tiles")
    val pbf = java.nio.file.Files.walk(z11.toPath)
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(pbf)
    assert(new String(bytes.map(b => (b & 0xff).toChar))
      .contains("cities-00-choropleth"),
      "z11 tiles must carry the deepened choropleth layer")
    // counties choropleth coalesces (never drops -> extension is moot)
    // and its bubble carries no extend flag: maxzoom stays 7
    val (countyMz, _) = run("counties")
    assert(countyMz == "7", s"counties must not extend, got $countyMz")
  }

  test("decade tiles: slice + if-matched join + polygon MVT build end-to-end") {
    val wide = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    // 01001/02013 match the wide table; an unmatched feature would be
    // dropped by the if-matched join (geometry fixture has no 99999)
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    val tiles = Pipeline.decadeTiles(wide, features, "raw", "00",
      "choropleth", "counties")
    val rows = tiles.collect()
    assert(rows.nonEmpty)
    // both polygons stay within one tile per zoom: counties choropleth
    // z1..7 — except z1, where the 0.4° fixture squares are ~9 px and
    // collapse under the counties simplification scale (10 px,
    // EtlConfig.choroplethBuild) — the tippecanoe-style fate of
    // sub-pixel polygons at low zoom
    assert(rows.map(_.getAs[Int]("z")).distinct.sorted.toSeq == (2 to 7).toSeq)
    assert(rows.forall(r => r.getAs[Int]("n_features") >= 1 &&
      r.getAs[Int]("n_features") <= 2))
    assert(rows.forall(_.getAs[Array[Byte]]("tile_bytes").length > 10))
    // polygon features encode as geomType 3 (field 3 varint = 3) —
    // check the wire bytes carry a polygon, not a point
    val bytes = rows.head.getAs[Array[Byte]]("tile_bytes")
    assert(bytes.sliding(2).exists(w => (w(0) & 0xff) == 0x18 && w(1) == 3))
  }

  test("readGeoJsonLines: the splittable S5 reader matches the FeatureCollection scan") {
    // same two features, one JSON object per line (the tippecanoe-json-tool
    // stream shape) — the 100 TB geometry path must parse identically
    val dir = Files.createTempDirectory("geolines").toString
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtureGeoJson)), "UTF-8").replaceAll("\n", "")
    // slice the fixture's two features out of the collection document
    val body = doc.substring(doc.indexOf("[") + 1, doc.lastIndexOf("]"))
    val lines = body.split("""(?<=\}\}),""").mkString("\n")
    val p = java.nio.file.Paths.get(dir, "features.jsonl")
    java.nio.file.Files.write(p, lines.getBytes("UTF-8"))
    val viaLines = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, p.toString))
      .orderBy("GEOID").collect()
    val viaDoc = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
      .orderBy("GEOID").collect()
    assert(viaLines.map(_.toSeq).toSeq == viaDoc.map(_.toSeq).toSeq)
  }

  test("shape pivot plan: one CSV scan; the GEOID range exchange is the only exchange") {
    val long = graft.sources.Sources.readCsv(spark, fixtureCsv,
      graft.sources.Sources.longSchema(metricLongNames))
    val p = Pipeline.shape(long, "raw").queryExecution.executedPlan.toString
    assert("FileScan csv".r.findAllIn(p).size == 1,
      "the long CSV must be read exactly once by the pivot plan")
    val ex = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(ex.size == 1 && ex.head.contains("rangepartitioning(GEOID"),
      s"the pivot fold's GEOID range exchange must be its only shuffle:\n${ex.mkString("\n")}")
    assert(!p.contains("max_by") && p.contains("MapPartitions"),
      s"the pivot must be a fold over the range partitions, not an aggregate:\n$p")
  }

  /** File scans of the long CSV (every fixture names it `data.csv`). */
  private def directCsvScans(plans: Seq[SparkPlan]): Seq[FileSourceScanExec] =
    fileScans(plans, "data.csv")

  /** Plans that read metric-year columns from the checked-out pivot
    * (`Scan ExistingRDD`).
    */
  private def wideCheckoutConsumers(plans: Seq[SparkPlan]): Int =
    plans.count(p => allNodes(p).exists {
      case s: RDDScanExec =>
        s.output.exists(_.name.matches("(er|p)-\\d\\d"))
      case _ => false
    })

  test("composed runRegion is scan-once: every stage reuses one checked-out pivot (SURVEY §3.1)") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson)).persist()
    features.count() // geometry parse outside the capture window
    val out = Files.createTempDirectory("composed").toString
    val all = capturePlans {
      Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames, "counties",
        features = Some(features), outDir = Some(out),
        wideOut = Some(s"$out/wide-csv"), extentsOut = Some(s"$out/ext-csv"))
    }
    features.unpersist()

    // wide CSV, extents CSV, decade-00 pbf, decade-10 pbf + checkouts
    assert(all.size >= 4, s"expected >=4 composed actions, saw ${all.size}")
    val directCsv = directCsvScans(all)
    assert(directCsv.size <= 1,
      s"the long CSV must feed ONE checkout, not per-stage re-scans; " +
        s"found ${directCsv.size} direct scans")
    // wide-table checkout consumers: the stage-b artifact write, extents,
    // and both decade tile builds all read metric-year columns from the
    // checked-out rows, never from the file
    val consumers = wideCheckoutConsumers(all)
    assert(consumers >= 3,
      s"stages must reuse the checked-out pivot, saw $consumers consumers")
    assert(!all.flatMap(allNodes).exists(_.nodeName.contains("CartesianProduct")),
      "no stage of the composed pipeline may plan a cartesian product")
  }

  /** Main reads every raw metric column, so its fixture carries the full
    * raw header, with scattered empty cells.
    */
  private lazy val mainFixtureCsv: String = {
    val metrics = graft.config.EtlConfig.columnMapRaw.map(_._1)
      .filterNot(Seq("id", "year", "name", "parent_location").contains)
    val header = ("id,year,name,parent_location" +: metrics).mkString(",")
    val rows = for (g <- Seq("01001", "02013"); y <- 2000 to 2011) yield
      (Seq(g, y.toString, s"Place $g", "Alabama") ++ metrics.indices.map(i =>
        if ((i + y) % 7 == 0) "" else ((g.toInt + y * 3 + i) % 97).toString))
        .mkString(",")
    val csv = java.nio.file.Paths.get(
      Files.createTempDirectory("main-fixture").toString, "data.csv")
    Files.write(csv, (header +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
    csv.toString
  }

  test("graft.Main -e -t is scan-once too: wide, extents and tiles share one pivot") {
    val out = Files.createTempDirectory("main-out").toString
    val args = Main.parseArgs(Seq("--data", mainFixtureCsv, "--out", out,
      "-e", "-t", "--geo", fixtureGeoJson))
    val all = capturePlans(Main.run(spark, args))

    val directCsv = directCsvScans(all)
    assert(directCsv.size <= 1,
      s"Main must scan the long CSV once per region, found ${directCsv.size} " +
        "direct scans")
    val geoScans = fileScans(all, fixtureGeoJson).size
    assert(geoScans <= 1,
      s"Main must derive its features from ONE GeoJSON scan per region, " +
        s"found $geoScans")
    assert(wideCheckoutConsumers(all) >= 3,
      "Main's wide/extents writes and tile builds must read the checked-out pivot")
    def parts(p: String) = Option(new java.io.File(p).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    assert(parts(s"$out/counties.wide").nonEmpty, "wide CSV missing")
    assert(parts(s"$out/counties.extents").size == 1,
      "extents CSV is one part file")
    assert(new java.io.File(s"$out/tiles/counties/00/metadata.json").exists)
  }

  /** Relative path → SHA-256 (hex) of every file under `dir`. */
  private def treeDigests(dir: String): Map[String, String] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> sha256(Files.readAllBytes(p))).toMap
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  test("graft.Main re-run over an existing --out leaves no stale tile behind") {
    def runMain(out: String): Unit = Main.run(spark, Main.parseArgs(Seq(
      "--data", mainFixtureCsv, "--out", out, "-t", "--geo", fixtureGeoJson)))
    val fresh = Files.createTempDirectory("main-fresh").toString
    runMain(fresh)
    // a tile counties never produces (its zooms stop at 7), planted as an
    // earlier run over other data would have left it
    val out = Files.createTempDirectory("main-rerun").toString
    val stale = Paths.get(s"$out/tiles/counties/00/9/0/0.pbf")
    Files.createDirectories(stale.getParent)
    Files.write(stale, Array[Byte](26, 0))
    runMain(out)
    assert(!Files.exists(stale), "the stale tile survived the re-run")
    assert(treeDigests(s"$out/tiles/counties") == treeDigests(s"$fresh/tiles/counties"),
      "a re-run must leave the tree a fresh run writes")
    assert(new java.io.File(s"$out/tiles").list().toSeq == Seq("counties"),
      "no staging directory may remain beside the tree")
  }

  test("a runRegion whose CSV write fails leaves the previous wide and extents CSVs") {
    // `faulty://` (IncrementalSpec's FaultyFs) refuses to create files
    // under the marked artifact; a write straight into the live path
    // would have deleted the previous one first (`mode("overwrite")`)
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val out = Files.createTempDirectory("csv-fault").toString
    val names = Seq("counties.extents", "counties.wide")
    def run(): Unit = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties",
      wideOut = Some(s"faulty://$out/counties.wide"),
      extentsOut = Some(s"faulty://$out/counties.extents"))
    run()
    for (faulted <- names) {
      val before = names.map(n => n -> treeDigests(s"$out/$n")).toMap
      assert(before.values.forall(_.keys.exists(_.startsWith("part-"))), before.toString)
      FaultyFs.failOn = s"/$faulted/"
      try intercept[Exception](run()) finally FaultyFs.failOn = null
      assert(treeDigests(s"$out/$faulted") == before(faulted),
        s"the failed write must leave the previous $faulted as it was")
      // the other output's parts are rewritten under new names, same bytes
      for (n <- names) assert(treeDigests(s"$out/$n").values.toSeq.sorted ==
        before(n).values.toSeq.sorted, s"$n changed after a failed $faulted write")
      assert(new java.io.File(out).list().sorted.toSeq == names,
        "no .staging or .old sibling may be left")
    }
  }

  test("job count: a warm runRegion plans both decades as one tile plan and one sink pass") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson)).persist()
    features.count()
    def run(): Unit = Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames,
      "counties", features = Some(features),
      outDir = Some(Files.createTempDirectory("jobs").toString))
    run() // warm
    val executions = captureJobs(run())
    features.unpersist()
    val writes = executions.filter(_._1.startsWith("foreachPartition at TileBuild.scala"))
    assert(writes.size == 1, s"one sink execution for both decades: $executions")
    val jobs = executions.map(_._2).sum
    assert(jobs == RunRegionJobs, s"$jobs jobs per warm runRegion: $executions")
  }

  test("job count: warm extents over a checked-out wide frame: one checkout, two folds") {
    val executions = Pipeline.withCheckouts { checkout =>
      val wide = checkout(Pipeline.runRegion(spark, fixtureCsv, "raw",
        metricLongNames, "counties"))
      Pipeline.extents(wide) // warm
      captureJobs(Pipeline.extents(wide).collect())
    }
    // the rank passes are RDD jobs outside any SQL execution
    assert(executions.size == 2 && executions.head._1 == "" &&
        executions(1)._1.startsWith("localCheckpoint at Pipeline.scala"),
      s"extents must be one histogram checkout plus its folds: $executions")
    val jobs = executions.map(_._2).sum
    assert(jobs == ExtentsJobs, s"$jobs jobs per warm extents: $executions")
  }

  /** Jobs of warm extents over a checked-out wide frame (the
    * equal-width-bucket rank plan took 11).
    */
  private val ExtentsJobs = 6

  /** Jobs of a warm tiles-only runRegion on the polygon fixture (the
    * per-decade tile plans and their two sink passes took 28, and the
    * hash-aggregate pivot's checkout one more).
    */
  private val RunRegionJobs = 15

  test("decadeTiles choropleth without polygon geometry fails fast") {
    val wide = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    import spark.implicits._
    val pts = Seq(("01001", -86.6, 32.5)).toDF("GEOID", "lon", "lat")
    val e = intercept[IllegalArgumentException] {
      Pipeline.decadeTiles(wide, pts, "raw", "00", "choropleth", "counties")
    }
    assert(e.getMessage.contains("polygon geometry"))
    // bubble layer still builds from bare points
    val bubble = Pipeline.decadeTiles(wide, pts, "raw", "00", "bubble",
      "counties")
    assert(bubble.count() > 0)
  }

  test("a bubble-only tile plan builds no choropleth attribute map") {
    val wide = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    import spark.implicits._
    val pts = Seq(("01001", -86.6, 32.5)).toDF("GEOID", "lon", "lat")
    val plan = Pipeline.decadeTiles(wide, pts, "raw", "00", "bubble", "counties")
      .queryExecution.analyzed
    val mapKeys = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case m: org.apache.spark.sql.catalyst.expressions.CreateMap =>
        m.keys.map(_.eval().toString) })
    val bubbleFields = graft.config.EtlConfig.decadeFields(
      graft.config.EtlConfig.bubbleVars("raw"), "00")
    assert(mapKeys.nonEmpty, "the bubble attribute map is missing")
    assert(mapKeys.forall(_.forall(bubbleFields.contains)),
      s"a map holds non-bubble fields: ${mapKeys.map(_.filterNot(bubbleFields.contains))}")
  }

  private val brickMetrics = Seq("population", "filing_rate")

  /** A brick-laid shared-border grid (IncrementalSpec's fixture pattern,
    * rows offset by half a cell) under `dir`: every border carries a
    * T-junction vertex, so shared-border simplification depends on the
    * full neighbour set. The middle cell has geometry but no data row.
    * Returns the features and the long CSV of [[brickMetrics]].
    */
  private def brickGrid(dir: String): (org.apache.spark.sql.DataFrame, String) = {
    val (cols, rows, hole) = (6, 5, 14)
    def geoid(c: Int) = f"$c%05d"
    // lattice coordinates from integer steps, so both owners of a border
    // vertex compute the same doubles
    def lon(k: Int) = -100.0 + k * 0.05
    def lat(j: Int) = 30.0 + j * 0.1
    val gj = (0 until cols * rows).map { c =>
      val (gx, gy) = (c % cols, c / cols)
      val k = 2 * gx + gy % 2
      val ring = Seq((k, gy), (k + 1, gy), (k + 2, gy), (k + 2, gy + 1),
        (k + 1, gy + 1), (k, gy + 1), (k, gy))
        .map { case (i, j) => s"[${lon(i)},${lat(j)}]" }.mkString(",")
      s"""{"type":"Feature","properties":{"GEOID":"${geoid(c)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[$ring]]}}"""
    }.mkString("\n")
    Files.write(Paths.get(dir, "f.jsonl"), gj.getBytes("UTF-8"))
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, s"$dir/f.jsonl"))
    val csv = new StringBuilder(
      "id,year,name,parent_location,population,filing_rate\n")
    for (c <- 0 until cols * rows if c != hole; y <- 2000 to 2018)
      csv.append(s"${geoid(c)},$y,Cell $c,Gridland," +
        s"${(c * 31 + y) % 97 + 1},${(c * 7 + y) % 13 + 1}\n")
    Files.write(Paths.get(dir, "data.csv"), csv.toString.getBytes("UTF-8"))
    (features, s"$dir/data.csv")
  }

  test("decadeTiles layer by layer, J3-merged, matches runRegion's tree tile for tile") {
    val dir = Files.createTempDirectory("one-choro").toString
    val (features, csv) = brickGrid(dir)
    val out = s"$dir/tiles"
    val wide = Pipeline.runRegion(spark, csv, "raw", brickMetrics,
      "counties", features = Some(features), outDir = Some(out))
    for (decade <- Seq("00", "10")) {
      def layer(name: String) = Pipeline.decadeTiles(wide, features, "raw",
          decade, name, "counties").collect()
        .map(r => s"${r.getAs[Int]("z")}/${r.getAs[Long]("x")}/" +
          s"${r.getAs[Long]("y")}.pbf" -> r.getAs[Array[Byte]]("tile_bytes")).toMap
      val (bubble, choro) = (layer("bubble"), layer("choropleth"))
      val merged = (bubble.keySet ++ choro.keySet).map { k =>
        k -> sha256(bubble.getOrElse(k, Array.empty[Byte]) ++
          choro.getOrElse(k, Array.empty[Byte]))
      }.toMap
      val tree = treeDigests(s"$out/counties/$decade")
        .filter(_._1.endsWith(".pbf"))
      assert(choro.nonEmpty && tree.nonEmpty)
      assert(merged == tree, s"decade $decade: " +
        s"missing=${(tree.keySet -- merged.keySet).take(3)} " +
        s"extra=${(merged.keySet -- tree.keySet).take(3)} " +
        s"changed=${tree.count { case (k, v) => merged.get(k).exists(_ != v) }}")
    }
  }

  test("tile bytes: the brick-grid tree and the edge-point tile hash to their recorded SHA-256 digests") {
    // absolute pins, so drift shared by every tile path shows (a
    // comparison of two paths cannot see it): both decades, both layers,
    // shared borders and the data-less cell of the brick grid, and the
    // lon=180 / lat=-86 point clamped into the last tile's last pixel
    val dir = Files.createTempDirectory("digests").toString
    val (features, csv) = brickGrid(dir)
    Pipeline.runRegion(spark, csv, "raw", brickMetrics, "counties",
      features = Some(features), outDir = Some(s"$dir/tiles"))
    val tree = treeDigests(s"$dir/tiles/counties")
    import spark.implicits._
    val pts = Seq((1L, 180.0, -86.0, "edge"), (2L, 0.5, 0.5, "mid"))
      .toDF("id", "lon", "lat", "tag")
    val edge = TilingSpec.pointTiles(pts, Seq("tag"), "edge-layer", 1, 1)
      .filter(col("x") === 1 && col("y") === 1)
      .select("tile_bytes").as[Array[Byte]].collect()
    assert(edge.length == 1, "one edge tile at 1/1/1")
    val got = tree + ("edge-point 1/1/1.pbf" -> sha256(edge(0)))
    val drift = (got.keySet ++ TileDigests.keySet).toSeq.sorted
      .filter(k => got.get(k) != TileDigests.get(k))
    assert(drift.isEmpty, "tile bytes drifted (file, digest now):" +
      drift.map(k => s"\n$k ${got.getOrElse(k, "-")}").mkString)
  }

  /** SHA-256 of every file of the brick-grid tree, and of the edge-point
    * tile.
    */
  private val TileDigests = Map(
    "00/0/0/0.pbf" ->
      "dc46ad8af33cbd5fb153f575d036b85a599cef4592471a0b733eb670822b6fd5",
    "00/1/0/0.pbf" ->
      "23e534abb1086d37d1186067295491bcff42ba45f8f2863ed8b61417d2047bae",
    "00/2/0/1.pbf" ->
      "745e0c3150cdb0f4d051812356c2105197d947f4f35703a207f64b047fc8b4c5",
    "00/3/1/3.pbf" ->
      "2fcbc57bbfa10e54c50b781b8593935340f5d1a518014d6fb81f65f975185aa6",
    "00/4/3/6.pbf" ->
      "bc8149ae597627801e5326cd1246bb3d32e97297c15f15eec3ca5fe2eaa6e889",
    "00/5/7/13.pbf" ->
      "0ec8633b86d6091070cfd5c1f3674cda7aa76e716f6b707807ff951907459d03",
    "00/6/14/26.pbf" ->
      "0a1e580197c063b88f7a0df627a98854853c5266b78b68501bf88d7c3bda9fef",
    "00/7/28/52.pbf" ->
      "7b7731a02fcf317becd71b6ca09d5b60a5376e8efd9f8ad71541d9d6051e7283",
    "00/metadata.json" ->
      "87f20db0672d6d1b26d2de35354928d79b162b726f05698286babd8d98b620b3",
    "10/0/0/0.pbf" ->
      "28f97c6430b7f3bcfca1488a6d96d97bc23012e0196ecee620494346c00b881e",
    "10/1/0/0.pbf" ->
      "c53b8395f37992c94cc3638d314cf0e532bde74b8a58f549c1259493dcdd8453",
    "10/2/0/1.pbf" ->
      "bd3ce778a0798363479e91a59963f5ff8c33f038b29371ced1e34432343f4a66",
    "10/3/1/3.pbf" ->
      "d2bc53ec27398384453c4570763a3dbcb64b233a2f7fc729f0db916d387b7915",
    "10/4/3/6.pbf" ->
      "0771f7cd03073ab11d9934910da22a5e8fc50e3dc0b53eb3c56f5e65a154bb54",
    "10/5/7/13.pbf" ->
      "28499645d2794cb11cdef39e081b766e6f6df2ea348a719f8f593df6506fe95c",
    "10/6/14/26.pbf" ->
      "f4ad15415d890f37430b86458ffdc0cf28df6d69ff53792db6d67dff9fb2b268",
    "10/7/28/52.pbf" ->
      "a28085d559d85e27f10194e64c6a51598f5e5792bbb1f04e986127d69a297757",
    "10/metadata.json" ->
      "87c41cb4583468817f42306dfc96c9dfcf6f43a88f27ded34e8cadae4d67182e",
    "edge-point 1/1/1.pbf" ->
      "39bd38a79d77dea8c27e97b649cac53de730b0a8e32642ae646a8e0fd524a589")
}
