package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.config.EtlConfig
import graft.operators.{Extents, Geometry, Joins, Shape, Tiling}
import graft.sinks.TileBuild
import graft.sources.Sources

/** The reference pipeline end-to-end (`/root/reference/build.sh`), as one
  * lazy Spark plan per region: fetch → shape (pivot) → extents → decade
  * slice → attribute join → tiles → pbf directory.
  *
  * Stage boundaries in the reference are OS processes exchanging CSV
  * files (SURVEY.md §3.1 — "the IR is a CSV file"); here every stage is
  * a `DataFrame => DataFrame` and the only materialization barriers are
  * the pivot shuffle and the ONE tile shuffle per region: both decades
  * and both layers of a region's tileset meet in one
  * `groupBy(decade, z, x, y)` ([[regionTiles]]) and are written by one
  * sink pass. Regions are embarrassingly parallel (`build.sh:69`) — on a
  * cluster, submit them as parallel jobs over one shared SparkSession.
  *
  * Within a region, plans that read none of each other's output run side
  * by side ([[concurrently]]): a region run is dozens of small jobs, most
  * of them one task, so a serial chain leaves the cores idle through
  * every job's planning, code generation and JIT warm-up.
  * [[runRegion]] overlaps the pivot with the features, then the wide
  * CSV, the extents CSV and the tile tree;
  * [[Incremental.incrementalRegion]] overlaps its feature fan with its
  * diff chain.
  */
object Pipeline {

  /** Stage b — shape (`scripts/shape-data.js` / `build.sh:80`): rename
    * via the input-type column map (unmapped dropped), default
    * parent_location, pivot long→wide with deterministic last-wins,
    * ordered by GEOID.
    */
  def shape(long: DataFrame, inputType: String,
            years: Seq[String] = EtlConfig.allYears): DataFrame = {
    val mapping = EtlConfig.columnMap(inputType)
      .filter { case (from, _) => long.columns.contains(from) }
    val metrics = mapping.map(_._2).filterNot(EtlConfig.idColumns.contains)
    val renamed = Shape.renameColumns(long, mapping, keep = Seq("year"))
      .withColumn("pl",
        Shape.defaultParentLocation(col("pl"), EtlConfig.parentLocationDefault))
      .withColumn("yy", Shape.yearSuffix(col("year")))
      .withColumn("ord", monotonically_increasing_id())
    Shape.pivotWide(renamed, idCol = "GEOID",
      carry = EtlConfig.idColumns.filterNot(_ == "GEOID"),
      yearCol = "yy", metrics = metrics, years = years, ordCol = "ord")
  }

  /** Stage c — extents (`scripts/extract-extents.js` / `build.sh:84-88`):
    * per metric-year column min/max/q1/q99 over numeric cells; skips the
    * id columns (`extract-extents.js:12`).
    */
  def extents(wide: DataFrame): DataFrame = {
    val metricCols = wide.columns.filterNot(EtlConfig.idColumns.contains).toSeq
    Extents.extents(wide, metricCols)
  }

  /** Drops the blocks of a `localCheckpoint`ed frame now, rather than
    * whenever a driver GC lets the ContextCleaner find it unreferenced.
    * Call it once nothing reads the frame any more.
    */
  private[graft] def releaseCheckpoint(checkpoint: DataFrame): Unit =
    checkpoint.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** The one materialization rule of this engine: an intermediate read
    * more than once is CHECKED OUT — `localCheckpoint(eager = true)`,
    * one job that computes its rows once into the block manager and
    * leaves a plan that scans them (`Scan ExistingRDD`) — and is never
    * cached: a checkout registers nothing with the cache manager, so an
    * unrun plan leaves nothing behind, and AQE reuses exchanges over its
    * scan (not over an `InMemoryTableScan`). `body` receives `checkout`,
    * and every frame it checks out is released ([[releaseCheckpoint]])
    * when `body` exits, normally or not, so nothing `body` returns may
    * read one; a checkout inside a returned lazy frame is left to the
    * ContextCleaner.
    *
    * The one exception is an edge list whose hash partitioning every
    * round of an iteration rides: a checkpoint's scan reports unknown
    * partitioning, so `Dedup.connectedComponents` and `Graph` persist
    * that list and unpersist it before they return.
    */
  private[graft] def withCheckouts[A](body: (DataFrame => DataFrame) => A): A = {
    val held = scala.collection.mutable.Buffer.empty[DataFrame]
    // `checkout` may be called from [[concurrently]]'s branches
    try body { df =>
      val c = df.localCheckpoint(eager = true)
      held.synchronized(held += c)
      c
    } finally held.synchronized(held.foreach(releaseCheckpoint))
  }

  /** The one publish protocol of this engine: every directory artifact
    * is built whole beside its live path, then swapped in. `build`
    * writes `<name>` inside a hidden sibling `.<name>.<uuid>.staging` of
    * `live`, at the path it is given. The live dir, if any, is moved
    * aside to `.<name>.<uuid>.old/<name>`, the built one renamed into its
    * place and the old one deleted; if that rename fails, the old dir
    * goes back and the call throws. Both siblings hold their tree one
    * level down, so a fixture's parquet never sits where the oracle's
    * glob reads (the parquet files one level below a fixture dir). The
    * staging dir is deleted on every exit, so a failed build leaves
    * `live` as it was, and nothing the new build no longer produces
    * survives it.
    */
  private[graft] def staged[T](fs: FileSystem, live: Path)(build: Path => T): T = {
    val tag = s"${live.getName}.${java.util.UUID.randomUUID()}"
    val staging = new Path(live.getParent, s".$tag.staging")
    val aside = new Path(live.getParent, s".$tag.old")
    val (built, old) = (new Path(staging, live.getName), new Path(aside, live.getName))
    try {
      val result = build(built)
      if (fs.exists(live) && !(fs.mkdirs(aside) && fs.rename(live, old))) {
        fs.delete(aside, true)
        throw new java.io.IOException(s"cannot move $live aside")
      }
      if (!fs.rename(built, live)) {
        if (fs.rename(old, live)) fs.delete(aside, true) // put the live dir back, if any
        throw new java.io.IOException(s"cannot swap in $built")
      }
      fs.delete(aside, true)
      result
    } finally fs.delete(staging, true)
  }

  /** Runs independent branches side by side and returns their results in
    * argument order. Each branch gets a thread of its own, created by
    * this call from the calling thread, so it inherits what the caller
    * set there: Spark's local properties (the job group a watchdog
    * cancels and a trace span groups by, the job description) and the
    * active session. The call returns only once every branch has ended,
    * on every exit path — an interrupt of the caller does not cut the
    * wait short (it is restored afterwards) — so no branch outlives the
    * checkouts of an enclosing [[withCheckouts]]. When branches fail,
    * the first failure is rethrown with the others suppressed on it; a
    * failure does not stop its siblings.
    *
    * The branch count is fixed by the caller (two or three); there is no
    * pool, so nested calls stay bounded by their own arity.
    */
  private[graft] def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val r = branches(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** [[concurrently]] over three branches. */
  private[graft] def concurrently[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = branches(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  private def branches(bodies: Seq[() => Any]): Seq[Any] = {
    val results = new Array[Any](bodies.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.zipWithIndex.map { case (body, i) =>
      new Thread(() =>
        try results(i) = body() catch { case e: Throwable => failures.add(e) },
        s"graft-branch-$i")
    }
    try threads.foreach(_.start())
    finally {
      // a thread that never started is not alive and is not waited for
      var interrupted = false
      for (t <- threads) while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread.interrupt()
    }
    failures.poll() match {
      case null => results.toSeq
      case first =>
        failures.forEach(e => first.addSuppressed(e))
        throw first
    }
  }

  /** Stage d — feature derivation from source geometry
    * (`build.sh:111-118`: mapshaper `-points inner`): GeoJSON features →
    * parsed polygon rings + polylabel interior point, in one typed map.
    * Output columns: GEOID, polys (parsed rings), lon, lat (the bubble
    * center, guaranteed inside the polygon).
    */
  def geometryFeatures(geo: DataFrame): DataFrame = {
    val parsed = geo.select(col("GEOID"),
        Geometry.parsePolygons(col("geometry_json")).as("polys"))
      .filter(col("polys").isNotNull)
    Geometry.withInteriorPoints(parsed, "GEOID", "polys")
  }

  /** Stage e — one (layer, decade) tile build (`build.sh:163-231`):
    * csvcut column slice → `--if-matched` attribute join onto features →
    * tile assignment + density budget + MVT encode. The bubble layer
    * encodes the interior points (`build.sh:121-134`); the choropleth
    * layer encodes the polygon rings themselves
    * (`build.sh:139-160` — requires a `polys` column, see
    * [[geometryFeatures]]) through [[choroTileFeatures]] and
    * [[choroDecadeEncode]]. Each is one layer of one decade of
    * [[regionTiles]], the plan [[runRegion]] ships.
    *
    * @param features GEOID + lon/lat (bubble center) and, for the
    *                 choropleth layer, the parsed `polys` column
    * @return (z, x, y, n_features, tile_bytes)
    */
  def decadeTiles(wide: DataFrame, features: DataFrame, inputType: String,
                  decade: String, layer: String, region: String,
                  maxZoomOverride: Option[Int] = None): DataFrame =
    if (layer == "bubble")
      regionTiles(wide, Some(features), None, inputType, region,
        maxZoomOverride, Seq(decade)).drop("decade")
    else {
      require(features.columns.contains("polys"),
        "choropleth layer needs polygon geometry: supply GeoJSON-derived " +
          "features (Pipeline.geometryFeatures), not bare lon/lat points")
      val maxZ = maxZoomOverride.getOrElse(EtlConfig.choroplethZoom(region).maxZoom)
      choroDecadeEncode(wide, choroTileFeatures(features, region, maxZ),
        inputType, decade, region)
    }

  /** The decade-independent choropleth GEOMETRY stage
    * (`build.sh:139-160`: one base tileset, split per decade by
    * `tile-join`), shared verbatim by [[runRegion]] and
    * [[Incremental.incrementalRegion]] — byte parity between the two
    * rebuild modes requires one code path. Crucially this runs over
    * the full FEATURE table (before any attribute join): shared-border
    * detection must see every neighbour, including features the
    * current snapshot carries no data for — an attribute-join-first
    * variant would silently unmark their shared edges and simplify
    * borders differently (the IncrementalSpec r15 finding).
    */
  private[graft] def choroTileFeatures(features: DataFrame, region: String,
                                       maxZ: Int): DataFrame = {
    val zoom = EtlConfig.choroplethZoom(region)
    val knobs = EtlConfig.choroplethBuild(region)
    TileBuild.polygonTileFeatures(
      features.withColumn("fid", col("GEOID").cast("long")), "fid", "polys",
      zoom.minZoom, maxZ, simplifyPx = knobs.simplifyPx,
      sharedBorders = knobs.sharedBorders)
  }

  /** One decade's choropleth attribute join + encode over a prepared
    * [[choroTileFeatures]] frame (`tile-join --if-matched`,
    * `build.sh:208-211`): the choropleth layer of [[regionTiles]] alone.
    */
  private[graft] def choroDecadeEncode(wide: DataFrame, polyFeats: DataFrame,
                                       inputType: String, decade: String,
                                       region: String): DataFrame =
    regionTiles(wide, None, Some(polyFeats), inputType, region, None,
      Seq(decade)).drop("decade")

  /** The directory levels of a region's tile tree: `decade/z/x/y.pbf`. */
  private[graft] val TreeLevels = Seq("decade", "z", "x", "y")

  /** A region's tilesets as ONE lazy plan (`build.sh:121-231`: the base
    * tilesets, split per decade by `tile-join`): every decade in
    * `decades`, the bubble layer of `points` and the choropleth layer of
    * `polyFeats` ([[choroTileFeatures]]), met in one encode shuffle
    * ([[TileBuild.encodeTiles]]). [[runRegion]] and
    * [[Incremental.incrementalRegion]] build both layers of both decades
    * through it, so the two rebuild modes write the same bytes.
    *
    * Everything but the attribute maps is decade-independent and built
    * once: the bubble fan and its density budget (over the features the
    * snapshot has data for — `--if-matched`; `wide` has one row per
    * GEOID, so every decade matches the same features, and the budget
    * ranks by fid), and the choropleth geometry. The attribute maps are
    * one frame with a row per (GEOID, decade), joined onto every (tile,
    * feature) row; each (decade, z, x, y) group encodes the bubble layer,
    * then the choropleth layer.
    *
    * @param tiles the (z, x, y) keys to encode, None = all: the rows of
    *              other tiles leave before the encode shuffle (a tile's
    *              bytes depend on its own rows only)
    * @return (decade, z, x, y, n_features, tile_bytes)
    */
  private[graft] def regionTiles(wide: DataFrame, points: Option[DataFrame],
                                 polyFeats: Option[DataFrame],
                                 inputType: String, region: String,
                                 bubbleMaxZ: Option[Int],
                                 decades: Seq[String] = EtlConfig.decades.keys.toSeq.sorted,
                                 tiles: Option[DataFrame] = None): DataFrame = {
    val bz = EtlConfig.bubbleZoom(region)
    val geom = Seq("z", "x", "y", "layer", "density_rank", "fid", "rings_flat",
      "ring_sizes").map(col)
    // `--base-zoom` (`build.sh:121-126`): zooms below the region's base
    // thin at ~2.5×/level — how 217k block-group dots stay readable at
    // z4; the flat density budget only caps the residue
    val bubble = points.map(p => TileBuild.pointTileRows(
        Joins.attributeJoin(p, wide.select("GEOID"), "GEOID")
          .withColumn("fid", col("GEOID").cast("long")), // P5/T5 numeric id
        "fid", "lon", "lat", bz.minZoom, bubbleMaxZ.getOrElse(bz.maxZoom),
        baseZoom = Some(bz.baseZoom))
      .withColumn("layer", lit(0)).select(geom: _*))
    val choro = polyFeats.map(_.withColumn("layer", lit(1)).select(geom: _*))
    // per decade, each ENCODED layer's `csvcut` columns (`build.sh:163-207`)
    // as one MVT attribute map `attrs<layer>`, GEOID left out (it is the
    // feature id)
    val layerVars = Seq(points.map(_ => EtlConfig.bubbleVars(inputType) -> 0),
      polyFeats.map(_ => EtlConfig.choroplethVars(inputType) -> 1)).flatten
    def fields(vars: Seq[String], decade: String): Seq[String] =
      EtlConfig.decadeFields(vars, decade).filter(wide.columns.contains)
    val attrsRaw = decades.map(d => wide.select(
        Seq(col("GEOID").cast("long").as("fid"), lit(d).as("decade")) ++
          layerVars.map { case (vars, i) =>
            map(fields(vars, d).filterNot(_ == "GEOID")
              .flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as(s"attrs$i")
          }: _*))
      .reduce(_ unionByName _)
    val attrsOfLayer = layerVars.map(_._2) match {
      case Seq(i) => col(s"attrs$i")
      case _ => when(col("layer") === 0, col("attrs0")).otherwise(col("attrs1"))
    }
    // size-gate on the SLICE: MapType's default per-row estimate hides a
    // 217k×110-attr map's ~500 MB, so Catalyst would auto-broadcast it
    // and run out of heap. Big slices pin the shuffle-hash join, which AQE
    // upgrades back to broadcast only from REAL runtime sizes.
    val slice = wide.select((for (d <- decades; (v, _) <- layerVars; f <- fields(v, d))
      yield f).distinct.map(col): _*)
    val attrs = if (slice.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
      broadcast(attrsRaw) else attrsRaw.hint("shuffle_hash")
    val rows = (bubble ++ choro).reduce(_ unionByName _)
    TileBuild.encodeTiles(tiles.fold(rows)(rows.join(_, Seq("z", "x", "y"), "left_semi"))
        .join(attrs, Seq("fid"))
        .withColumn("attrs", attrsOfLayer),
        Seq(TileBuild.Layer(d => s"$region-$d-bubble", polygons = false),
          TileBuild.Layer(d => s"$region-$d-choropleth", polygons = true,
            coalesce = EtlConfig.choroplethBuild(region).coalesce)))
  }

  /** Full region run (`build.sh:69-233`): returns the wide frame and,
    * when features are given, writes the region's tile tree under
    * `outDir` — both decades in one plan ([[regionTiles]]) and one sink
    * pass, plus each decade's metadata.json. Extents are built only for
    * `extentsOut`. With GeoJSON-derived features ([[geometryFeatures]])
    * both layers build; with bare lon/lat points only the bubble layer.
    *
    * SCAN-ONCE (SURVEY §3.1): when the run reads the wide frame more than
    * once — the tiles, the stage-b/c CSV artifacts — the pivot is checked
    * out ([[withCheckouts]]), so the long CSV is scanned exactly ONCE per
    * region run (PipelineSpec pins this over the composed run), as the
    * reference's `data.wide.csv` between processes does
    * (`build.sh:80-81`). The returned wide frame is the lazy pivot.
    *
    * The run is two phases of independent plans ([[concurrently]]):
    * first the pivot checkout beside the features checkout with its
    * bounds aggregate and extend-zooms probes ([[prepareTree]]), then the
    * wide CSV beside the extents CSV beside the tile tree and its
    * metadata.json files. Every plan is the one a serial run makes; only
    * their order in time changes.
    *
    * Every output is published whole ([[staged]]): the tree, the wide
    * CSV and the extents CSV are each built in a staging sibling and
    * swapped in, so a failed run leaves each of them as it was, and a
    * re-run over an existing tree leaves no tile the new data does not
    * produce.
    *
    * @param extendBudget densest-tile feature budget driving the
    *                     `--extend-zooms-if-still-dropping` decision for
    *                     both layers (tippecanoe's default tile budget;
    *                     a test seam for forcing extension on small
    *                     fixtures)
    * @param wideOut    stage-b artifact (`data.wide.csv` /
    *                   `build/$REGION.csv`, `build.sh:81`): header CSV
    *                   directory, written distributed (the reference's
    *                   one-file-per-region is its 4 GB-heap limitation,
    *                   not a format requirement)
    * @param extentsOut stage-c artifact (`data.extents.csv`,
    *                   `build.sh:84-88`): single-file header CSV — the
    *                   frame is ~|metrics×years| rows, never large
    */
  def runRegion(spark: SparkSession, longCsvPath: String, inputType: String,
                metricLongNames: Seq[String], region: String,
                features: Option[DataFrame] = None,
                outDir: Option[String] = None,
                extendBudget: Int = 10000,
                wideOut: Option[String] = None,
                extentsOut: Option[String] = None): DataFrame = {
    val long = Sources.readCsv(spark, longCsvPath,
      Sources.longSchema(metricLongNames))
    val pivot = shape(long, inputType)
    val tiles = features.isDefined && outDir.isDefined
    val hconf = spark.sessionState.newHadoopConf()
    def publish(live: String)(build: String => Unit): Unit = {
      val p = new Path(live)
      staged(p.getFileSystem(hconf), p)(dir => build(dir.toString))
    }
    withCheckouts { checkout =>
      val (wide, writeTree) = concurrently(
        if (tiles || (wideOut.isDefined && extentsOut.isDefined)) checkout(pivot)
        else pivot,
        for (supplied <- features; out <- outDir) yield
          (prepareTree(checkout(supplied), inputType, region, extendBudget),
            s"$out/$region"))
      concurrently(
        wideOut.foreach(publish(_)(Sources.writeCsv(wide, _))),
        extentsOut.foreach(publish(_)(Sources.writeCsv(extents(wide), _, singleFile = true))),
        writeTree.foreach { case (write, tree) => publish(tree)(write(wide, _)) })
    }
    pivot
  }

  /** Everything of a region's tile tree that does not read the pivot,
    * over the checked-out features `f` (one checkout serves the
    * extend-zooms probes, the polygon geometry, the bounds and the bubble
    * layer); returns the writer of the region's tree, given the wide
    * frame and the tree's directory.
    */
  private def prepareTree(f: DataFrame, inputType: String, region: String,
                          extendBudget: Int): (DataFrame, String) => Unit = {
    val hasPolys = f.columns.contains("polys")
    val zoom = EtlConfig.choroplethZoom(region)
    val bz = EtlConfig.bubbleZoom(region)
    // `--extend-zooms-if-still-dropping` (`build.sh:124-126,148-152`):
    // decided ONCE per region from the decade-independent interior
    // points (one per polygon — the features that overflow a tile's
    // feature budget), one aggregate per distinct base maxZoom — the
    // cities layers share theirs
    val extended = scala.collection.mutable.Map.empty[Int, Int]
    def extendFrom(maxZ: Int): Int = extended.getOrElseUpdate(maxZ,
      Tiling.extendMaxZoom(f, "lon", "lat", maxZ, maxZ + 2, budget = extendBudget))
    // the choropleth extends only under drop-densest (cities):
    // coalesce regions merge instead of dropping, so extension is a
    // no-op there and is skipped
    val choroMaxZ = if (zoom.extend && !EtlConfig.choroplethBuild(region).coalesce)
      extendFrom(zoom.maxZoom) else zoom.maxZoom
    val bubbleMaxZ = if (bz.extend) Some(extendFrom(bz.maxZoom)) else None
    // base choropleth GEOMETRY is decade-independent: the one tile plan
    // reads it once, the reference's base tileset split per decade by
    // `tile-join` (`build.sh:139-160` once, `:208-211` per decade)
    val polyFeats =
      if (hasPolys) Some(choroTileFeatures(f, region, choroMaxZ)) else None
    // tileset bounds/center (decade-independent, one small aggregate):
    // tile-join's metadata.json carries them (`build.sh:220,226`) —
    // polygon regions use the true geometry bbox, point regions the
    // bubble centers
    val bounds: Option[(Double, Double, Double, Double)] = {
      val r = (if (hasPolys)
        Geometry.withBbox(f.select("polys"), "polys").select(min("lon_min"),
          min("lat_min"), max("lon_max"), max("lat_max"))
      else f.select(min(col("lon")), min(col("lat")),
        max(col("lon")), max(col("lat")))).head()
      // zero features ⇒ the min/max aggregate returns one all-null row;
      // skip the bounds/center metadata keys rather than NPE on getDouble
      if (r.isNullAt(0)) None
      else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    }
    val maxZoomOut = math.max(bubbleMaxZ.getOrElse(bz.maxZoom), choroMaxZ)
    // the whole tree, both decades, in one encode shuffle and one sink
    // pass; then each decade's metadata.json
    (wide, tree) => {
      TileBuild.writeTiles(regionTiles(wide, Some(f), polyFeats, inputType,
        region, bubbleMaxZ), tree, TreeLevels)
      for (decade <- EtlConfig.decades.keys.toSeq.sorted)
        TileBuild.writeMetadataJson(f.sparkSession, s"$tree/$decade",
          Map("name" -> s"$region-$decade",
            "type" -> "overlay",
            "minzoom" -> math.min(bz.minZoom, zoom.minZoom).toString,
            "maxzoom" -> maxZoomOut.toString,
            "layers" -> (s"$region-$decade-bubble" +
              (if (hasPolys) s",$region-$decade-choropleth" else ""))) ++
            bounds.map { case (x0, y0, x1, y1) =>
              Map("bounds" -> s"$x0,$y0,$x1,$y1",
                "center" -> s"${(x0 + x1) / 2},${(y0 + y1) / 2},$maxZoomOut")
            }.getOrElse(Map.empty))
    }
  }
}
