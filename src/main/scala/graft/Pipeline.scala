package graft

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
  * the pivot shuffle and the per-tile groupBy shuffle. Regions and
  * decades are embarrassingly parallel (`build.sh:69,163`) — on a
  * cluster, submit them as parallel jobs over one shared SparkSession.
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
    Extents.extents(wide, metricCols).orderBy("id")
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
    * cached. A checkout registers nothing with the session's cache
    * manager, so a plan that is built and never run (an explain, a plan
    * audit, a dropped frame) leaves nothing behind, and AQE reuses
    * exchanges over its scan, which it does not over an
    * `InMemoryTableScan`. Who releases it:
    *  - a checkout returned inside a lazy frame lives as long as that
    *    frame; the ContextCleaner drops its blocks once the frame is
    *    unreferenced;
    *  - a checkout whose last reader the caller knows is dropped then:
    *    `body` receives `checkout`, and every frame it checks out is
    *    released ([[releaseCheckpoint]]) when `body` exits, normally or
    *    not. Nothing `body` returns may read one of them.
    *
    * The one exception is an edge list whose hash partitioning every
    * round of an iteration rides: a checkpoint's scan reports unknown
    * partitioning, so `Dedup.connectedComponents` and `Graph` persist
    * that list and unpersist it before they return.
    */
  private[graft] def withCheckouts[A](body: (DataFrame => DataFrame) => A): A = {
    val held = scala.collection.mutable.Buffer.empty[DataFrame]
    try body { df =>
      val c = df.localCheckpoint(eager = true)
      held += c
      c
    } finally held.foreach(releaseCheckpoint)
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
    * [[choroDecadeEncode]], the path [[runRegion]] ships.
    *
    * @param features GEOID + lon/lat (bubble center) and, for the
    *                 choropleth layer, the parsed `polys` column
    */
  def decadeTiles(wide: DataFrame, features: DataFrame, inputType: String,
                  decade: String, layer: String, region: String,
                  maxZoomOverride: Option[Int] = None): DataFrame =
    if (layer == "bubble") {
      val zoom = EtlConfig.bubbleZoom(region)
      val fields = EtlConfig.decadeFields(EtlConfig.bubbleVars(inputType), decade)
        .filter(f => wide.columns.contains(f))
      val joined = Joins.attributeJoin(features, Shape.decadeSlice(wide, fields),
          "GEOID", ifMatched = true)
        .withColumn("fid", col("GEOID").cast("long")) // P5/T5 numeric feature id
      // `--base-zoom` (`build.sh:121-126`): zooms below the region's base
      // thin at ~2.5×/level — how 217k block-group dots stay readable at
      // z4; the flat density budget only caps the residue
      TileBuild.buildPointTiles(joined, "fid", "lon", "lat",
        fields.filterNot(_ == "GEOID"), s"$region-$decade-$layer",
        zoom.minZoom, maxZoomOverride.getOrElse(zoom.maxZoom),
        baseZoom = Some(zoom.baseZoom))
    } else {
      require(features.columns.contains("polys"),
        "choropleth layer needs polygon geometry: supply GeoJSON-derived " +
          "features (Pipeline.geometryFeatures), not bare lon/lat points")
      // the same geometry-before-join split runRegion writes (see
      // [[choroTileFeatures]]), so a one-off decade build is byte-identical
      // to the choropleth layer of the shipped tileset
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
    * `build.sh:208-211`). Shared by both rebuild modes — see
    * [[choroTileFeatures]].
    */
  private[graft] def choroDecadeEncode(wide: DataFrame, polyFeats: DataFrame,
                                       inputType: String, decade: String,
                                       region: String): DataFrame = {
    val knobs = EtlConfig.choroplethBuild(region)
    val fields = EtlConfig.decadeFields(
      EtlConfig.choroplethVars(inputType), decade)
      .filter(wide.columns.contains)
    val slice = Shape.decadeSlice(wide, fields)
    val attrCols = fields.filterNot(_ == "GEOID")
    val attrPairs = attrCols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    val attrsRaw = slice.select(col("GEOID").cast("long").as("fid"),
      map(attrPairs: _*).as("attrs"))
    // size-gate on the SLICE, not the map projection: MapType's default
    // per-row size estimate (~tens of bytes) hides the real ~payload of
    // a 217k×110-attr map, so Catalyst would auto-broadcast a ~500 MB
    // build and OOM the driver (the PipeScale r15 finding — same class
    // as attributeJoin's gate). Small regions broadcast; national-scale
    // slices pin the shuffle-hash join, which AQE only upgrades back to
    // broadcast from REAL runtime sizes.
    val est = slice.queryExecution.optimizedPlan.stats.sizeInBytes
    val attrs = if (est <= (64L << 20)) broadcast(attrsRaw)
      else attrsRaw.hint("shuffle_hash")
    TileBuild.encodePolygonTiles(polyFeats.join(attrs, Seq("fid")),
      s"$region-$decade-choropleth", coalesce = knobs.coalesce)
  }

  /** One decade's shipped tileset: the bubble layer, the choropleth
    * layer over a prepared [[choroTileFeatures]] frame when there is
    * one, and the J3 layer union-merge (`tile-join` `build.sh:214`):
    * align on (z,x,y), concatenate layer bytes at the protobuf level.
    * Without polygons the bubble layer IS the tileset. Shared by
    * [[runRegion]] and [[Incremental.incrementalRegion]], so the two
    * rebuild modes write the same bytes.
    *
    * @return (z, x, y, tile_bytes)
    */
  private[graft] def decadeTileset(wide: DataFrame, features: DataFrame,
                                   polyFeats: Option[DataFrame],
                                   inputType: String, decade: String,
                                   region: String,
                                   bubbleMaxZ: Option[Int]): DataFrame = {
    val bubble = decadeTiles(wide, features, inputType, decade, "bubble",
      region, maxZoomOverride = bubbleMaxZ).select("z", "x", "y", "tile_bytes")
    polyFeats.fold(bubble) { tf =>
      val choro = choroDecadeEncode(wide, tf, inputType, decade, region)
      bubble.withColumnRenamed("tile_bytes", "bubble_bytes")
        .join(choro.select(col("z"), col("x"), col("y"),
          col("tile_bytes").as("choro_bytes")), Seq("z", "x", "y"), "full_outer")
        .select(col("z"), col("x"), col("y"),
          concat(coalesce(col("bubble_bytes"), lit(Array.empty[Byte])),
            coalesce(col("choro_bytes"), lit(Array.empty[Byte]))).as("tile_bytes"))
    }
  }

  /** Full region run (`build.sh:69-233`): returns the wide frame and
    * writes tiles per decade under `outDir` when features are given.
    * Extents are built only for `extentsOut` ([[extents]] of the returned
    * frame gives them). With GeoJSON-derived features
    * ([[geometryFeatures]]) both layers build; with bare lon/lat points
    * only the bubble layer can.
    *
    * SCAN-ONCE discipline (SURVEY §3.1's "one lazy plan, the only true
    * barriers being the pivot shuffle and the tile groupBy shuffle"):
    * when the run reads the wide frame more than once — tiles for each
    * decade, the stage-b/c CSV artifacts — the pivot is checked out
    * ([[withCheckouts]]), so the long CSV is scanned exactly ONCE per
    * region run and every downstream stage reads the checked-out wide
    * rows (PipelineSpec pins this with a QueryExecutionListener over the
    * composed run). The reference gets the same effect by materializing
    * `data.wide.csv` between processes (`build.sh:80-81`). The returned
    * wide frame is always the lazy pivot, never a released checkout.
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
    withCheckouts { checkout =>
      val wide = if (tiles || (wideOut.isDefined && extentsOut.isDefined))
        checkout(pivot) else pivot
      wideOut.foreach(p => Sources.writeCsv(wide, p))
      extentsOut.foreach(p => Sources.writeCsv(extents(wide), p, singleFile = true))
      for (supplied <- features; out <- outDir) {
        // one checkout of the features serves the extend-zooms probes, the
        // polygon geometry, the bounds and every decade's bubble layer
        val f = checkout(supplied)
        val hasPolys = f.columns.contains("polys")
        // base choropleth GEOMETRY is decade-independent — built ONCE and
        // checked out, exactly the reference's base-tileset + per-decade
        // `tile-join` split (`build.sh:139-160` once, `:208-211` per
        // decade); only the attribute join + encode re-run per decade
        val zoom = EtlConfig.choroplethZoom(region)
        val knobs = EtlConfig.choroplethBuild(region)
        // `--extend-zooms-if-still-dropping` applies to the CHOROPLETH too
        // (`build.sh:148-152`) — but only the drop-densest strategy ever
        // drops (cities); coalesce regions merge instead of dropping, so
        // extension is a no-op there and is skipped. Density is measured
        // on the decade-independent interior points (one per polygon —
        // the same features that overflow a tile's feature budget).
        val choroMaxZ = if (zoom.extend && !knobs.coalesce)
          Tiling.extendMaxZoom(f, "lon", "lat",
            zoom.maxZoom, zoom.maxZoom + 2, budget = extendBudget)
        else zoom.maxZoom
        val polyFeats = if (hasPolys)
          Some(checkout(choroTileFeatures(f, region, choroMaxZ)))
        else None
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
        // `--extend-zooms-if-still-dropping`: decided ONCE per region from
        // the geometry (decade-independent), then reused by every decade
        val bz = EtlConfig.bubbleZoom(region)
        val bubbleMaxZ = if (bz.extend)
          Some(Tiling.extendMaxZoom(f, "lon", "lat",
            bz.maxZoom, bz.maxZoom + 2, budget = extendBudget))
        else None
        for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
          val maxZoomOut = math.max(bubbleMaxZ.getOrElse(bz.maxZoom), choroMaxZ)
          val meta = Map("name" -> s"$region-$decade",
            "type" -> "overlay",
            "minzoom" -> math.min(bz.minZoom, zoom.minZoom).toString,
            "maxzoom" -> maxZoomOut.toString,
            "layers" -> (s"$region-$decade-bubble" +
              (if (hasPolys) s",$region-$decade-choropleth" else ""))) ++
            bounds.map { case (x0, y0, x1, y1) =>
              Map("bounds" -> s"$x0,$y0,$x1,$y1",
                "center" -> s"${(x0 + x1) / 2},${(y0 + y1) / 2},$maxZoomOut")
            }.getOrElse(Map.empty)
          TileBuild.writePbfDirectory(decadeTileset(wide, f, polyFeats,
            inputType, decade, region, bubbleMaxZ), s"$out/$region/$decade", meta)
        }
      }
    }
    pivot
  }
}
