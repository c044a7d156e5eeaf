package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Geometry, TextStats, Tiling}

/** Tile-pyramid build + sink: the Spark re-expression of the reference's
  * tippecanoe → tile-join → `--output-to-directory` chain
  * (`/root/reference/build.sh:129-134,155-160,219-228`).
  *
  * Spark-first design notes (100 TB scale):
  *  - features fan out to tile keys ([[Tiling.assignTiles]]), then ONE
  *    `groupBy(decade,z,x,y)` shuffle brings each tile's features of
  *    every layer together and one per-group fold encodes the MVT bytes
  *    ([[encodeTiles]] — `mapGroups` over the KeyValueGroupedDataset,
  *    the typed-Aggregator shape from SURVEY.md §2.11). A region's
  *    whole tree (both decades, bubble + choropleth) is one such
  *    shuffle; a single-layer build is the same kernel with one layer.
  *  - per-tile feature order is pinned (importance desc, id) so tile
  *    bytes are deterministic; the density budget (O4) is applied
  *    BEFORE the shuffle would explode — the window prunes map-side via
  *    WindowGroupLimit. NB: that rewrite only fires when the budget ≤
  *    `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000);
  *    every session builder in this repo raises it to 100000 so the
  *    default 10000 budget stays rank-limit-optimizable — keep that
  *    conf when embedding the library elsewhere.
  *  - the directory sink writes `[decade/]z/x/y.pbf` straight from
  *    executors (one `foreachPartition`, [[writeTiles]]), exactly the
  *    reference's exploded tile tree (`build.sh:220`); on a cluster the
  *    same code targets a shared filesystem / object store.
  */
object TileBuild {

  /** Per-tile feature-COUNT cap (the density budget), applied map-side
    * BEFORE the tile shuffle — bounds shuffle fan-in.
    */
  val FeatureBudget = 10000

  /** Per-tile encoded-BYTE cap, applied at encode time — tippecanoe's
    * `--drop-densest-as-needed` semantics are a tile size budget
    * (`build.sh:124-126`; tippecanoe default 500K).
    */
  val ByteBudget: Int = 500 * 1024

  /** Encode point features into per-tile MVT byte blobs: one point layer
    * through [[encodeTiles]].
    *
    * @param points     DataFrame with id, lon, lat and `attrCols`
    * @param attrCols   attribute columns carried into tiles (null cells
    *                   dropped per-feature — `--empty-csv-columns-are-null`)
    * @param budget     per-tile feature-COUNT cap ([[FeatureBudget]])
    * @param byteBudget per-tile encoded-BYTE cap ([[ByteBudget]])
    * @param baseZoom   tippecanoe `--base-zoom` (`build.sh:121-126`), see
    *                   [[pointTileFan]]
    * @return DataFrame (z, x, y, n_features, tile_bytes)
    */
  def buildPointTiles(points: DataFrame, idCol: String, lonCol: String,
                      latCol: String, attrCols: Seq[String], layerName: String,
                      minZoom: Int, maxZoom: Int,
                      importanceCol: Option[String] = None,
                      budget: Int = FeatureBudget,
                      byteBudget: Int = ByteBudget,
                      baseZoom: Option[Int] = None): DataFrame = {
    val attrPairs = attrCols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    encodeTiles(pointTileRows(points, idCol, lonCol, latCol, minZoom, maxZoom,
        importanceCol, budget, baseZoom).withColumn("attrs", map(attrPairs: _*))
        .withColumn("decade", lit("")).withColumn("layer", lit(0)),
      Seq(Layer(_ => layerName, polygons = false)), byteBudget).drop("decade")
  }

  /** The decade-independent half of the point build: [[pointTileFan]],
    * MVT pixel coordinates, the density budget ([[Tiling.dropDensest]],
    * map-side). Adds z, x, y, density_rank, the long `fid` and the point
    * in [[encodeTiles]]' wire format (`rings_flat` = [px, py],
    * `ring_sizes` = [1]).
    */
  private[graft] def pointTileRows(points: DataFrame, idCol: String,
                                   lonCol: String, latCol: String,
                                   minZoom: Int, maxZoom: Int,
                                   importanceCol: Option[String] = None,
                                   budget: Int = FeatureBudget,
                                   baseZoom: Option[Int] = None): DataFrame = {
    val assigned = pointTileFan(points, idCol, lonCol, latCol, minZoom,
      maxZoom, baseZoom)
    // pixel coords per zoom: computed per-row from the already-assigned z
    val withPx = assigned.withColumn("fx",
        round((col(lonCol) + 180.0) / 360.0 * pow(lit(2.0), col("z")), 6))
      .withColumn("latc",
        least(lit(Tiling.MaxLat), greatest(lit(-Tiling.MaxLat), col(latCol))))
      .withColumn("fy",
        round((lit(1.0) - log(tan(radians(col("latc"))) + lit(1.0) / cos(radians(col("latc"))))
          / lit(math.Pi)) / 2.0 * pow(lit(2.0), col("z")), 6))
      // clamp: tile x/y are clamped to [0, n-1] but fx/fy are not, so the
      // antimeridian (lon=180) / south-clamp (merc=1) edge lands at pixel
      // 4096 — one past the MVT extent. Pin to [0, 4095].
      .withColumn("px", least(lit(4095), greatest(lit(0),
        floor((col("fx") - col("x")) * 4096))).cast("int"))
      .withColumn("py", least(lit(4095), greatest(lit(0),
        floor((col("fy") - col("y")) * 4096))).cast("int"))
    Tiling.dropDensest(withPx, col(importanceCol.getOrElse(idCol)), col(idCol),
        budget)
      .withColumn("fid", col(idCol).cast("long"))
      .withColumn("rings_flat", array(col("px"), col("py")))
      .withColumn("ring_sizes", array(lit(1)))
  }

  /** The tiles a point lands in: one row per (z, x, y), z in
    * [minZoom, maxZoom] ([[Tiling.assignTiles]]); below `baseZoom` only
    * the rows tippecanoe's `--base-zoom` keeps ([[Tiling.baseZoomKeep]],
    * keyed on the hash of the id's string form, BEFORE the tile
    * shuffle). [[buildPointTiles]] encodes these rows and
    * [[graft.Incremental.featureTileFan]] reads them as the tiles a
    * changed feature touches.
    */
  private[graft] def pointTileFan(points: DataFrame, idCol: String,
                                  lonCol: String, latCol: String,
                                  minZoom: Int, maxZoom: Int,
                                  baseZoom: Option[Int]): DataFrame = {
    val fanned = Tiling.assignTiles(points, lonCol, latCol, minZoom, maxZoom)
    baseZoom match {
      case Some(bz) if bz > minZoom => fanned.filter(Tiling.baseZoomKeep(
        TextStats.hash60(col(idCol).cast("string")), col("z"), minZoom, bz))
      case _ => fanned
    }
  }

  /** The tiles a polygon feature is a candidate for: one row per
    * (z, x, y) its bbox covers ([[Geometry.withBbox]] →
    * [[Geometry.coverTiles]]), with `polygonsCol` dropped.
    * [[polygonTileFeatures]] refines these rows by clipping and
    * [[graft.Incremental.featureTileFan]] reads them as the tiles a
    * changed feature may touch — a superset of the encoded ones.
    */
  private[graft] def polygonTileFan(polys: DataFrame, polygonsCol: String,
                                    minZoom: Int, maxZoom: Int): DataFrame =
    Geometry.coverTiles(Geometry.withBbox(polys, polygonsCol).drop(polygonsCol),
      minZoom, maxZoom)

  // -------------------------------------------------------------------
  // Flattened geometry wire format. The per-(tile, feature) rows that
  // cross the tile shuffle carried array<array<array<array<double>>>> —
  // and the Catalyst codec for nested Seqs was measured at ~95% of the
  // whole tile-build kernel's cost (the geometry math is cheap). The
  // shuffle rows now carry primitive arrays (coords interleaved
  // lon,lat; per-ring point counts; per-polygon ring counts), which use
  // the fast primitive-array encoders, and the nested structure is
  // rebuilt with plain Scala inside the kernel.

  /** coords/sizes → the nested polygons layout [[tileRings]] consumes. */
  private def unflatten(coords: Array[Double], ringSizes: Array[Int],
                        polySizes: Array[Int]): Seq[Seq[Seq[Seq[Double]]]] = {
    val polys = Vector.newBuilder[Seq[Seq[Seq[Double]]]]
    var ri = 0
    var ci = 0
    var pi = 0
    while (pi < polySizes.length) {
      val rings = Vector.newBuilder[Seq[Seq[Double]]]
      var r = 0
      while (r < polySizes(pi)) {
        val npts = ringSizes(ri); ri += 1
        val pts = new Array[Seq[Double]](npts)
        var j = 0
        while (j < npts) {
          pts(j) = Seq(coords(ci), coords(ci + 1)); ci += 2; j += 1
        }
        rings += scala.collection.immutable.ArraySeq.unsafeWrapArray(pts)
        r += 1
      }
      polys += rings.result()
      pi += 1
    }
    polys.result()
  }

  /** Flat (ax,ay,bx,by)* segment array → canonical segment set. */
  private def toSegSetFlat(flat: Array[Double])
      : Set[((Double, Double), (Double, Double))] = {
    val b = Set.newBuilder[((Double, Double), (Double, Double))]
    var i = 0
    while (i + 3 < flat.length) {
      b += (((flat(i), flat(i + 1)), (flat(i + 2), flat(i + 3))))
      i += 4
    }
    b.result()
  }

  /** Add the flat wire format of the nested polygons + shared_segs
    * columns (shared_segs dropped; [[polygonTileFan]] drops the
    * polygons) — applied BEFORE the tile fan-out, so the flattening
    * runs once per FEATURE and only primitive arrays ride the
    * per-(tile, feature) rows into the shuffle.
    */
  private def withFlatGeom(df: DataFrame, polygonsCol: String): DataFrame =
    df.withColumn("coords", flatten(flatten(flatten(col(polygonsCol)))))
      .withColumn("ring_sizes", flatten(transform(col(polygonsCol),
        p => transform(p, r => size(r)))))
      .withColumn("poly_sizes", transform(col(polygonsCol), p => size(p)))
      .withColumn("shared_flat", flatten(flatten(col("shared_segs"))))
      .drop("shared_segs")

  /** The per-(tile, feature) geometry kernel of [[polygonTileFeatures]]:
    * project → simplify → clip → quantize → MVT winding.
    * Empty result ⇒ the feature misses this tile.
    *
    * With `sharedSegs` (T3 `--detect-shared-borders` consume half), the
    * ring is split at junction vertices into shared/private runs and
    * each run simplifies independently — shared runs in canonical
    * direction, so the border's two owners emit identical simplified
    * polylines (gap-free across features, per zoom).
    */
  private def tileRings(z: Int, x: Long, y: Long,
                        polygons: Seq[Seq[Seq[Seq[Double]]]],
                        simplifyPx: Double,
                        sharedSegs: Option[Set[((Double, Double), (Double, Double))]] = None)
      : Seq[Seq[(Int, Int)]] = {
    val ox = x * 4096.0; val oy = y * 4096.0
    polygons.flatMap { poly =>
      val quantized = poly.map { ring =>
        val simp = sharedSegs match {
          case Some(set) if simplifyPx > 0 =>
            // open the ring; flags from LONLAT canonical pairs, geometry
            // simplified in projected world-px (same tolerance space as
            // the plain path)
            val open = if (ring.length > 1 && ring.head == ring.last)
              ring.dropRight(1) else ring
            val pts = open.map(p => (p(0), p(1))).toIndexedSeq
            val flags = pts.indices.map { i =>
              val a = pts(i); val b = pts((i + 1) % pts.length)
              val canon = if (Ordering[(Double, Double)].lteq(a, b)) (a, b)
                          else (b, a)
              set.contains(canon)
            }
            val proj = pts.map { case (lo, la) => Geometry.worldPx(lo, la, z) }
            Geometry.simplifySharedAware(proj, flags, simplifyPx)
          case _ =>
            val proj = ring.map(p => Geometry.worldPx(p(0), p(1), z))
            if (simplifyPx > 0) Tiling.simplify(proj, simplifyPx) else proj
        }
        Geometry.quantizeRing(
          Geometry.clipRing(simp, ox, oy, ox + 4096, oy + 4096), ox, oy)
      }
      // exterior gone ⇒ whole polygon gone; holes keep MVT winding
      if (quantized.isEmpty || quantized.head.isEmpty) Seq.empty
      else Geometry.orient(quantized.head, exterior = true) +:
        quantized.tail.filter(_.nonEmpty)
          .map(Geometry.orient(_, exterior = false))
    }
  }

  /** Stage 1 of the polygon build — the choropleth half of the
    * reference's tippecanoe stage (`build.sh:139-160`: mapshaper simplify
    * → tippecanoe polygon tiles), everything DECADE-INDEPENDENT.
    * Candidate tiles come from the bbox cover ([[Geometry.coverTiles]],
    * a pure Generate fan-out), capped map-side at [[FeatureBudget]] per
    * tile (importance = the id) like the point path; each (tile,
    * feature) row is then refined: project rings to world pixels,
    * per-zoom Douglas-Peucker simplify (pixel tolerance is zoom-scaled
    * for free because pixel space doubles per zoom), Sutherland–Hodgman
    * clip to the tile square, quantize to the 4096 grid, drop
    * empty/sliver rings — a feature whose clipped exterior vanishes
    * misses the tile (bbox-cover false positives on diagonal shapes).
    *
    * The reference builds its base choropleth tileset exactly once and
    * then `tile-join`s each decade's CSV onto it (`:208-211` per
    * decade); checking this stage's output out once and joining each
    * decade's attributes onto it before the one encode shuffle
    * ([[graft.Pipeline.regionTiles]]) reproduces that shape — the
    * geometry pipeline (the expensive half) never re-runs.
    *
    * @param polys         DataFrame with id and a parsed polygons column
    *                      ([[Geometry.parsePolygons]] layout:
    *                      polygons→rings→points→[lon,lat])
    * @param simplifyPx    Douglas-Peucker tolerance in tile pixels (the
    *                      tippecanoe `--simplification` knob; 0 disables)
    * @param sharedBorders `--detect-shared-borders`: shared segments are
    *                      found over THIS frame, so pass the full feature
    *                      table, before any attribute join
    * @return (z, x, y, density_rank, fid, rings_flat, ring_sizes) —
    *         tile-local integer rings in MVT winding order, flattened
    *         (interleaved x,y + per-ring point counts: the primitive-
    *         array wire format, see [[unflatten]] notes)
    */
  def polygonTileFeatures(polys: DataFrame, idCol: String,
                          polygonsCol: String, minZoom: Int, maxZoom: Int,
                          simplifyPx: Double = 1.0,
                          sharedBorders: Boolean = false): DataFrame = {
    val spark = polys.sparkSession
    import spark.implicits._
    val withShared =
      if (sharedBorders) Geometry.withSharedSegments(polys, idCol, polygonsCol)
      else polys.withColumn("shared_segs",
        typedLit(Seq.empty[Seq[Seq[Double]]]))
    val budgeted = Tiling.dropDensest(
      polygonTileFan(withFlatGeom(withShared, polygonsCol), polygonsCol,
        minZoom, maxZoom),
      col(idCol), col(idCol), FeatureBudget)
    val rows = budgeted.select(col("z").cast("int"), col("x"), col("y"),
      col("density_rank"), col(idCol).cast("long").as("fid"),
      col("coords"), col("ring_sizes"), col("poly_sizes"), col("shared_flat"))

    rows.as[(Int, Long, Long, Int, Long, Array[Double], Array[Int], Array[Int], Array[Double])]
      .map { case (z, x, y, rank, fid, coords, ringSizes, polySizes, sharedFlat) =>
        val rings = tileRings(z, x, y,
          unflatten(coords, ringSizes, polySizes), simplifyPx,
          if (sharedBorders) Some(toSegSetFlat(sharedFlat)) else None)
        val flat = new Array[Int](rings.map(_.length).sum * 2)
        var i = 0
        rings.foreach(_.foreach { p =>
          flat(i) = p._1; flat(i + 1) = p._2; i += 2
        })
        (z, x, y, rank, fid, flat, rings.map(_.length).toArray)
      }
      .toDF("z", "x", "y", "density_rank", "fid", "rings_flat", "ring_sizes")
      .filter(size(col("rings_flat")) > 0)
  }

  /** Stage 2 — MVT encode: one polygon layer through [[encodeTiles]];
    * tiles left with zero features are dropped. The input is
    * [[polygonTileFeatures]]' output plus an `attrs` map column — the
    * pipeline attaches it with the per-decade `tile-join --if-matched`
    * join on fid (`build.sh:208`, [[graft.Pipeline.choroDecadeEncode]]).
    *
    * @param coalesce over-budget strategy: true =
    *                 `--coalesce-smallest-as-needed` (merge attr-identical
    *                 features, keep coverage — the reference's choropleth
    *                 setting), false = `--drop-densest-as-needed` prefix
    *                 drop
    * @return DataFrame (z, x, y, n_features, tile_bytes)
    */
  def encodePolygonTiles(tileFeatures: DataFrame, layerName: String,
                         coalesce: Boolean = false): DataFrame =
    encodeTiles(tileFeatures.withColumn("decade", lit(""))
        .withColumn("layer", lit(0)),
      Seq(Layer(_ => layerName, polygons = true, coalesce = coalesce)))
      .drop("decade")

  /** One MVT layer of [[encodeTiles]]: rows tagged `layer = i` encode as
    * `layers(i)`, named `name(decade)`. A polygon layer that kept no
    * feature is left out of its tile; a point layer always encodes.
    */
  private[graft] final case class Layer(name: String => String,
                                        polygons: Boolean,
                                        coalesce: Boolean = false)

  /** One (tile, feature) row of [[encodeTiles]]. */
  private type TileRow = (String, Int, Long, Long, Int, Int, Long, Array[Int],
    Array[Int], Map[String, String])

  /** THE encode kernel of every tile build: ONE `groupBy(decade, z, x,
    * y)` shuffle brings a tile's rows of every layer together, and one
    * `mapGroups` fold encodes each layer in `layers` order — features in
    * (density_rank, fid) order, over budget through
    * [[coalesceToByteBudget]] or [[fitToByteBudget]] — and concatenates
    * the layers at the protobuf level (the J3 `tile-join` merge,
    * `build.sh:214`). A tile none of whose layers encodes is dropped.
    *
    * @param rows (decade, z, x, y, layer, density_rank, fid, rings_flat,
    *             ring_sizes, attrs), geometry in [[polygonTileFeatures]]'
    *             flat wire format (a point is a one-point ring); a
    *             single-layer build passes an empty `decade`
    * @return (decade, z, x, y, n_features, tile_bytes)
    */
  private[graft] def encodeTiles(rows: DataFrame, layers: Seq[Layer],
                                 byteBudget: Int = ByteBudget): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select("decade", "z", "x", "y", "layer", "density_rank", "fid",
        "rings_flat", "ring_sizes", "attrs")
      .as[TileRow]
      .groupByKey(t => (t._1, t._2, t._3, t._4))
      .mapGroups { (key: (String, Int, Long, Long), it: Iterator[TileRow]) =>
        val byLayer = it.toSeq.groupBy(_._5)
        var kept = 0
        val parts = layers.indices.flatMap { i =>
          byLayer.get(i).flatMap { rs =>
            val layer = layers(i)
            val geomType = if (layer.polygons) Mvt.PolygonGeom else Mvt.PointGeom
            // pinned order: density_rank already encodes (importance desc,
            // tie id) — renderers that draw/drop in feature order see the
            // most important features first (tippecanoe discipline)
            val feats = rs.sortBy(t => (t._6, t._7)).map { t =>
              val (flat, ringSizes) = (t._8, t._9)
              var ci = 0
              val rings = ringSizes.toIndexedSeq.map { n =>
                val ring = new Array[(Int, Int)](n)
                var j = 0
                while (j < n) { ring(j) = (flat(ci), flat(ci + 1)); ci += 2; j += 1 }
                scala.collection.immutable.ArraySeq.unsafeWrapArray(ring): Seq[(Int, Int)]
              }
              Mvt.Feature(t._7, geomType, rings,
                t._10.toSeq.filter(_._2 != null).sortBy(_._1))
            }
            val name = layer.name(key._1)
            val (n, bytes) =
              if (layer.coalesce) coalesceToByteBudget(name, feats, byteBudget)
              else fitToByteBudget(name, feats, byteBudget)
            kept += n
            if (n > 0 || !layer.polygons) Some(bytes) else None
          }
        }
        (key._1, key._2, key._3, key._4, kept,
          if (parts.isEmpty) null else Array.concat(parts: _*))
      }
      .toDF("decade", "z", "x", "y", "n_features", "tile_bytes")
      .filter(col("tile_bytes").isNotNull)
  }

  /** `--coalesce-smallest-as-needed` (`build.sh:139-160`): when a tile
    * overflows its byte budget, MERGE attribute-identical features into
    * one multi-ring feature — smallest (fewest vertices) groups first —
    * instead of dropping coverage; only if every mergeable group is
    * coalesced and the tile still overflows does it fall back to the
    * importance-ordered prefix drop. Merging strictly shrinks the
    * encoding (duplicate ids/tags/geometry headers collapse), so the
    * "how many groups to coalesce" search is binary, O(log n) encodes.
    * Returns (kept feature count after merging, layer bytes).
    */
  private[graft] def coalesceToByteBudget(layerName: String,
                                          feats: Seq[Mvt.Feature],
                                          byteBudget: Int): (Int, Array[Byte]) = {
    val full = Mvt.encodeLayer(layerName, feats)
    if (full.length <= byteBudget) return (feats.length, full)
    // mergeable groups: ≥2 features sharing the exact attr list,
    // smallest total vertex count first (deterministic tie on min id)
    val groups = feats.zipWithIndex.groupBy(_._1.attrs).values
      .filter(_.length >= 2).toSeq
      .sortBy(g => (g.map(_._1.rings.map(_.length).sum).sum, g.map(_._1.id).min))
    def coalesced(k: Int): Seq[Mvt.Feature] = {
      val merged = groups.take(k).map { g =>
        val members = g.sortBy(_._2) // keep importance order
        (members.head._2, Mvt.Feature(members.map(_._1.id).min,
          Mvt.PolygonGeom, members.flatMap(_._1.rings), members.head._1.attrs))
      }.toMap
      val dropIdx = groups.take(k).flatMap(_.drop(1).map(_._2)).toSet
      feats.indices.collect {
        case i if merged.contains(i) => merged(i)
        case i if !dropIdx.contains(i) && !merged.contains(i) => feats(i)
      }
    }
    // everything coalesced and still over budget ⇒ fall back to drop
    val allMerged = coalesced(groups.length)
    val allEnc = Mvt.encodeLayer(layerName, allMerged)
    if (allEnc.length > byteBudget)
      return fitToByteBudget(layerName, allMerged, byteBudget)
    // smallest k whose encoding fits (k=0 overflows, k=|groups| fits)
    var lo = 1; var hi = groups.length
    var best = allMerged; var bytes = allEnc
    while (lo < hi) {
      val mid = (lo + hi) / 2
      val cand = coalesced(mid)
      val enc = Mvt.encodeLayer(layerName, cand)
      if (enc.length <= byteBudget) { hi = mid; best = cand; bytes = enc }
      else lo = mid + 1
    }
    (best.length, bytes)
  }

  /** Drop-densest on a BYTE budget: the largest importance-ordered
    * prefix of `feats` whose encoded layer fits `byteBudget`. Encoded
    * size is monotone in prefix length (key/value interning only ever
    * adds bytes), so a binary search needs O(log n) re-encodes — and
    * only for tiles that actually overflow.
    * Returns (kept feature count, layer bytes).
    */
  private[graft] def fitToByteBudget(layerName: String,
                                     feats: Seq[Mvt.Feature],
                                     byteBudget: Int): (Int, Array[Byte]) = {
    val full = Mvt.encodeLayer(layerName, feats)
    if (full.length <= byteBudget) return (feats.length, full)
    var lo = 0 // invariant: prefix of length lo fits (empty layer best-effort)
    var hi = feats.length // invariant: prefix of length hi overflows
    var best = Mvt.encodeLayer(layerName, Seq.empty)
    while (lo + 1 < hi) {
      val mid = (lo + hi) / 2
      val enc = Mvt.encodeLayer(layerName, feats.take(mid))
      if (enc.length <= byteBudget) { lo = mid; best = enc } else hi = mid
    }
    (lo, best)
  }

  /** S7: explode tiles to a `z/x/y.pbf` directory tree + metadata.json
    * (`build.sh:219-228`) — [[writeTiles]] over (z, x, y, tile_bytes),
    * then [[writeMetadataJson]].
    */
  def writePbfDirectory(tiles: DataFrame, outDir: String,
                        metadata: Map[String, String] = Map.empty): Unit = {
    writeTiles(tiles, outDir, Seq("z", "x", "y"))
    writeMetadataJson(tiles.sparkSession, outDir, metadata)
  }

  /** The one tile writer: each row's `tile_bytes` lands at
    * `outDir/l1/…/ln.pbf`, its values of the `levels` columns — (z, x, y)
    * for one tileset, (decade, z, x, y) for a region's whole tree
    * ([[graft.Pipeline.regionTiles]]) — in one `foreachPartition` pass.
    * Executors write THROUGH THE HADOOP FILESYSTEM API, so `outDir`
    * takes any configured scheme (a local path, hdfs://, s3a:// — the
    * reference deploys the tree to an object store,
    * `deploy-source.sh:38-45`); the session's Hadoop conf ships to
    * executors as plain entries, and checksum sidecars are off so the
    * local layout holds only the tiles. SchemeFsSpec proves the seam
    * through a foreign `mock://` filesystem.
    */
  private[graft] def writeTiles(tiles: DataFrame, outDir: String,
                                levels: Seq[String]): Unit = {
    // Configuration is not serializable: ship the entries BROADCAST
    // (once per executor, not per task — ~100 KB of strings); the
    // per-partition cost is one fsCache lookup after the first
    // partition of a given (scheme, authority, conf) builds the client
    val confEntries = tiles.sparkSession.sparkContext.broadcast {
      val c = tiles.sparkSession.sessionState.newHadoopConf()
      val it = c.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
      buf.toSeq
    }
    // the ~100 KB conf broadcast is per-CALL state: destroy it once the
    // action finishes, success or failure
    try {
      val n = levels.size
      tiles.select((levels :+ "tile_bytes").map(col): _*).foreachPartition {
        (it: Iterator[Row]) =>
          // cached per executor JVM — do NOT close; see [[ExecutorFs]]
          val fs = ExecutorFs.forPath(confEntries.value, outDir)
          it.foreach { r =>
            writeFile(fs, new Path(
              (0 until n).map(r.get).mkString(s"$outDir/", "/", ".pbf")),
              r.getAs[Array[Byte]](n))
          }
      }
    } finally confEntries.destroy()
  }

  /** A tileset's `metadata.json` (tile-join's flat string map, plus
    * `"format": "pbf"`), written once, not per task.
    */
  private[graft] def writeMetadataJson(spark: SparkSession, outDir: String,
                                       metadata: Map[String, String]): Unit = {
    val meta = (metadata + ("format" -> "pbf"))
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    val fs = FileSystem.newInstance(new Path(outDir).toUri,
      spark.sessionState.newHadoopConf())
    try {
      fs.setWriteChecksum(false)
      writeFile(fs, new Path(s"$outDir/metadata.json"), meta.getBytes("UTF-8"))
    } finally fs.close()
  }

  /** Makes `path`'s parents and truncate-overwrites it — the idempotent
    * re-run contract Incremental relies on. On local disk this goes
    * through java.nio: without the native Hadoop library, the local
    * filesystem's `create` forks a `chmod` for the file and for every
    * directory it makes (~5 ms each); java.nio gives the same bytes and,
    * under the default umask, the same modes.
    */
  private def writeFile(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    def writeLocal(file: java.io.File): Unit = {
      Files.createDirectories(file.toPath.getParent)
      Files.write(file.toPath, bytes)
    }
    fs match {
      case raw: RawLocalFileSystem => writeLocal(raw.pathToFile(path))
      case checked: LocalFileSystem => writeLocal(checked.pathToFile(path))
      case _ =>
        val out = fs.create(path, true)
        try out.write(bytes) finally out.close()
    }
  }
}

/** Executor-JVM-wide cache of PRIVATE checksum-disabled FileSystem
  * instances, keyed by (scheme, authority, conf fingerprint): one client
  * per scheme per JVM (an object-store client build costs tens of ms per
  * partition otherwise), without mutating the checksum flag of Hadoop's
  * SHARED cached instance. Instances live for the executor's life; a
  * conf change mints a new key, so a stale instance never serves fresh
  * credentials.
  */
private[sinks] object ExecutorFs {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), org.apache.hadoop.fs.FileSystem]()

  def forPath(entries: Seq[(String, String)],
              dir: String): org.apache.hadoop.fs.FileSystem = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    val key = (String.valueOf(uri.getScheme),
      String.valueOf(uri.getAuthority), entries.hashCode)
    cache.computeIfAbsent(key, _ => {
      val conf = new org.apache.hadoop.conf.Configuration(true)
      entries.foreach { case (k, v) => conf.set(k, v) }
      // newInstance, NOT the process-wide cached FileSystem: the
      // checksum flag below would otherwise silently disable .crc
      // sidecars for every other writer of this scheme in the JVM
      // (r17 ADVICE) — the private instance lives in this cache
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
      // no .crc sidecars in the tree (LocalFileSystem is checksummed
      // by default; object stores ignore this)
      fs.setWriteChecksum(false)
      fs
    })
  }
}
