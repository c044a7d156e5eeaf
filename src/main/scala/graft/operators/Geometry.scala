package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoJSON geometry as Spark-native nested arrays — the parse half of the
  * reference's mapshaper/tippecanoe geometry stages
  * (`/root/reference/build.sh:111-118,139-160`).
  *
  * Representation: `ARRAY<ARRAY<ARRAY<ARRAY<DOUBLE>>>>` =
  * polygons → rings (ring 0 exterior, rest holes) → points → [lon, lat].
  * A GeoJSON `Polygon` normalizes to a 1-element polygons array, so
  * Polygon and MultiPolygon flow through one code path.
  *
  * Spark-first design notes (100 TB scale):
  *  - parsing is `get_json_object` + `from_json` — per-row codegen'd
  *    expressions, no UDF; the geometry string never leaves the row, so
  *    the only shuffle in any downstream tiling plan remains the
  *    per-tile groupBy.
  *  - bbox extraction is `flatten` + `transform` + `array_min/max` over
  *    the (small, per-feature) coordinate arrays.
  *  - tile-cover fan-out is explode(sequence(x0,x1)) × explode(sequence
  *    (y0,y1)) over the bbox range — a pure Generate chain, no join — with
  *    the bbox corners' tiles from the point fan's own projection
  *    ([[Tiling.tileX]]/[[Tiling.tileY]]). The fan-out factor is the
  *    feature's tile footprint, which is the output size of any tiling
  *    scheme, not overhead.
  */
object Geometry {

  private val ring: DataType = ArrayType(ArrayType(DoubleType))
  val polygonCoords: DataType = ArrayType(ring)        // rings -> pts -> xy
  val multiPolygonCoords: DataType = ArrayType(polygonCoords)

  /** Parse a GeoJSON geometry object string (`Polygon` or `MultiPolygon`)
    * into the normalized polygons array. Other geometry types yield null.
    */
  def parsePolygons(geomJson: Column): Column = {
    val typ = get_json_object(geomJson, "$.type")
    val coords = get_json_object(geomJson, "$.coordinates")
    when(typ === "MultiPolygon",
      from_json(coords, multiPolygonCoords))
      .when(typ === "Polygon",
        array(from_json(coords, polygonCoords)))
  }

  /** All [lon, lat] vertices of the polygons array (bbox input). */
  private def vertices(polygons: Column): Column = flatten(flatten(polygons))

  /** `df` plus the bbox columns (lon_min, lon_max, lat_min, lat_max) of
    * its polygons array `polygonsCol` — the input [[coverTiles]] fans
    * out from.
    */
  def withBbox(df: DataFrame, polygonsCol: String): DataFrame = {
    val pts = vertices(col(polygonsCol))
    val lons = transform(pts, p => element_at(p, 1))
    val lats = transform(pts, p => element_at(p, 2))
    df.withColumn("lon_min", array_min(lons))
      .withColumn("lon_max", array_max(lons))
      .withColumn("lat_min", array_min(lats))
      .withColumn("lat_max", array_max(lats))
  }

  /** T4 for area features: fan each polygon feature out to every (z,x,y)
    * tile its bbox covers, for z in [minZoom, maxZoom]. The bbox cover is
    * tippecanoe's candidate set; exact-intersection refinement happens in
    * the per-tile clip ([[graft.sinks.TileBuild.polygonTileFeatures]]),
    * where a feature whose clipped geometry is empty is dropped.
    *
    * Expects the [[withBbox]] columns to be present; emits z, x, y.
    */
  def coverTiles(df: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    val z = col("z")
    df.withColumn("z", explode(array((minZoom to maxZoom).map(lit): _*)))
      .withColumn("x0", Tiling.tileX(col("lon_min"), z))
      .withColumn("x1", Tiling.tileX(col("lon_max"), z))
      // north edge (lat_max) has the SMALLER tile y
      .withColumn("y0", Tiling.tileY(col("lat_max"), z))
      .withColumn("y1", Tiling.tileY(col("lat_min"), z))
      .withColumn("x", explode(sequence(col("x0"), col("x1"))))
      .withColumn("y", explode(sequence(col("y0"), col("y1"))))
      .drop("x0", "x1", "y0", "y1")
  }

  /** Interior point of one parsed polygons value: polylabel of the
    * largest-area exterior ring (mapshaper's largest-part rule). None
    * for degenerate geometry (no polygon with a non-empty exterior
    * ring) — at scale one malformed feature must drop, not kill the
    * executor task.
    */
  def interiorPoint(polys: Seq[Seq[Seq[Seq[Double]]]])
      : Option[(Double, Double)] = {
    val exteriors = polys.flatMap(_.headOption)
      .map(_.filter(_.length >= 2)).filter(_.nonEmpty)
    if (exteriors.isEmpty) None
    else {
      val outer = exteriors.maxBy(r => math.abs(ringArea(r)))
      Some(Tiling.polylabel(outer.map(p => (p(0), p(1)))))
    }
  }

  /** T1: stamp `lon`/`lat` interior-point (pole of inaccessibility)
    * columns per feature — `mapshaper -points inner` (`build.sh:111-118`)
    * — while CARRYING the polygons column through. Genuine per-row
    * imperative logic (priority-queue grid refinement), so this is one
    * narrow typed map — the documented last-resort tier of SURVEY.md
    * §2.11 — with no self-join and no shuffle. It feeds BOTH tile
    * layers: the polygons drive the choropleth build, the stamped point
    * drives the bubble build.
    */
  def withInteriorPoints(df: DataFrame, idCol: String, polygonsCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"),
        col(polygonsCol).cast(multiPolygonCoords.sql))
      .as[(String, Seq[Seq[Seq[Seq[Double]]]])]
      .flatMap { case (id, polys) =>
        interiorPoint(polys).map { case (ix, iy) => (id, polys, ix, iy) }
      }
      .toDF(idCol, polygonsCol, "lon", "lat")
  }

  /** Shoelace area of a [lon,lat] ring (sign = orientation). */
  def ringArea(ring: Seq[Seq[Double]]): Double = {
    var a = 0.0
    var i = 0
    val n = ring.length
    while (i < n) {
      val p = ring(i); val q = ring((i + 1) % n)
      a += p(0) * q(1) - q(0) * p(1)
      i += 1
    }
    a / 2.0
  }

  // ------------------------------------------------------------------
  // Per-tile polygon geometry (plain Scala, executor-side): the clip +
  // quantize half of tippecanoe's tile encode (`build.sh:139-160`).
  // These run once per (tile, feature) row in
  // [[graft.sinks.TileBuild.polygonTileFeatures]], after the bbox-cover
  // fan-out and before the one tile shuffle.

  /** Continuous web-mercator "world pixel" coordinates at zoom z: the
    * whole world spans [0, 2^z * extent) in both axes, y growing south.
    * Tile (x, y) owns the square [x*extent, (x+1)*extent) ×
    * [y*extent, (y+1)*extent). Un-rounded: the clip's space, where the
    * tile index and point pixel use the rounded Column projection
    * ([[Tiling.worldX]]/[[Tiling.worldY]]).
    */
  def worldPx(lon: Double, lat: Double, z: Int, extent: Int = 4096)
      : (Double, Double) = {
    val n = (1L << z).toDouble
    val latC = math.max(-Tiling.MaxLat, math.min(Tiling.MaxLat, lat))
    val latRad = math.toRadians(latC)
    val fx = (lon + 180.0) / 360.0 * n
    val fy = (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) /
      math.Pi) / 2.0 * n
    (fx * extent, fy * extent)
  }

  /** Sutherland–Hodgman clip of a polygon ring against the axis-aligned
    * rectangle [xmin,xmax]×[ymin,ymax]. Input may carry the GeoJSON
    * duplicate closing vertex (dropped); output is an open ring (no
    * duplicate close), possibly empty when the ring misses the rect.
    */
  def clipRing(ring: Seq[(Double, Double)], xmin: Double, ymin: Double,
               xmax: Double, ymax: Double): Seq[(Double, Double)] = {
    type P = (Double, Double)
    def clipHalf(pts: Seq[P], inside: P => Boolean,
                 cross: (P, P) => P): Seq[P] = {
      if (pts.isEmpty) return pts
      val out = scala.collection.mutable.ArrayBuffer.empty[P]
      var prev = pts.last
      var prevIn = inside(prev)
      pts.foreach { cur =>
        val curIn = inside(cur)
        if (curIn) {
          if (!prevIn) out += cross(prev, cur)
          out += cur
        } else if (prevIn) out += cross(prev, cur)
        prev = cur; prevIn = curIn
      }
      out.toSeq
    }
    def atX(x: Double)(a: P, b: P): P = {
      val t = (x - a._1) / (b._1 - a._1); (x, a._2 + t * (b._2 - a._2))
    }
    def atY(y: Double)(a: P, b: P): P = {
      val t = (y - a._2) / (b._2 - a._2); (a._1 + t * (b._1 - a._1), y)
    }
    var r = if (ring.length > 1 && ring.head == ring.last)
      ring.dropRight(1) else ring
    r = clipHalf(r, _._1 >= xmin, atX(xmin))
    r = clipHalf(r, _._1 <= xmax, atX(xmax))
    r = clipHalf(r, _._2 >= ymin, atY(ymin))
    r = clipHalf(r, _._2 <= ymax, atY(ymax))
    r
  }

  /** Twice the signed shoelace area of an integer ring (exact in Long).
    * MVT 2.1 convention (y down): positive ⇒ exterior winding.
    */
  def intArea2(ring: Seq[(Int, Int)]): Long = {
    var a = 0L
    var i = 0
    val n = ring.length
    while (i < n) {
      val p = ring(i); val q = ring((i + 1) % n)
      a += p._1.toLong * q._2 - q._1.toLong * p._2
      i += 1
    }
    a
  }

  /** Quantize a clipped world-px ring to the integer tile grid relative
    * to tile origin (ox, oy): round to [0, extent], drop consecutive
    * duplicates; empty when fewer than 3 distinct vertices remain or the
    * quantized area collapses to zero (tippecanoe drops such slivers
    * too).
    */
  def quantizeRing(ring: Seq[(Double, Double)], ox: Double, oy: Double,
                   extent: Int = 4096): Seq[(Int, Int)] = {
    val q = ring.map { case (x, y) =>
      (math.max(0, math.min(extent, math.round(x - ox).toInt)),
        math.max(0, math.min(extent, math.round(y - oy).toInt)))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    q.foreach { p => if (out.isEmpty || out.last != p) out += p }
    if (out.length > 1 && out.head == out.last) out.remove(out.length - 1)
    if (out.length < 3 || intArea2(out.toSeq) == 0L) Seq.empty else out.toSeq
  }

  /** Force MVT 2.1 winding: exterior rings positive area, holes
    * negative.
    */
  def orient(ring: Seq[(Int, Int)], exterior: Boolean): Seq[(Int, Int)] = {
    val a = intArea2(ring)
    if ((a > 0) == exterior) ring else ring.reverse
  }

  // ------------------------------------------------------------------
  // T3 shared-border detection — the detection half of tippecanoe's
  // `--detect-shared-borders` (`build.sh:148-152`): adjacent polygons
  // (county borders) share ring segments exactly; finding them is a
  // segment fan-out + one groupBy on the canonical segment key. (The
  // consume half — arc-consistent simplification — remains a documented
  // deviation, SURVEY.md §2.10.)

  /** All ring segments of a parsed polygons value as canonical
    * `struct(a, b)` pairs (endpoints ordered lexicographically, so the
    * two traversal directions of a shared border produce the SAME key).
    * Rings must be closed (GeoJSON invariant: first point repeated
    * last). Pure codegen'd collection expressions — no UDF.
    */
  def ringSegments(polygons: Column): Column = {
    val rings = flatten(polygons) // polygons -> all rings
    flatten(transform(rings, ring =>
      transform(slice(ring, lit(1), size(ring) - 1), (p, i) => {
        val q = element_at(ring, i + 2) // 1-based: the next vertex
        when(p < q, struct(p.as("a"), q.as("b")))
          .otherwise(struct(q.as("a"), p.as("b")))
      })))
  }

  /** T3: segments owned by ≥2 features. One explode + one aggregation on
    * the segment key — at 100 TB the shuffle carries only (segment key,
    * feature id), never geometry blobs.
    *
    * @return (seg struct(a,b), n_owners) rows for shared segments
    */
  def sharedBorders(df: DataFrame, idCol: String, polygonsCol: String)
      : DataFrame =
    df.select(col(idCol), explode(ringSegments(col(polygonsCol))).as("seg"))
      .groupBy("seg")
      .agg(count_distinct(col(idCol)).as("n_owners"))
      .filter(col("n_owners") >= 2)

  /** Per-feature shared-segment lists: each feature row gains a
    * `shared_segs` array of its OWN segments that some other feature
    * also owns (empty when none). One segment fan-out + the
    * [[sharedBorders]] aggregate + one equi-join back — geometry blobs
    * never shuffle, only (segment, id) pairs.
    */
  def withSharedSegments(df: DataFrame, idCol: String, polygonsCol: String)
      : DataFrame = {
    val segs = df.select(col(idCol),
      explode(ringSegments(col(polygonsCol))).as("seg"))
    val perFeature = segs.join(sharedBorders(df, idCol, polygonsCol).select("seg"),
        Seq("seg"), "left_semi")
      .groupBy(idCol)
      .agg(collect_set(array(col("seg.a"), col("seg.b"))).as("shared_segs"))
    df.join(perFeature, Seq(idCol), "left")
      .withColumn("shared_segs",
        coalesce(col("shared_segs"),
          lit(Array.empty[Array[Array[Double]]])))
  }

  // ------------------------------------------------------------------
  // T3 consume half — topology-aware simplification (the semantics of
  // tippecanoe `--detect-shared-borders`): a ring is split into runs of
  // shared vs private edges at junction vertices; each run simplifies
  // INDEPENDENTLY (junctions always survive), and shared runs simplify
  // in a canonical direction — so the two owners of a border compute the
  // IDENTICAL simplified polyline and simplification opens no gaps.

  private type P = (Double, Double)

  /** Split an OPEN ring (no duplicate closing vertex) into maximal runs
    * of edges with equal shared-flag. Each run is (flag, vertices); a
    * run's last vertex is the next run's first. A ring whose edges all
    * carry one flag yields a single cyclic run rotated to its
    * lexicographically-smallest vertex (both owners rotate identically —
    * determinism for fully-shared rings).
    */
  private[operators] def splitRuns(ring: IndexedSeq[P],
                                   flags: IndexedSeq[Boolean])
      : Seq[(Boolean, IndexedSeq[P])] = {
    val n = ring.length
    val boundary = (0 until n).find(i => flags((i + n - 1) % n) != flags(i))
    boundary match {
      case None =>
        val start = ring.indices.minBy(ring)
        val rotated = (ring.drop(start) ++ ring.take(start)) :+ ring(start)
        Seq((flags(0), rotated))
      case Some(s) =>
        val runs = scala.collection.mutable.ArrayBuffer
          .empty[(Boolean, IndexedSeq[P])]
        var runStart = 0
        val idx = (0 until n).map(i => (s + i) % n)
        val rotFlags = (0 until n).map(i => flags(idx(i)))
        val rotRing = (0 until n).map(i => ring(idx(i)))
        for (i <- 1 until n)
          if (rotFlags(i) != rotFlags(i - 1)) {
            runs += ((rotFlags(runStart),
              (runStart to i).map(rotRing) ))
            runStart = i
          }
        runs += ((rotFlags(runStart),
          (runStart until n).map(rotRing) :+ rotRing(0)))
        runs.toSeq
    }
  }

  /** Simplify one run: shared runs run Douglas-Peucker in canonical
    * (endpoint-ordered) direction so both owners agree vertex-for-vertex
    * even where DP tie-breaking is direction-dependent.
    */
  private def simplifyRun(flag: Boolean, vs: IndexedSeq[P],
                          tolerance: Double): Seq[P] =
    if (!flag) Tiling.simplify(vs, tolerance)
    else if (Ordering[P].lteq(vs.head, vs.last)) Tiling.simplify(vs, tolerance)
    else Tiling.simplify(vs.reverse, tolerance).reverse

  /** Shared-border-aware ring simplification: `flags(i)` marks edge
    * (ring(i), ring(i+1 mod n)) as shared. Returns the OPEN simplified
    * ring; junction vertices (flag changes) always survive.
    */
  def simplifySharedAware(ring: IndexedSeq[P], flags: IndexedSeq[Boolean],
                          tolerance: Double): Seq[P] = {
    if (ring.length < 3) return ring
    val runs = splitRuns(ring, flags)
    val out = runs.flatMap { case (flag, vs) =>
      simplifyRun(flag, vs, tolerance).dropRight(1)
    }
    out
  }
}
