package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tile-pyramid operators: slippy-map tile assignment, per-tile density
  * ranking, and interior-point computation.
  *
  * Reference semantics:
  *  - T4 tile assignment: tippecanoe maps each feature to every (z,x,y)
  *    tile it intersects for z ∈ [minzoom, maxzoom]
  *    (`/root/reference/build.sh:121-134,147-160`);
  *  - O4 density drop: `--drop-densest-as-needed` keeps the most
  *    important features per tile under a size budget
  *    (`build.sh:124-126,149-152`);
  *  - T1 interior point: `mapshaper -points inner` — a point guaranteed
  *    inside the polygon (`build.sh:114`), ≈ pole of inaccessibility.
  *
  * Spark-first design notes (100 TB scale):
  *  - tile assignment is a pure per-row projection + `explode` fan-out
  *    (a `Generator`, no custom UDTF needed); the per-zoom fan-out
  *    factor is bounded by the zoom range, and the subsequent
  *    `groupBy(z,x,y)` is the tile-build shuffle — the ONE unavoidable
  *    shuffle of the tiling pipeline (`SURVEY.md §3.1`).
  *  - ONE Column-level web-mercator projection ([[worldX]]/[[worldY]],
  *    zoom as a column) feeds the point fan ([[assignTiles]]), the
  *    polygon bbox cover ([[Geometry.coverTiles]]) and the point pixel
  *    ([[pixelIn]]). It rounds to 6 decimals BEFORE floor so the tile id
  *    is reproducible across libm implementations (JVM vs the oracle's C
  *    library); a documented deviation of < 1e-6 tiles only matters for
  *    points within ~10 cm of a tile edge. The clip's un-rounded
  *    projection is [[Geometry.worldPx]].
  *  - polylabel (pole of inaccessibility) is a driver-free per-row
  *    computation implemented as a typed map; the centroid fast path is
  *    a plain aggregate.
  */
object Tiling {

  /** Web-mercator latitude limit (tile y in [0, 2^z)). */
  val MaxLat = 85.05112878

  /** T4: the rounded web-mercator x of a longitude at zoom `z`, in tile
    * units: the one projection behind the tile index ([[tileX]]) and the
    * point's pixel ([[pixelIn]]), rounded before any floor (class doc).
    */
  def worldX(lon: Column, z: Column): Column =
    round((lon + 180.0) / 360.0 * tilesPerAxis(z), 6)

  /** T4: the rounded web-mercator y of a latitude at zoom `z`, in tile
    * units (y grows south; the latitude clamps to ±[[MaxLat]]).
    */
  def worldY(lat: Column, z: Column): Column = {
    val latRad = radians(least(lit(MaxLat), greatest(lit(-MaxLat), lat)))
    round((lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / lit(math.Pi)) /
      2.0 * tilesPerAxis(z), 6)
  }

  /** 2^z as a long column. */
  private def tilesPerAxis(z: Column): Column = pow(lit(2.0), z).cast("long")

  /** The tile index of a [[worldX]]/[[worldY]] coordinate, clamped to
    * [0, 2^z - 1].
    */
  private def tileOf(w: Column, z: Column): Column =
    least(tilesPerAxis(z) - 1, greatest(lit(0L), floor(w).cast("long")))

  /** T4: tile x index for a longitude at zoom z. */
  def tileX(lon: Column, z: Column): Column = tileOf(worldX(lon, z), z)

  /** T4: tile y index for a latitude at zoom z. */
  def tileY(lat: Column, z: Column): Column = tileOf(worldY(lat, z), z)

  /** The MVT pixel (extent 4096) of a [[worldX]]/[[worldY]] coordinate
    * inside `tile`, its clamped index: the antimeridian (lon=180) and the
    * south clamp reach fraction 1.0 of the last tile, so the pixel is
    * pinned to [0, 4095] instead of landing one past the extent.
    */
  def pixelIn(w: Column, tile: Column): Column =
    least(lit(4095), greatest(lit(0), floor((w - tile) * 4096))).cast("int")

  /** Z-order (Morton) key of tile coordinates: bit-interleave x and y
    * (x in even positions) so tiles adjacent on the plane stay adjacent
    * in key order — the write-locality ordering for the tile-directory
    * sink at scale (object stores list and range-read by key; a
    * z-order-sorted write clusters each map region's tiles into few
    * contiguous shards, the Delta/Hudi Z-ORDER idea applied to the
    * pyramid). Pure integer arithmetic — `((x >> i) & 1) · 4^i` terms —
    * so the identical expression renders in any engine.
    */
  def mortonKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftright(xl, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(yl, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** T4 fan-out: one row per (z, x, y) tile containing the point, for
    * every zoom in [minZoom, maxZoom]. Pure projection + explode — the
    * groupBy(z,x,y) downstream is the tile-build shuffle.
    */
  def assignTiles(df: DataFrame, lonCol: String, latCol: String,
                  minZoom: Int, maxZoom: Int): DataFrame = {
    val tiles = array((minZoom to maxZoom).map { z =>
      struct(lit(z).as("z"), tileX(col(lonCol), lit(z)).as("x"),
        tileY(col(latCol), lit(z)).as("y"))
    }: _*)
    df.withColumn("tile", explode(tiles))
      .withColumn("z", col("tile.z"))
      .withColumn("x", col("tile.x"))
      .withColumn("y", col("tile.y"))
      .drop("tile")
  }

  /** tippecanoe `--base-zoom` per-million keep threshold `zoomsBelow`
    * levels under the base zoom: points thin at `gamma`× per level (2.5
    * is tippecanoe's default drop rate). Computed driver-side so both
    * engines compare against identical integer literals — no runtime
    * pow() that could diverge between libm implementations.
    */
  def baseZoomThreshold(zoomsBelow: Int, gamma: Double = 2.5): Long =
    math.floor(1000000.0 / math.pow(gamma, zoomsBelow)).toLong

  /** tippecanoe `--base-zoom` point thinning
    * (`/root/reference/build.sh:121-126`): below the base zoom a point
    * survives iff its per-million id-hash draw falls under the zoom's
    * keep threshold. Hash-ordered, so the kept sets NEST across zooms
    * (a point visible at z stays visible at every deeper zoom — the
    * tippecanoe discipline) and the choice is deterministic across
    * engines, runs, and re-shards. Pure per-row predicate: thinning
    * happens BEFORE the tile shuffle, so low-zoom shuffle volume drops
    * by gamma^(base-z) at scale.
    *
    * @param idHash non-negative 60-bit feature hash
    *               ([[TextStats.hash60]] of the feature id)
    */
  def baseZoomKeep(idHash: Column, z: Column, minZoom: Int, baseZoom: Int,
                   gamma: Double = 2.5): Column =
    (minZoom until baseZoom).foldLeft(z >= baseZoom: Column) { (acc, zz) =>
      acc || (z === zz &&
        idHash % 1000000L < baseZoomThreshold(baseZoom - zz, gamma))
    }

  /** O4: per-tile density drop — keep the `budget` most important
    * features of each tile (tippecanoe --drop-densest-as-needed).
    */
  def dropDensest(tiles: DataFrame, importance: Column, tieBreak: Column,
                  budget: Int): DataFrame =
    Windows.topKPerGroup(tiles, Seq("z", "x", "y"), importance.desc,
      tieBreak, budget, rankCol = "density_rank")

  /** `--extend-zooms-if-still-dropping` (`build.sh:124-126,149-152`):
    * the smallest max zoom in [baseMax, hardCap] whose DENSEST tile fits
    * the feature budget — i.e. keep adding zoom levels until the density
    * limiter would stop dropping. One aggregation job over the candidate
    * zoom fan-out; the collect moves ≤ (hardCap-baseMax+1) rows (max
    * count per zoom), so this is an eager but O(zooms) driver action —
    * run it once per layer build, not per decade.
    */
  def extendMaxZoom(df: DataFrame, lonCol: String, latCol: String,
                    baseMax: Int, hardCap: Int, budget: Int): Int = {
    if (baseMax >= hardCap) return baseMax
    val perZoom = assignTiles(df, lonCol, latCol, baseMax, hardCap)
      .groupBy("z", "x", "y").agg(count(lit(1)).as("n"))
      .groupBy("z").agg(max("n").as("densest"))
      .collect()
      .map(r => (r.getAs[Int]("z"), r.getAs[Long]("densest")))
      .sortBy(_._1)
    perZoom.collectFirst { case (z, densest) if densest <= budget => z }
      .getOrElse(hardCap)
  }

  // ------------------------------------------------------------------
  // T1 interior point (pole of inaccessibility) — plain-Scala polylabel
  // over a polygon ring, exposed for typed map use. Centroid is the
  // convex fast path (documented deviation for concave rings is the
  // polylabel method below).

  /** Ring centroid (shoelace-weighted). `ring` = closed (x,y) sequence. */
  def centroid(ring: Seq[(Double, Double)]): (Double, Double) = {
    val closed = if (ring.head == ring.last) ring else ring :+ ring.head
    var a = 0.0; var cx = 0.0; var cy = 0.0
    closed.sliding(2).foreach { case Seq((x0, y0), (x1, y1)) =>
      val cross = x0 * y1 - x1 * y0
      a += cross; cx += (x0 + x1) * cross; cy += (y0 + y1) * cross
    }
    if (math.abs(a) < 1e-12) {
      val n = ring.length
      (ring.map(_._1).sum / n, ring.map(_._2).sum / n)
    } else (cx / (3 * a), cy / (3 * a))
  }

  private def pointInRing(px: Double, py: Double,
                          ring: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var j = ring.length - 1
    var i = 0
    while (i < ring.length) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > py) != (yj > py) &&
          px < (xj - xi) * (py - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  private def distToRing(px: Double, py: Double,
                         ring: Seq[(Double, Double)]): Double = {
    var best = Double.MaxValue
    var j = ring.length - 1
    var i = 0
    while (i < ring.length) {
      val (x1, y1) = ring(j); val (x2, y2) = ring(i)
      val dx = x2 - x1; val dy = y2 - y1
      val len2 = dx * dx + dy * dy
      val t = if (len2 == 0) 0.0
        else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / len2))
      val ddx = px - (x1 + t * dx); val ddy = py - (y1 + t * dy)
      best = math.min(best, ddx * ddx + ddy * ddy)
      j = i; i += 1
    }
    math.sqrt(best)
  }

  /** Signed distance of a point to the polygon (positive inside). */
  def signedDist(px: Double, py: Double, ring: Seq[(Double, Double)]): Double = {
    val d = distToRing(px, py, ring)
    if (pointInRing(px, py, ring)) d else -d
  }

  /** T2: Douglas-Peucker polyline/ring simplification — the rebuild's
    * analogue of tippecanoe `--simplification` (`build.sh:148-152`),
    * applied pre-tiling with a per-zoom tolerance. Endpoints are always
    * kept; for closed rings the closing vertex is preserved.
    * (T3 `--detect-shared-borders` — topology-aware simplify — is a
    * documented deviation, SURVEY.md §2.10.)
    */
  def simplify(line: Seq[(Double, Double)], tolerance: Double): Seq[(Double, Double)] = {
    if (line.length < 3) return line
    val keep = Array.fill(line.length)(false)
    keep(0) = true; keep(line.length - 1) = true
    def perpDist(p: (Double, Double), a: (Double, Double), b: (Double, Double)): Double = {
      val dx = b._1 - a._1; val dy = b._2 - a._2
      val len = math.hypot(dx, dy)
      if (len == 0) math.hypot(p._1 - a._1, p._2 - a._2)
      else math.abs(dy * p._1 - dx * p._2 + b._1 * a._2 - b._2 * a._1) / len
    }
    def rec(lo: Int, hi: Int): Unit = {
      if (hi - lo < 2) return
      var worst = -1.0; var idx = -1
      for (i <- lo + 1 until hi) {
        val d = perpDist(line(i), line(lo), line(hi))
        if (d > worst) { worst = d; idx = i }
      }
      if (worst > tolerance) { keep(idx) = true; rec(lo, idx); rec(idx, hi) }
    }
    rec(0, line.length - 1)
    line.indices.collect { case i if keep(i) => line(i) }
  }

  /** Polylabel (Mapbox pole-of-inaccessibility, grid-refinement variant):
    * the point inside the polygon farthest from any edge — what
    * `mapshaper -points inner` approximates. Deterministic given
    * `precision`.
    */
  def polylabel(ring: Seq[(Double, Double)], precision: Double = 1e-4)
      : (Double, Double) = {
    val xs = ring.map(_._1); val ys = ring.map(_._2)
    val (minX, maxX) = (xs.min, xs.max)
    val (minY, maxY) = (ys.min, ys.max)
    val cell = math.min(maxX - minX, maxY - minY) / 2.0
    if (cell == 0) return (minX, minY)
    case class Cell(x: Double, y: Double, h: Double) {
      val d: Double = signedDist(x, y, ring)
      val max: Double = d + h * math.sqrt(2)
    }
    val queue = scala.collection.mutable.PriorityQueue.empty[Cell](
      Ordering.by(_.max))
    var x = minX
    while (x < maxX) {
      var y = minY
      while (y < maxY) { queue.enqueue(Cell(x + cell, y + cell, cell)); y += cell * 2 }
      x += cell * 2
    }
    val c0 = centroid(ring)
    var best = Cell(c0._1, c0._2, 0)
    val bbox = Cell((minX + maxX) / 2, (minY + maxY) / 2, 0)
    if (bbox.d > best.d) best = bbox
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      if (c.d > best.d) best = c
      if (c.max - best.d > precision) {
        val h = c.h / 2
        for (dx <- Seq(-h, h); dy <- Seq(-h, h))
          queue.enqueue(Cell(c.x + dx, c.y + dy, h))
      }
    }
    (best.x, best.y)
  }
}
