package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Geometry, Tiling}
import graft.sinks.{Mvt, TileBuild}

/** Tiling tier tests: slippy tile math, polylabel, MVT wire format,
  * tile build + directory sink.
  */
class TilingSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._
  import TilingSpec.{encodeOne, pointTiles}

  test("tile math: known anchors (0,0)->center tile, clamps at poles") {
    val df = Seq((0.0, 0.0), (-180.0, 85.06), (179.9, -85.06))
      .toDF("lon", "lat")
    val out = df.select(
      Tiling.tileX($"lon", lit(2)).as("x"), Tiling.tileY($"lat", lit(2)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out(0) == (2L, 2L)) // greenwich/equator at z2 = tile (2,2)
    assert(out(1) == (0L, 0L)) // NW corner clamped
    assert(out(2) == (3L, 3L)) // SE corner clamped
  }

  test("assignTiles fans out one row per zoom") {
    val df = Seq((1L, 10.0, 20.0)).toDF("id", "lon", "lat")
    val out = Tiling.assignTiles(df, "lon", "lat", 3, 6)
    assert(out.count() == 4)
    assert(out.select("z").as[Int].collect().sorted.toSeq == Seq(3, 4, 5, 6))
  }

  test("tile x/y doubles when zoom increments") {
    val df = Seq((100.3, 45.7)).toDF("lon", "lat")
    val r = df.select(
      Tiling.tileX($"lon", lit(5)).as("x5"), Tiling.tileX($"lon", lit(6)).as("x6"),
      Tiling.tileY($"lat", lit(5)).as("y5"), Tiling.tileY($"lat", lit(6)).as("y6"))
      .collect()(0)
    assert(r.getLong(1) / 2 == r.getLong(0))
    assert(r.getLong(3) / 2 == r.getLong(2))
  }

  /** An [[Mvt.Feature]] from nested rings, flattened to its format. */
  private def feature(id: Long, geom: Mvt.GeomType, rings: Seq[Seq[(Int, Int)]],
                      attrs: Seq[(String, Any)]): Mvt.Feature =
    Mvt.Feature(id, geom, rings.flatten.flatMap(p => Seq(p._1, p._2)).toArray,
      rings.map(_.length).toArray, attrs)

  test("point tiles clamp edge features to the MVT extent") {
    val pts = Seq((1L, 180.0, -86.0, "edge"), (2L, 0.5, 0.5, "mid"),
        (3L, -180.0, 85.06, "corner"))
      .toDF("id", "lon", "lat", "tag")
    // lon=180 -> fx = 2^z exactly; lat <= -85.05112878 -> merc = 1, fy =
    // 2^z. Both must land at pixel 4095 of the LAST tile, never pixel
    // 4096; the NW corner is pixel (0, 0) of tile (0, 0)
    val px = TileBuild.pointTileRows(pts, "id", "lon", "lat", 3, 3)
      .select("id", "x", "y", "px", "py").as[(Long, Long, Long, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(px(1L) == ((1L, 7L, 7L, 4095, 4095)))
    assert(px(3L) == ((3L, 0L, 0L, 0, 0)))
    px.values.foreach { case (_, _, _, x, y) =>
      assert(x >= 0 && x <= 4095 && y >= 0 && y <= 4095)
    }
    val tiles = pointTiles(pts, Seq("tag"), "edge-layer", minZoom = 1, maxZoom = 1)
    def tileAt(x: Long, y: Long): Array[Byte] = {
      val t = tiles.filter($"z" === 1 && $"x" === x && $"y" === y)
        .select("tile_bytes").as[Array[Byte]].collect()
      assert(t.length == 1, s"one tile at 1/$x/$y")
      t(0)
    }
    // lon=180 lands in tile x=1 (clamped), not x=2: the encoded tile holds
    // exactly the clamped feature
    assert(tileAt(1, 1).sameElements(Mvt.encodeLayer("edge-layer",
      Seq(feature(1L, Mvt.PointGeom, Seq(Seq((4095, 4095))), Seq("tag" -> "edge"))))))
    assert(tileAt(0, 0).sameElements(Mvt.encodeLayer("edge-layer",
      Seq(feature(3L, Mvt.PointGeom, Seq(Seq((0, 0))), Seq("tag" -> "corner"))))))
  }

  test("base-zoom thinning: ~2.5x/zoom below base, nested, base+ untouched") {
    val pts = (1L to 2000L).map(i =>
        (i, (i * 7 % 360 - 180 + 0.5).toDouble, (i * 13 % 160 - 80 + 0.5).toDouble))
      .toDF("id", "lon", "lat")
    val kept = Tiling.assignTiles(pts, "lon", "lat", 0, 6)
      .filter(Tiling.baseZoomKeep(
        graft.operators.TextStats.hash60($"id".cast("string")), $"z",
        minZoom = 0, baseZoom = 5))
    val counts = kept.groupBy("z").count()
      .as[(Int, Long)].collect().toMap
    assert(counts(5) == 2000 && counts(6) == 2000,
      "base zoom and deeper must keep every point")
    for (z <- 0 until 5) {
      val expected = 2000.0 / math.pow(2.5, 5 - z)
      assert(math.abs(counts(z) - expected) < 6 * math.sqrt(expected) + 10,
        s"z=$z kept ${counts(z)}, want ~$expected (2.5x/zoom)")
    }
    // tippecanoe discipline: the kept sets nest — a dot visible at z
    // stays visible at every deeper zoom
    val byZoom = (0 to 5).map(z =>
      z -> kept.filter($"z" === z).select("id").as[Long].collect().toSet).toMap
    for (z <- 0 until 5)
      assert(byZoom(z).subsetOf(byZoom(z + 1)), s"z=$z not nested in z=${z + 1}")
  }

  test("point tiles apply --base-zoom before the tile shuffle") {
    val pts = (1L to 500L).map(i =>
        (i, (i * 7 % 360 - 180 + 0.5).toDouble, (i * 13 % 160 - 80 + 0.5).toDouble))
      .toDF("id", "lon", "lat")
    def perZoom(baseZoom: Option[Int]): Map[Int, Long] =
      pointTiles(pts, Nil, "bz", minZoom = 1, maxZoom = 4, baseZoom = baseZoom)
        .groupBy("z").agg(sum("n_features").as("n"))
        .as[(Int, Long)].collect().toMap
    val thinned = perZoom(Some(4)); val flat = perZoom(None)
    assert(thinned(4) == flat(4), "base zoom keeps the full layer")
    for (z <- 1 to 3)
      assert(thinned(z) < thinned(z + 1),
        s"z=$z must be thinner than z=${z + 1}: $thinned")
    assert(thinned(1) < flat(1) / 5,
      s"3 below base must thin >5x: ${thinned(1)} vs ${flat(1)}")
  }

  test("centroid of a square is its center; polylabel agrees for convex") {
    val square = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0))
    val c = Tiling.centroid(square)
    assert(math.abs(c._1 - 2.0) < 1e-9 && math.abs(c._2 - 2.0) < 1e-9)
    val p = Tiling.polylabel(square, 1e-3)
    assert(math.abs(p._1 - 2.0) < 0.01 && math.abs(p._2 - 2.0) < 0.01)
  }

  test("polylabel lands INSIDE a concave (U-shaped) polygon, centroid may not") {
    // U shape: two towers joined at the bottom
    val u = Seq((0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (4.0, 5.0), (4.0, 1.0),
      (1.0, 1.0), (1.0, 5.0), (0.0, 5.0), (0.0, 0.0))
    val p = Tiling.polylabel(u, 1e-3)
    assert(Tiling.signedDist(p._1, p._2, u) > 0) // strictly inside
    // the pole of inaccessibility of the U is in the bottom bar
    assert(p._2 < 1.0)
  }

  test("simplify: Douglas-Peucker drops collinear points, keeps spikes") {
    val line = Seq((0.0, 0.0), (1.0, 0.001), (2.0, 0.0), (3.0, 5.0), (4.0, 0.0))
    val out = Tiling.simplify(line, tolerance = 0.1)
    assert(out.head == line.head && out.last == line.last)
    assert(out.contains((3.0, 5.0))) // the spike survives
    assert(!out.contains((1.0, 0.001))) // near-collinear point dropped
    // tolerance 0 keeps everything
    assert(Tiling.simplify(line, 0.0) == line)
  }

  test("MVT varint geometry: point encodes MoveTo + zigzag coords") {
    val cmds = Mvt.encodeGeometry(Mvt.PointGeom, Array(10, 7), Array(1))
    assert(cmds == Seq((1L | (1L << 3)), 20L, 14L)) // MoveTo(1), zz(10), zz(7)
  }

  test("MVT polygon geometry closes ring without duplicate vertex") {
    val ring = Array(0, 0, 10, 0, 10, 10, 0, 0) // closed input
    val cmds = Mvt.encodeGeometry(Mvt.PolygonGeom, ring, Array(4))
    // MoveTo 1, 2 params, LineTo 2, 4 params, ClosePath
    assert(cmds == Seq(9L, 0L, 0L, (2L | (2L << 3)), 20L, 0L, 0L, 20L, 7L))
  }

  test("encodeLayer produces parseable deterministic bytes with interned keys") {
    val feats = Seq(
      feature(1L, Mvt.PointGeom, Seq(Seq((100, 200))),
        Seq("name" -> "a", "v" -> 1.5)),
      feature(2L, Mvt.PointGeom, Seq(Seq((300, 400))),
        Seq("name" -> "b", "v" -> 1.5)))
    val b1 = Mvt.encodeLayer("test", feats)
    val b2 = Mvt.encodeLayer("test", feats)
    assert(b1.sameElements(b2))
    assert(b1.length > 20)
    assert((b1(0) & 0xff) == ((3 << 3) | 2)) // Tile.layers field tag
    // layer name appears once; value 1.5 interned once (little-endian double)
    val s = new String(b1.map(b => (b & 0xff).toChar))
    assert(s.contains("test") && s.contains("name"))
  }

  test("byte budget drops densest features until the tile fits") {
    // 200 points in ONE tile in importance order (id desc, as the point
    // build's density_rank orders them): the byte cap must keep the
    // largest importance-ordered prefix and the encoded tile must fit
    val feats = (200 to 1 by -1).map(i => feature(i.toLong, Mvt.PointGeom,
      Seq(Seq((i * 10, i * 10))), Seq("tag" -> s"val-$i-end")))
    val cap = 1500
    val (kept, bytes) = TileBuild.fitToByteBudget("dense", feats, cap)
    assert(bytes.length <= cap, s"tile ${bytes.length}B over the ${cap}B cap")
    assert(kept > 0 && kept < 200, s"expected a proper prefix, kept=$kept")
    assert(bytes.sameElements(Mvt.encodeLayer("dense", feats.take(kept))))
    // keeping one more feature must overflow (largest fitting prefix)
    assert(Mvt.encodeLayer("dense", feats.take(kept + 1)).length > cap)
    // a layer that fits passes through whole
    val full = Mvt.encodeLayer("dense", feats)
    val (all, allBytes) = TileBuild.fitToByteBudget("dense", feats, full.length)
    assert(all == 200 && allBytes.sameElements(full))
    // the kept features are the HIGHEST-importance ones: the encoded tile
    // must contain the top id's attr string and not the lowest id's
    val s = new String(bytes.map(b => (b & 0xff).toChar))
    assert(s.contains("val-200-end") && !s.contains("val-1-end"))
  }

  test("extendMaxZoom deepens until the densest tile fits the budget") {
    // 10 points 0.4° apart: tile width at z10 is 0.352° (< spacing, all
    // singleton); at z9 it is 0.703° (> spacing, some tiles hold 2)
    val pts = (0 until 10).map(i => (i.toLong, i * 0.4, 0.5))
      .toDF("id", "lon", "lat")
    assert(Tiling.extendMaxZoom(pts, "lon", "lat", 5, 12, budget = 1) == 10)
    // generous budget: no extension needed, base wins
    assert(Tiling.extendMaxZoom(pts, "lon", "lat", 5, 12, budget = 10) == 5)
    // impossible budget: clamped at the hard cap
    val dup = pts.union(pts)
    assert(Tiling.extendMaxZoom(dup, "lon", "lat", 5, 7, budget = 1) == 7)
  }

  test("clipRing: square clipped to overlapping rect keeps the intersection") {
    val sq = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val out = Geometry.clipRing(sq, 5.0, 5.0, 20.0, 20.0)
    assert(out.toSet == Set((5.0, 5.0), (10.0, 5.0), (10.0, 10.0), (5.0, 10.0)))
    // fully outside -> empty; fully inside -> unchanged (minus closing dup)
    assert(Geometry.clipRing(sq, 20.0, 20.0, 30.0, 30.0).isEmpty)
    assert(Geometry.clipRing(sq, -5.0, -5.0, 15.0, 15.0).length == 4)
  }

  test("quantizeRing drops slivers and consecutive duplicates") {
    // 0.2px-wide sliver collapses to zero area -> empty
    val sliver = Seq((0.0, 0.0), (0.2, 0.0), (0.2, 100.0), (0.0, 100.0))
    assert(Geometry.quantizeRing(sliver, 0.0, 0.0).isEmpty)
    val sq = Seq((10.4, 10.4), (90.6, 10.4), (90.6, 90.6), (10.4, 90.6))
    val q = Geometry.quantizeRing(sq, 0.0, 0.0)
    assert(q == Seq((10, 10), (91, 10), (91, 91), (10, 91)))
  }

  test("orient enforces MVT winding: exterior positive, hole negative") {
    val ccwInScreen = Seq((0, 0), (0, 10), (10, 10), (10, 0)) // negative area
    assert(Geometry.intArea2(ccwInScreen) < 0)
    assert(Geometry.intArea2(Geometry.orient(ccwInScreen, exterior = true)) > 0)
    assert(Geometry.intArea2(Geometry.orient(ccwInScreen, exterior = false)) < 0)
  }

  test("parsePolygons normalizes Polygon and MultiPolygon; bbox matches") {
    val rows = Seq(
      (1L, """{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}"""),
      (2L, """{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],[[[5,5],[9,5],[9,9],[5,5]]]]}"""),
      (3L, """{"type":"Point","coordinates":[1,2]}"""))
      .toDF("id", "gj")
    val parsed = rows.select($"id", Geometry.parsePolygons($"gj").as("polys"))
    val withBbox = Geometry.withBbox(parsed, "polys")
    val m = withBbox.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[collection.Seq[_]]("polys").length == 1)
    assert(m(2L).getAs[collection.Seq[_]]("polys").length == 2)
    assert(m(3L).getAs[collection.Seq[_]]("polys") == null) // non-areal -> null
    assert(m(2L).getAs[Double]("lon_min") == 0.0 &&
      m(2L).getAs[Double]("lon_max") == 9.0)
  }

  /** The one polygon build, as the pipeline's choropleth layer runs it:
    * geometry stage, the attribute join on fid, then the encode.
    */
  private def polygonTiles(df: DataFrame, attrCols: Seq[String],
                           layer: String, minZoom: Int, maxZoom: Int,
                           simplifyPx: Double = 1.0,
                           sharedBorders: Boolean = false): DataFrame = {
    val attrs = df.select($"id".cast("long").as("fid"),
      map(attrCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)
        .as("attrs"))
    encodeOne(TileBuild.polygonTileFeatures(df, "id",
        "polys", minZoom, maxZoom, simplifyPx, sharedBorders)
      .join(attrs, Seq("fid")), TileBuild.Layer(_ => layer, polygons = true))
  }

  test("polygon build: clip splits a straddling square; bytes decode back") {
    // square straddling the z1 antimeridian-free center boundary (lon=0)
    val gj = """{"type":"Polygon","coordinates":[[[-45,-40],[45,-40],[45,40],[-45,40],[-45,-40]]]}"""
    val df = Seq((7L, gj, "blue")).toDF("id", "gj", "color")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"), $"color")
    val tiles = polygonTiles(df, Seq("color"), "choro", minZoom = 1, maxZoom = 1)
    val got = tiles.collect().map(r =>
      (r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y"),
        r.getAs[Int]("n_features"), r.getAs[Array[Byte]]("tile_bytes"))).toSeq
    // bbox spans lon [-45,45] lat [-40,40]: all four z1 tiles
    assert(got.map(t => (t._2, t._3)).toSet ==
      Set((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)))
    assert(got.forall(_._4 == 1))
    // byte-exact check for tile (1,0) (NE): replay the per-tile steps
    // (project -> simplify -> clip -> quantize -> orient) on the input
    // ring; clip/quantize correctness is covered by the unit tests above,
    // this pins the grouping/ordering/attr plumbing byte-for-byte
    val z = 1
    val ring = Seq((-45.0, -40.0), (45.0, -40.0), (45.0, 40.0),
      (-45.0, 40.0), (-45.0, -40.0))
    val proj = ring.map { case (lo, la) => Geometry.worldPx(lo, la, z) }
    val ox = 1 * 4096.0; val oy = 0 * 4096.0
    val expRing = Geometry.orient(Geometry.quantizeRing(
      Geometry.clipRing(Tiling.simplify(proj, 1.0), ox, oy, ox + 4096, oy + 4096),
      ox, oy), exterior = true)
    val ne = got.find(t => t._2 == 1L && t._3 == 0L).get
    val expBytes = Mvt.encodeLayer("choro", Seq(feature(7L,
      Mvt.PolygonGeom, Seq(expRing), Seq("color" -> "blue"))))
    assert(ne._5.sameElements(expBytes),
      s"tile bytes differ: got ${ne._5.length}B want ${expBytes.length}B")
  }

  test("polygon build drops bbox-cover false positives and zero-area tiles") {
    // thin diagonal triangle: bbox covers all four z1 tiles but the
    // geometry only crosses (0,0)/(1,1) quadrants' diagonal; the NE/SW
    // corner tiles get sliver or no coverage after clip+quantize
    val gj = """{"type":"Polygon","coordinates":[[[-170,-80],[170,80],[-170,-79.9],[-170,-80]]]}"""
    val df = Seq((1L, gj)).toDF("id", "gj")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"))
    val tiles = polygonTiles(df, Nil, "t", 1, 1, simplifyPx = 0.0)
    val xs = tiles.select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // in y-down tile space the sliver runs from tile (0,1) through a
    // corner of (0,0) into (1,0); the bbox also covers (1,1) but the
    // geometry never enters it -> the false positive must be dropped
    assert(xs == Set((0L, 1L), (0L, 0L), (1L, 0L)), s"unexpected tiles $xs")
  }

  test("polygon build encodes holes with opposite winding") {
    val gj = """{"type":"Polygon","coordinates":[[[-60,-50],[60,-50],[60,50],[-60,50],[-60,-50]],[[-20,-15],[20,-15],[20,15],[-20,15],[-20,-15]]]}"""
    val df = Seq((1L, gj)).toDF("id", "gj")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"))
    val tiles = polygonTiles(df, Nil, "t", 0, 0)
    val bytes = tiles.collect()(0).getAs[Array[Byte]]("tile_bytes")
    // replay the per-tile steps on each input ring: z0, origin (0,0)
    def ring(lonLat: Seq[(Double, Double)], ext: Boolean) = {
      val proj = (lonLat :+ lonLat.head)
        .map { case (lo, la) => Geometry.worldPx(lo, la, 0) }
      Geometry.orient(Geometry.quantizeRing(
        Geometry.clipRing(Tiling.simplify(proj, 1.0), 0.0, 0.0, 4096.0, 4096.0),
        0.0, 0.0), exterior = ext)
    }
    val outer = ring(Seq((-60.0, -50.0), (60.0, -50.0), (60.0, 50.0), (-60.0, 50.0)), ext = true)
    val hole = ring(Seq((-20.0, -15.0), (20.0, -15.0), (20.0, 15.0), (-20.0, 15.0)), ext = false)
    assert(Geometry.intArea2(outer) > 0 && Geometry.intArea2(hole) < 0)
    val exp = Mvt.encodeLayer("t", Seq(feature(1L, Mvt.PolygonGeom,
      Seq(outer, hole), Nil)))
    assert(bytes.sameElements(exp))
  }

  test("coalesceToByteBudget merges attr-identical features, keeps coverage") {
    val feats = (1 to 20).map { i =>
      val g = if (i <= 10) "grp-A" else "grp-B"
      feature(i.toLong, Mvt.PolygonGeom,
        Seq(Seq((i * 50, i * 50), (i * 50 + 40, i * 50), (i * 50 + 40, i * 50 + 40))),
        Seq("grp" -> g))
    }
    val fullLen = Mvt.encodeLayer("t", feats).length
    val budget = fullLen - 10 // force at least one coalesce
    val (kept, bytes) = TileBuild.coalesceToByteBudget("t", feats, budget)
    assert(bytes.length <= budget)
    assert(kept < 20 && kept >= 2, s"kept=$kept")
    // unlike the drop path, BOTH attribute groups survive (coverage kept)
    val s = new String(bytes.map(b => (b & 0xff).toChar))
    assert(s.contains("grp-A") && s.contains("grp-B"))
    // under-budget input passes through untouched
    val (k2, b2) = TileBuild.coalesceToByteBudget("t", feats, fullLen)
    assert(k2 == 20 && b2.length == fullLen)
    // impossible budget falls back to the drop path (possibly empty)
    val (k3, b3) = TileBuild.coalesceToByteBudget("t", feats, 30)
    assert(b3.length <= 30 && k3 <= 2)
  }

  test("withInteriorPoints drops degenerate geometry instead of crashing") {
    val rows = Seq(
      (1L, """{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,0]]]}"""),
      (2L, """{"type":"Polygon","coordinates":[]}"""),
      (3L, """{"type":"MultiPolygon","coordinates":[[]]}"""))
      .toDF("id", "gj")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"))
      .filter($"polys".isNotNull)
    val out = Geometry.withInteriorPoints(rows, "id", "polys").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1"))
    val (lon, lat) = (out(0).getDouble(2), out(0).getDouble(3))
    assert(lon > 0 && lon < 4 && lat > 0 && lat < 4)
  }

  test("simplifySharedAware: both owners reduce the shared border identically") {
    // squares A (left) and B (right) share a wiggly vertical border
    // x≈10 from (10,0) to (10,8); wiggle amplitude 0.2 < tolerance 1.0
    val border = Seq((10.0, 0.0), (10.2, 2.0), (9.8, 4.0), (10.1, 6.0), (10.0, 8.0))
    val ringA = (Seq((0.0, 0.0)) ++ border ++ Seq((0.0, 8.0))).toIndexedSeq
    val ringB = (Seq((10.0, 0.0), (20.0, 0.0), (20.0, 8.0)) ++
      border.reverse.dropRight(1)).toIndexedSeq
    val sharedSet = border.sliding(2).map { case Seq(a, b) =>
      if (Ordering[(Double, Double)].lteq(a, b)) (a, b) else (b, a)
    }.toSet
    def flags(ring: IndexedSeq[(Double, Double)]) = ring.indices.map { i =>
      val a = ring(i); val b = ring((i + 1) % ring.length)
      sharedSet.contains(
        if (Ordering[(Double, Double)].lteq(a, b)) (a, b) else (b, a))
    }
    val outA = Geometry.simplifySharedAware(ringA, flags(ringA), 1.0)
    val outB = Geometry.simplifySharedAware(ringB, flags(ringB), 1.0)
    // wiggle gone, junctions survive, private corners survive
    assert(outA.toSet == Set((0.0, 0.0), (10.0, 0.0), (10.0, 8.0), (0.0, 8.0)),
      s"A got $outA")
    assert(outB.toSet == Set((10.0, 0.0), (20.0, 0.0), (20.0, 8.0), (10.0, 8.0)),
      s"B got $outB")
    // the shared border collapsed to the same straight segment in both
    // owners -> no gap, no overlap
  }

  test("polygon build: sharedBorders mode keeps both owners' features") {
    val a = """{"type":"Polygon","coordinates":[[[-40,-30],[0,-30],[0.4,0],[-0.4,15],[0,30],[-40,30],[-40,-30]]]}"""
    val b = """{"type":"Polygon","coordinates":[[[0,-30],[40,-30],[40,30],[0,30],[-0.4,15],[0.4,0],[0,-30]]]}"""
    val df = Seq((1L, a), (2L, b)).toDF("id", "gj")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"))
    val tiles = polygonTiles(df, Nil, "t", 0, 1, simplifyPx = 50.0,
      sharedBorders = true)
    val z0 = tiles.filter($"z" === 0).collect()
    assert(z0.length == 1 && z0(0).getAs[Int]("n_features") == 2)
  }

  test("sharedBorders finds the one edge two adjacent squares share") {
    val a = """{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}"""
    val b = """{"type":"Polygon","coordinates":[[[1,0],[2,0],[2,1],[1,1],[1,0]]]}"""
    val c = """{"type":"Polygon","coordinates":[[[5,5],[6,5],[6,6],[5,6],[5,5]]]}"""
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "gj")
      .select($"id", Geometry.parsePolygons($"gj").as("polys"))
    val shared = Geometry.sharedBorders(df, "id", "polys").collect()
    assert(shared.length == 1)
    val seg = shared(0).getStruct(0)
    // canonical: (1,0) < (1,1) regardless of traversal direction
    assert(seg.getSeq[Double](0) == Seq(1.0, 0.0))
    assert(seg.getSeq[Double](1) == Seq(1.0, 1.0))
    assert(shared(0).getLong(1) == 2L)
  }

  test("point tiles + writePbfDirectory emit a z/x/y.pbf tree") {
    val pts = Seq(
      (1L, 10.5, 20.5, "a"), (2L, 10.6, 20.6, "b"), (3L, -100.0, -40.0, "c"))
      .toDF("id", "lon", "lat", "tag")
    val tiles = pointTiles(pts, Seq("tag"), "layer0", minZoom = 2, maxZoom = 3)
    val n = tiles.count()
    assert(n >= 3 && n <= 4) // pts 1,2 share tiles; pt 3 separate
    val out = java.nio.file.Files.createTempDirectory("tiles").toString
    TileBuild.writePbfDirectory(tiles, out, Map("name" -> "t"))
    val z2 = new java.io.File(s"$out/2")
    assert(z2.exists && z2.isDirectory)
    assert(new java.io.File(s"$out/metadata.json").exists)
    val pbfs = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(_.toString.endsWith(".pbf")).count()
    assert(pbfs == n)
  }

  test("mortonKey interleaves x into even and y into odd bit positions") {
    import spark.implicits._
    val out = Seq((3L, 5L), (0L, 0L), (7L, 0L), (0L, 7L))
      .toDF("x", "y")
      .select(Tiling.mortonKey($"x", $"y", bits = 3).as("m"))
      .as[Long].collect().toSeq
    // x=3 (011) -> 1+4; y=5 (101) -> 2+32; total 39
    assert(out == Seq(39L, 0L, 21L, 42L))
  }

  test("mortonKey preserves 2x2 block locality (consecutive quads share prefixes)") {
    import spark.implicits._
    val keys = (for { x <- 0 until 4; y <- 0 until 4 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select($"x", $"y", Tiling.mortonKey($"x", $"y", bits = 2).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the 16 keys are a bijection onto 0..15
    assert(keys.values.toSet == (0L until 16L).toSet)
    // each aligned 2x2 block occupies one contiguous key quad
    for (bx <- 0 until 2; by <- 0 until 2) {
      val quad = for { dx <- 0 until 2; dy <- 0 until 2 }
        yield keys((bx * 2 + dx).toLong, (by * 2 + dy).toLong)
      assert(quad.max - quad.min == 3, s"block ($bx,$by) not contiguous: $quad")
    }
  }
}

object TilingSpec {

  /** One layer through the encode kernel, as a build without decades. */
  def encodeOne(rows: DataFrame, layer: TileBuild.Layer): DataFrame =
    TileBuild.encodeTiles(rows.withColumn("decade", lit(""))
      .withColumn("layer", lit(0)), Seq(layer))

  /** The one point build, as the pipeline's bubble layer runs it: the
    * point rows, an attribute map, then the encode.
    */
  def pointTiles(pts: DataFrame, attrCols: Seq[String], layer: String,
                 minZoom: Int, maxZoom: Int,
                 baseZoom: Option[Int] = None): DataFrame =
    encodeOne(TileBuild.pointTileRows(pts, "id", "lon", "lat", minZoom,
        maxZoom, baseZoom)
      .withColumn("attrs", map(attrCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)),
      TileBuild.Layer(_ => layer, polygons = false))
}
