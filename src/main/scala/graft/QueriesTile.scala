package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Geometry, Tiling, Windows}
import graft.sinks.TileBuild

/** Tiling query batch (SURVEY.md §2.10 M7): slippy-map tile assignment,
  * per-tile density ranking, bubble centers. Synthetic deterministic
  * lon/lat points derived from customer keys (+0.5 offsets keep points
  * far from tile edges, so the rounded web-mercator formula is
  * engine-stable).
  */
object QueriesTile {
  import Tables._

  /** Deterministic point cloud: one point per customer. */
  private def points(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      lpad(col("c_custkey").cast("string"), 8, "0").as("geoid"),
      col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
      ((col("c_custkey") * 7) % 360 - 180 + 0.5).cast("double").as("lon"),
      ((col("c_custkey") * 13) % 160 - 80 + 0.5).cast("double").as("lat"))

  private val pointsSql =
    """SELECT lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS geoid,
      |  c_custkey, c_nationkey, c_acctbal,
      |  CAST((c_custkey * 7) % 360 - 180 + 0.5 AS DOUBLE) AS lon,
      |  CAST((c_custkey * 13) % 160 - 80 + 0.5 AS DOUBLE) AS lat
      |FROM customer""".stripMargin

  /** DuckDB web-mercator tile formulas — the oracle's own twin of
    * Tiling's one projection (`worldX`/`worldY`, clamped by
    * `tileX`/`tileY`), same operation order including the 6-decimal
    * pre-floor round — over an arbitrary lon/lat SQL expression.
    */
  private def tileXExprSql(lonE: String, z: Int): String = {
    val n = 1L << z
    s"least(${n - 1}, greatest(0, CAST(floor(round(($lonE + 180.0) / 360.0 * $n, 6)) AS BIGINT)))"
  }
  private def tileYExprSql(latE: String, z: Int): String = {
    val n = 1L << z
    val latc = s"least(85.05112878, greatest(-85.05112878, $latE))"
    s"""least(${n - 1}, greatest(0, CAST(floor(round(
       |  (1.0 - ln(tan(radians($latc)) + 1.0 / cos(radians($latc))) / pi()) / 2.0 * $n,
       |  6)) AS BIGINT)))""".stripMargin
  }
  private def tileXSql(z: Int): String = tileXExprSql("lon", z)
  private def tileYSql(z: Int): String = tileYExprSql("lat", z)

  // ---------------------------------------------------------------------
  // T4 tile assignment: every point fans out to its (z,x,y) for z 3..6;
  // per-tile feature counts = the tile-build shuffle in miniature.
  def q31TileAssign(s: SparkSession, d: String): DataFrame =
    Tiling.assignTiles(points(s, d), "lon", "lat", minZoom = 3, maxZoom = 6)
      .groupBy("z", "x", "y")
      .agg(count(lit(1)).as("n_features"))
      .orderBy("z", "x", "y")

  val q31Sql: String = {
    val zs = (3 to 6).map { z =>
      s"SELECT $z AS z, ${tileXSql(z)} AS x, ${tileYSql(z)} AS y FROM pts"
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS ($pointsSql),
       |assigned AS ($zs)
       |SELECT z, x, y, count(*) AS n_features
       |FROM assigned GROUP BY z, x, y ORDER BY z, x, y""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q102 z-order tile write order: q31's tile table keyed by the Morton
  // interleave of (x, y) — the write-locality ordering the tile
  // directory sink uses at scale (tiles adjacent on the map land in
  // adjacent keys, so an object-store write clusters each region into
  // few contiguous shards). Pure integer bit arithmetic, identical in
  // both engines.
  private val MortonBits = 8

  def q102ZorderTiles(s: SparkSession, d: String): DataFrame =
    Tiling.assignTiles(points(s, d), "lon", "lat", minZoom = 3, maxZoom = 6)
      .groupBy("z", "x", "y")
      .agg(count(lit(1)).as("n_features"))
      .withColumn("morton",
        Tiling.mortonKey(col("x"), col("y"), MortonBits))
      .orderBy("z", "morton")

  val q102Sql: String = {
    val zs = (3 to 6).map { z =>
      s"SELECT $z AS z, ${tileXSql(z)} AS x, ${tileYSql(z)} AS y FROM pts"
    }.mkString("\nUNION ALL ")
    val morton = (0 until MortonBits).map { i =>
      s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("\n  + ")
    s"""WITH pts AS ($pointsSql),
       |assigned AS ($zs),
       |tiles AS (
       | SELECT z, x, y, count(*) AS n_features
       | FROM assigned GROUP BY z, x, y)
       |SELECT z, x, y, n_features,
       | CAST($morton AS BIGINT) AS morton
       |FROM tiles ORDER BY z, morton""".stripMargin
  }

  // ---------------------------------------------------------------------
  // O4 density drop: per z=5 tile, keep the 3 highest-balance features
  // (tippecanoe --drop-densest-as-needed with a budget of 3).
  def q32TileDensityDrop(s: SparkSession, d: String): DataFrame =
    Tiling.dropDensest(
        Tiling.assignTiles(points(s, d), "lon", "lat", 5, 5),
        col("c_acctbal"), col("c_custkey"), budget = 3)
      .select(col("z"), col("x"), col("y"), col("geoid"),
        col("c_acctbal").as("bal"), col("density_rank"))
      .orderBy("z", "x", "y", "density_rank")

  val q32Sql: String =
    s"""WITH pts AS ($pointsSql),
       |assigned AS (
       | SELECT 5 AS z, ${tileXSql(5)} AS x, ${tileYSql(5)} AS y,
       |        geoid, c_acctbal, c_custkey
       | FROM pts),
       |ranked AS (
       | SELECT z, x, y, geoid, c_acctbal AS bal,
       |  row_number() OVER (PARTITION BY z, x, y
       |    ORDER BY c_acctbal DESC, c_custkey) AS density_rank
       | FROM assigned)
       |SELECT z, x, y, geoid, bal, density_rank
       |FROM ranked WHERE density_rank <= 3
       |ORDER BY z, x, y, density_rank""".stripMargin

  // ---------------------------------------------------------------------
  // T1 bubble centers (fast path): per-nation centroid of the point
  // cloud. The concave-safe polylabel variant is exercised in unit tests
  // (not SQL-expressible).
  def q33BubbleCenters(s: SparkSession, d: String): DataFrame =
    points(s, d)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_points"),
        round(avg("lon"), 6).as("center_lon"),
        round(avg("lat"), 6).as("center_lat"))
      .orderBy("c_nationkey")

  val q33Sql: String =
    s"""WITH pts AS ($pointsSql)
       |SELECT c_nationkey, count(*) AS n_points,
       | round(avg(lon), 6) AS center_lon, round(avg(lat), 6) AS center_lat
       |FROM pts GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // T4/S6 polygon tile assignment: square choropleth features (radius
  // keyed off c_custkey) run the FULL polygon path — GeoJSON string →
  // parsePolygons → bbox cover fan-out → per-tile clip + quantize +
  // MVT encode — and the per-tile kept-feature counts must equal the
  // bbox cover (axis-aligned squares: clip nonempty ⟺ bbox overlap).
  // Radii are picked so bbox edges never land within quantization
  // distance of a z≤5 tile boundary (decimals .05/.17/.29/.71/.83 vs
  // boundaries at multiples of 11.25°), keeping the sliver-drop rule
  // unobservable to the oracle.
  private def squareFeatures(s: SparkSession, d: String): DataFrame =
    points(s, d)
      .withColumn("r", (lit(31) + (col("c_custkey") % 5) * 12) / 100.0)
      .withColumn("geometry_json", concat(
        lit("""{"type":"Polygon","coordinates":[[["""),
        col("lon") - col("r"), lit(","), col("lat") - col("r"), lit("],["),
        col("lon") + col("r"), lit(","), col("lat") - col("r"), lit("],["),
        col("lon") + col("r"), lit(","), col("lat") + col("r"), lit("],["),
        col("lon") - col("r"), lit(","), col("lat") + col("r"), lit("],["),
        col("lon") - col("r"), lit(","), col("lat") - col("r"), lit("]]]}")))

  def q48PolygonCover(s: SparkSession, d: String): DataFrame = {
    val feats = squareFeatures(s, d).select(
      col("c_custkey").as("fid"),
      Geometry.parsePolygons(col("geometry_json")).as("polys"))
    TileBuild.encodeTiles(
        TileBuild.polygonTileFeatures(feats, "fid", "polys", 3, 5)
          .withColumn("attrs", typedLit(Map.empty[String, String]))
          .withColumn("decade", lit("")).withColumn("layer", lit(0)),
        Seq(TileBuild.Layer(_ => "sq", polygons = true)))
      .select(col("z"), col("x"), col("y"), col("n_features"))
      .orderBy("z", "x", "y")
  }

  val q48Sql: String = {
    val zs = (3 to 5).map { z =>
      s"""covx$z AS (
         | SELECT fid, y0, y1, unnest(generate_series(x0, x1)) AS x FROM (
         |  SELECT fid,
         |   ${tileXExprSql("lon_min", z)} AS x0, ${tileXExprSql("lon_max", z)} AS x1,
         |   ${tileYExprSql("lat_max", z)} AS y0, ${tileYExprSql("lat_min", z)} AS y1
         |  FROM feat)),
         |cov$z AS (
         | SELECT $z AS z, x, unnest(generate_series(y0, y1)) AS y FROM covx$z)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS ($pointsSql),
       |feat AS (
       | SELECT c_custkey AS fid, lon - r AS lon_min, lon + r AS lon_max,
       |        lat - r AS lat_min, lat + r AS lat_max
       | FROM (SELECT *, (31 + (c_custkey % 5) * 12) / 100.0 AS r FROM pts)),
       |$zs,
       |cover AS (SELECT * FROM cov3 UNION ALL SELECT * FROM cov4 UNION ALL SELECT * FROM cov5)
       |SELECT z, x, y, CAST(count(*) AS INT) AS n_features
       |FROM cover GROUP BY z, x, y ORDER BY z, x, y""".stripMargin
  }

  // ---------------------------------------------------------------------
  // T3 shared-border detection: unit grid cells derived from customer
  // keys — a dense 50-wide block where adjacent cells share edges
  // exactly, like county borders. Spark runs the real operator over
  // parsed GeoJSON; the oracle builds the 4 edges per cell
  // arithmetically and counts owners per canonical edge.
  def q49SharedBorders(s: SparkSession, d: String): DataFrame = {
    val cells = customer(s, d)
      .select((col("c_custkey") % 50).cast("double").as("cx"),
        (floor(col("c_custkey") / 50) % 40).cast("double").as("cy"))
      .distinct()
      .withColumn("fid", (col("cx") * 1000 + col("cy")).cast("long"))
      .withColumn("geometry_json", concat(
        lit("""{"type":"Polygon","coordinates":[[["""),
        col("cx"), lit(","), col("cy"), lit("],["),
        col("cx") + 1, lit(","), col("cy"), lit("],["),
        col("cx") + 1, lit(","), col("cy") + 1, lit("],["),
        col("cx"), lit(","), col("cy") + 1, lit("],["),
        col("cx"), lit(","), col("cy"), lit("]]]}")))
    val parsed = cells.select(col("fid"),
      Geometry.parsePolygons(col("geometry_json")).as("polys"))
    Geometry.sharedBorders(parsed, "fid", "polys")
      .select(
        element_at(col("seg.a"), 1).as("ax"), element_at(col("seg.a"), 2).as("ay"),
        element_at(col("seg.b"), 1).as("bx"), element_at(col("seg.b"), 2).as("by"),
        col("n_owners"))
      .orderBy("ax", "ay", "bx", "by")
  }

  val q49Sql: String =
    s"""WITH cells AS (
       | SELECT DISTINCT CAST(c_custkey % 50 AS DOUBLE) AS cx,
       |        CAST(CAST(floor(c_custkey / 50) AS BIGINT) % 40 AS DOUBLE) AS cy
       | FROM customer),
       |edges AS (
       | SELECT cx AS ax, cy AS ay, cx + 1 AS bx, cy AS by FROM cells
       | UNION ALL SELECT cx + 1, cy, cx + 1, cy + 1 FROM cells
       | UNION ALL SELECT cx, cy + 1, cx + 1, cy + 1 FROM cells
       | UNION ALL SELECT cx, cy, cx, cy + 1 FROM cells),
       |canon AS (
       | SELECT CASE WHEN ax < bx OR (ax = bx AND ay < by) THEN ax ELSE bx END AS cax,
       |        CASE WHEN ax < bx OR (ax = bx AND ay < by) THEN ay ELSE by END AS cay,
       |        CASE WHEN ax < bx OR (ax = bx AND ay < by) THEN bx ELSE ax END AS cbx,
       |        CASE WHEN ax < bx OR (ax = bx AND ay < by) THEN by ELSE ay END AS cby
       | FROM edges)
       |SELECT cax AS ax, cay AS ay, cbx AS bx, cby AS by, count(*) AS n_owners
       |FROM canon GROUP BY cax, cay, cbx, cby HAVING count(*) >= 2
       |ORDER BY ax, ay, bx, by""".stripMargin

  // ---------------------------------------------------------------------
  // tippecanoe `--base-zoom` thinning (build.sh:121-126): z 0..7 fan-out
  // with base zoom 5 — zooms below base keep a deterministic hash-ordered
  // ~1/2.5^(5-z) of the points (Tiling.baseZoomKeep). Keep thresholds are
  // driver-computed integer literals shared with the oracle, so no
  // runtime pow() can diverge between engines.
  private val Q51Base = 5

  def q51BaseZoomThin(s: SparkSession, d: String): DataFrame =
    Tiling.assignTiles(points(s, d), "lon", "lat", minZoom = 0, maxZoom = 7)
      .filter(Tiling.baseZoomKeep(
        graft.operators.TextStats.hash60(col("geoid")), col("z"),
        minZoom = 0, baseZoom = Q51Base))
      .groupBy("z")
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col("x") * 100000 + col("y")).as("n_tiles"))
      .orderBy("z")

  val q51Sql: String = {
    val hashSql = "(CAST(('0x' || substr(md5(geoid), 1, 15)) AS BIGINT) % 1000000)"
    val branches = (0 to 7).map { z =>
      val keep = if (z >= Q51Base) "TRUE"
        else s"$hashSql < ${Tiling.baseZoomThreshold(Q51Base - z)}"
      s"SELECT $z AS z, ${tileXSql(z)} AS x, ${tileYSql(z)} AS y FROM pts WHERE $keep"
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS ($pointsSql),
       |assigned AS ($branches)
       |SELECT z, count(*) AS n_points,
       | count(DISTINCT x * 100000 + y) AS n_tiles
       |FROM assigned GROUP BY z ORDER BY z""".stripMargin
  }

  // ---------------------------------------------------------------------
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_tile_assign" -> (q31TileAssign _),
    "q32_tile_density_drop" -> (q32TileDensityDrop _),
    "q33_bubble_centers" -> (q33BubbleCenters _),
    "q48_polygon_cover" -> (q48PolygonCover _),
    "q49_shared_borders" -> (q49SharedBorders _),
    "q51_base_zoom_thin" -> (q51BaseZoomThin _),
    "q102_zorder_tiles" -> (q102ZorderTiles _),
  )

  val oracle: Map[String, String] = Map(
    "q102_zorder_tiles" -> q102Sql,
    "q31_tile_assign" -> q31Sql,
    "q32_tile_density_drop" -> q32Sql,
    "q33_bubble_centers" -> q33Sql,
    "q48_polygon_cover" -> q48Sql,
    "q49_shared_borders" -> q49Sql,
    "q51_base_zoom_thin" -> q51Sql,
  )
}
