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
  *    shuffle, and every tile build takes this one path: the rows of
  *    [[pointTileRows]] or [[polygonTileFeatures]], then [[encodeTiles]].
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

  /** The decade-independent half of the point build: [[pointTileFan]],
    * MVT pixel coordinates ([[Tiling.pixelIn]] of the fan's own rounded
    * projection), the density budget ([[Tiling.dropDensest]], map-side:
    * importance is the id, capped at [[FeatureBudget]]). Adds z, x, y,
    * density_rank, the long `fid` and the point in [[encodeTiles]]' flat
    * geometry format (`rings_flat` = [px, py], `ring_sizes` = [1]).
    */
  private[graft] def pointTileRows(points: DataFrame, idCol: String,
                                   lonCol: String, latCol: String,
                                   minZoom: Int, maxZoom: Int,
                                   baseZoom: Option[Int] = None): DataFrame = {
    val z = col("z")
    val withPx = pointTileFan(points, idCol, lonCol, latCol, minZoom,
        maxZoom, baseZoom)
      .withColumn("px", Tiling.pixelIn(Tiling.worldX(col(lonCol), z), col("x")))
      .withColumn("py", Tiling.pixelIn(Tiling.worldY(col(latCol), z), col("y")))
    Tiling.dropDensest(withPx, col(idCol), col(idCol), FeatureBudget)
      .withColumn("fid", col(idCol).cast("long"))
      .withColumn("rings_flat", array(col("px"), col("py")))
      .withColumn("ring_sizes", array(lit(1)))
  }

  /** The tiles a point lands in: one row per (z, x, y), z in
    * [minZoom, maxZoom] ([[Tiling.assignTiles]]); below `baseZoom` only
    * the rows tippecanoe's `--base-zoom` keeps ([[Tiling.baseZoomKeep]],
    * keyed on the hash of the id's string form, BEFORE the tile
    * shuffle). [[pointTileRows]] encodes these rows and
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
  // Flat geometry format. Geometry crosses the tile shuffle as primitive
  // arrays — coords interleaved (lon,lat before the clip, x,y after),
  // per-ring point counts, per-polygon ring counts — because the
  // Catalyst codec for nested Seqs was measured at ~95% of the whole
  // tile-build kernel's cost (the geometry math is cheap). The clip
  // reads the arrays straight into tuple rings ([[tileRings]]) and
  // [[Mvt.Feature]] carries the clipped arrays as they are.

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

  /** Add the flat geometry format of the nested polygons + shared_segs
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
  private def tileRings(z: Int, x: Long, y: Long, coords: Array[Double],
                        ringSizes: Array[Int], polySizes: Array[Int],
                        simplifyPx: Double,
                        sharedSegs: Option[Set[((Double, Double), (Double, Double))]])
      : (Array[Int], Array[Int]) = {
    val ox = x * 4096.0; val oy = y * 4096.0
    val outCoords = Array.newBuilder[Int]
    val outSizes = Array.newBuilder[Int]
    var ri = 0
    var ci = 0
    polySizes.foreach { nRings =>
      val quantized = Seq.fill(nRings) {
        val (c0, n) = (ci, ringSizes(ri))
        ri += 1; ci += 2 * n
        val ring = IndexedSeq.tabulate(n)(j => (coords(c0 + 2 * j), coords(c0 + 2 * j + 1)))
        val simp = sharedSegs match {
          case Some(set) if simplifyPx > 0 =>
            // open the ring; flags from LONLAT canonical pairs, geometry
            // simplified in projected world-px (same tolerance space as
            // the plain path)
            val pts = if (n > 1 && ring.head == ring.last) ring.dropRight(1) else ring
            val flags = pts.indices.map { i =>
              val a = pts(i); val b = pts((i + 1) % pts.length)
              val canon = if (Ordering[(Double, Double)].lteq(a, b)) (a, b)
                          else (b, a)
              set.contains(canon)
            }
            val proj = pts.map { case (lo, la) => Geometry.worldPx(lo, la, z) }
            Geometry.simplifySharedAware(proj, flags, simplifyPx)
          case _ =>
            val proj = ring.map { case (lo, la) => Geometry.worldPx(lo, la, z) }
            if (simplifyPx > 0) Tiling.simplify(proj, simplifyPx) else proj
        }
        Geometry.quantizeRing(
          Geometry.clipRing(simp, ox, oy, ox + 4096, oy + 4096), ox, oy)
      }
      // exterior gone ⇒ whole polygon gone; holes keep MVT winding
      if (quantized.nonEmpty && quantized.head.nonEmpty)
        (Geometry.orient(quantized.head, exterior = true) +:
          quantized.tail.filter(_.nonEmpty)
            .map(Geometry.orient(_, exterior = false))).foreach { r =>
          r.foreach { case (px, py) => outCoords += px; outCoords += py }
          outSizes += r.length
        }
    }
    (outCoords.result(), outSizes.result())
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
    *         tile-local integer rings in MVT winding order in the flat
    *         geometry format (interleaved x,y + per-ring point counts)
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
        val (flat, sizes) = tileRings(z, x, y, coords, ringSizes, polySizes,
          simplifyPx, if (sharedBorders) Some(toSegSetFlat(sharedFlat)) else None)
        (z, x, y, rank, fid, flat, sizes)
      }
      .toDF("z", "x", "y", "density_rank", "fid", "rings_flat", "ring_sizes")
      .filter(size(col("rings_flat")) > 0)
  }

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
    *             ring_sizes, attrs), geometry in the flat format (a
    *             point is a one-point ring), which [[Mvt.Feature]] takes
    *             as it is; a build without decades passes an empty
    *             `decade`
    * @return (decade, z, x, y, n_features, tile_bytes)
    */
  private[graft] def encodeTiles(rows: DataFrame, layers: Seq[Layer]): DataFrame = {
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
            val feats = rs.sortBy(t => (t._6, t._7)).map(t =>
              Mvt.Feature(t._7, geomType, t._8, t._9,
                t._10.toSeq.filter(_._2 != null).sortBy(_._1)))
            val name = layer.name(key._1)
            val (n, bytes) =
              if (layer.coalesce) coalesceToByteBudget(name, feats, ByteBudget)
              else fitToByteBudget(name, feats, ByteBudget)
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
      .sortBy(g => (g.map(_._1.ringSizes.sum).sum, g.map(_._1.id).min))
    def coalesced(k: Int): Seq[Mvt.Feature] = {
      val merged = groups.take(k).map { g =>
        val members = g.sortBy(_._2) // keep importance order
        (members.head._2, Mvt.Feature(members.map(_._1.id).min, Mvt.PolygonGeom,
          Array.concat(members.map(_._1.coords): _*),
          Array.concat(members.map(_._1.ringSizes): _*), members.head._1.attrs))
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
