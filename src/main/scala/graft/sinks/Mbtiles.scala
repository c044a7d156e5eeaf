package graft.sinks

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Sqlite._

/** MBTiles 1.3 sink — the sqlite container the reference's tippecanoe
  * emits (`build.sh:129-134,155-160`) and `tile-join` consumes
  * (`:189,210,214`), written directly in the public SQLite file
  * format ([[Sqlite]]) because no JDBC driver resolves offline. This
  * closes the deviation SURVEY §1.4/§8 carried since r7: the engine
  * now ships BOTH deployment formats — the `z/x/y.pbf` tree
  * (`build.sh:220`, what actually deploys) and the `.mbtiles`
  * intermediate the reference's tooling exchanges.
  *
  * Schema (MBTiles 1.3):
  *   CREATE TABLE metadata (name text, value text);
  *   CREATE TABLE tiles (zoom_level integer, tile_column integer,
  *                       tile_row integer, tile_data blob);
  *   CREATE UNIQUE INDEX tile_index on tiles (zoom_level,
  *                       tile_column, tile_row);
  * `tile_row` is TMS (south-origin): row = 2^z − 1 − y for the XYZ y
  * the tile builders emit.
  *
  * Single-writer by nature — an MBTiles file IS one sqlite database,
  * the same constraint tippecanoe has; rows stream through
  * `toLocalIterator` ordered (z, x, row), so driver memory holds one
  * partition of tile rows at a time, never the tileset. The pbf
  * directory stays the scale path for serving; this sink exists for
  * tool-compatibility with the reference's ecosystem. A decade's
  * container is packaged from its written tree:
  * `writeMbtiles(Incremental.readPbfTree(spark, dir), s"$dir.mbtiles",
  * meta)`.
  *
  * One layout is written: the direct `tiles` table. [[readMbtiles]]
  * also reads newer tippecanoe's deduplicated map/images layout.
  */
object Mbtiles {

  /** Write `tiles` (z, x, y, tile_bytes) as the container at `path`.
    * The container is built in a temp file beside `path` and renamed
    * over it only once complete: a failed write leaves any previous
    * container untouched and no temp file behind.
    */
  def writeMbtiles(tiles: DataFrame, path: String,
                   metadata: Map[String, String]): Unit = {
    val target = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      writeContainer(tiles, tmp.toFile, metadata)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  private def writeContainer(tiles: DataFrame, f: File,
                             metadata: Map[String, String]): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try {
      val sink = new Sink(raf)
      val metaB = new TableBuilder(sink)
      metadata.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
        metaB.addRow(i + 1L, record(Seq(SqlText(k), SqlText(v))))
      }
      val metaRoot = metaB.finish()

      val tilesB = new TableBuilder(sink)
      val idxB = new IndexBuilder(sink)
      // index order is (z, x, tile_row) ascending; tile_row = 2^z-1-y
      // reverses y within (z, x), hence the y DESCENDING sort
      val it = tiles
        .select(col("z").cast("long").as("z"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("tile_bytes"))
        .orderBy(col("z"), col("x"), col("y").desc)
        .toLocalIterator()
      var rowid = 0L
      var prevKey: (Long, Long, Long) = null
      while (it.hasNext) {
        val r = it.next()
        rowid += 1
        val z = r.getLong(0); val x = r.getLong(1); val y = r.getLong(2)
        val row = (1L << z) - 1L - y
        // the index is declared UNIQUE: a duplicate (z,x,y) input row
        // would write duplicate keys into it — structurally walkable
        // but schema-inconsistent, and downstream sqlite tooling may
        // mishandle it silently. Input arrives sorted, so a duplicate
        // is always adjacent: fail fast here instead.
        val key = (z, x, row)
        require(prevKey == null || key != prevKey,
          s"duplicate tile key (z=$z, x=$x, y=$y) — tiles must be unique")
        prevKey = key
        val bytes = r.getAs[Array[Byte]]("tile_bytes")
        tilesB.addRow(rowid,
          record(Seq(SqlInt(z), SqlInt(x), SqlInt(row), SqlBlob(bytes))))
        idxB.addEntry(
          record(Seq(SqlInt(z), SqlInt(x), SqlInt(row), SqlInt(rowid))))
      }
      val tilesRoot = tilesB.finish()
      val idxRoot = idxB.finish()
      sink.patchPage1(buildPage1(sink.nPages, Seq(
        ("table", "metadata", "metadata", metaRoot,
          "CREATE TABLE metadata (name text, value text)"),
        ("table", "tiles", "tiles", tilesRoot,
          "CREATE TABLE tiles (zoom_level integer, tile_column integer, " +
            "tile_row integer, tile_data blob)"),
        ("index", "tile_index", "tiles", idxRoot,
          "CREATE UNIQUE INDEX tile_index on tiles (zoom_level, " +
            "tile_column, tile_row)"))))
      raf.getFD.sync() // durable before the rename makes it the container
    } finally raf.close()
  }

  /** `tile-join` over CONTAINERS (`build.sh:189,210,214`): read every
    * input tileset, align on (z,x,y), concatenate tile bytes in INPUT
    * ORDER (MVT layers concatenate at the protobuf level — the same J3
    * merge the frame-level pipeline applies per decade), and write the
    * merged container. Metadata folds left-to-right across the inputs'
    * metadata tables with the `metadata` argument overriding last.
    *
    * Scale shape: ONE shuffle regardless of input count (a grouped
    * aggregate over the unioned frames, not a join chain), and the
    * per-input reads are [[readMbtiles]]'s distributed leaf scans.
    * Output layout is the direct MBTiles 1.3 `tiles` table, what the
    * reference's own tooling exchanges.
    */
  def tileJoin(spark: SparkSession, inputs: Seq[String], out: String,
               metadata: Map[String, String] = Map.empty): Unit = {
    require(inputs.nonEmpty, "tileJoin needs at least one input")
    val frames = inputs.zipWithIndex.map { case (p, i) =>
      readMbtiles(spark, p).withColumn("ord", lit(i)) }
    val merged = frames.reduce(_.unionByName(_))
      .groupBy("z", "x", "y")
      .agg(expr("aggregate(sort_array(collect_list(struct(ord, tile_bytes)))" +
        ", cast('' as binary), (acc, t) -> concat(acc, t.tile_bytes))")
        .as("tile_bytes"))
    val meta = inputs.map(readMbtilesMetadata)
      .foldLeft(Map.empty[String, String])(_ ++ _) ++ metadata
    writeMbtiles(merged, out, meta)
  }

  /** Read an MBTiles container — whoever wrote it — back as the
    * engine's tile frame (z, x, y, tile_bytes), XYZ y (TMS row flipped
    * back). Ingesting the reference ecosystem's own artifacts is what
    * makes the sink a two-way door: a tippecanoe-built tileset can
    * re-attribute/merge/re-deploy through this engine.
    *
    * DISTRIBUTED scan: the driver walks only the table's INTERIOR
    * pages (a handful even at GBs) to list leaf page numbers, then
    * executors parse disjoint leaf ranges — overflow chains followed
    * executor-side. The path must be visible from executors (local FS
    * under local[*]; a shared mount or pre-distributed copy on a
    * cluster — a .mbtiles is one file, the format's own constraint).
    */
  def readMbtiles(spark: SparkSession, path: String): DataFrame = {
    val master = {
      val raf = new RandomAccessFile(path, "r")
      try { val (ps, u) = readDbHeader(raf); readMaster(raf, ps, u) }
      finally raf.close()
    }
    def table(name: String) = master.collectFirst {
      case ("table", `name`, _, root, sql) => (root, tableColumns(sql))
    }
    table("tiles") match {
      case Some((root, cols)) =>
        // direct layout — decode by the WRITER's column order
        val idx = Seq("zoom_level", "tile_column", "tile_row", "tile_data")
          .map(c => cols.indexOf(c))
        require(idx.forall(_ >= 0), s"tiles schema incomplete: $cols")
        scanTable(spark, path, root) { r =>
          val z = r(idx(0)).asInstanceOf[Long].toInt
          Row(z, r(idx(1)).asInstanceOf[Long],
            (1L << z) - 1L - r(idx(2)).asInstanceOf[Long],
            r(idx(3)).asInstanceOf[Array[Byte]])
        }
      case None =>
        // deduplicated layout (newer tippecanoe): `tiles` is a VIEW over
        // map(zoom_level,tile_column,tile_row,tile_id) ⋈
        // images(tile_id,tile_data) — shared blobs stored once. Read
        // both tables and join DISTRIBUTED (the map side is 4 small
        // cells/row; blobs stay on the images side until the join).
        val (mapRoot, mapCols) = table("map").getOrElse(
          throw new IllegalArgumentException(
            s"$path has neither a tiles table nor a map/images pair"))
        val (imgRoot, imgCols) = table("images").getOrElse(
          throw new IllegalArgumentException(s"$path has map but no images"))
        val mi = Seq("zoom_level", "tile_column", "tile_row", "tile_id")
          .map(c => mapCols.indexOf(c))
        require(mi.forall(_ >= 0), s"map schema incomplete: $mapCols")
        val ii = Seq("tile_id", "tile_data").map(c => imgCols.indexOf(c))
        require(ii.forall(_ >= 0), s"images schema incomplete: $imgCols")
        val mapDf = {
          val schema = StructType(Seq(StructField("z", IntegerType),
            StructField("x", LongType), StructField("y", LongType),
            StructField("tid", StringType)))
          val rdd = scanTableRdd(spark, path, mapRoot) { r =>
            val z = r(mi(0)).asInstanceOf[Long].toInt
            Row(z, r(mi(1)).asInstanceOf[Long],
              (1L << z) - 1L - r(mi(2)).asInstanceOf[Long],
              String.valueOf(r(mi(3))))
          }
          spark.createDataFrame(rdd, schema)
        }
        val imgDf = {
          val schema = StructType(Seq(StructField("tid", StringType),
            StructField("tile_bytes", BinaryType)))
          val rdd = scanTableRdd(spark, path, imgRoot) { r =>
            Row(String.valueOf(r(ii(0))), r(ii(1)).asInstanceOf[Array[Byte]])
          }
          spark.createDataFrame(rdd, schema)
        }
        mapDf.join(imgDf, Seq("tid")).select("z", "x", "y", "tile_bytes")
    }
  }

  private def scanTable(spark: SparkSession, path: String, root: Int)(
      build: IndexedSeq[Any] => Row): DataFrame = {
    val schema = StructType(Seq(StructField("z", IntegerType),
      StructField("x", LongType), StructField("y", LongType),
      StructField("tile_bytes", BinaryType)))
    spark.createDataFrame(scanTableRdd(spark, path, root)(build), schema)
  }

  /** Distributed table scan: driver lists leaf pages through the
    * interior walk, executors decode disjoint leaf ranges.
    */
  private def scanTableRdd(spark: SparkSession, path: String, root: Int)(
      build: IndexedSeq[Any] => Row)
      : org.apache.spark.rdd.RDD[Row] = {
    val (leaves, pageSize, usable) = {
      val raf = new RandomAccessFile(path, "r")
      try {
        val (ps, u) = readDbHeader(raf)
        (tableLeaves(raf, ps, root), ps, u)
      } finally raf.close()
    }
    spark.sparkContext.parallelize(leaves, leafPartitions(leaves.size))
      .mapPartitions { it =>
        // lazy decode: at most ONE leaf's rows are materialized at a
        // time (a leaf is one page of cells plus its overflow chains),
        // so per-task memory is bounded by the largest row, not the
        // partition's share of the container. The file handle closes
        // on task COMPLETION — including early termination under
        // `limit` — instead of after full iteration.
        val raf = new RandomAccessFile(path, "r")
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => raf.close()))
        it.flatMap(leaf =>
          leafRows(raf, pageSize, usable, leaf).map { case (_, payload) =>
            build(decodeRecord(payload))
          })
      }
  }

  /** Scan parallelism ∝ container size: ~256 leaf pages (≈1 MiB of
    * b-tree) per task, so a 100 GB container fans out to ~100k-page ÷
    * 256 tasks instead of the former hard 64-partition cap — the cap
    * throttled read parallelism exactly when the file was largest.
    */
  private[graft] def leafPartitions(nLeaves: Int): Int =
    math.max(1, (nLeaves + 255) / 256)

  /** The metadata table of a container, driver-side (always tiny). */
  def readMbtilesMetadata(path: String): Map[String, String] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val (ps, u) = readDbHeader(raf)
      val (root, cols) = readMaster(raf, ps, u)
        .collectFirst { case ("table", "metadata", _, r, sql) =>
          (r, tableColumns(sql)) }
        .getOrElse(return Map.empty)
      val (ni, vi) = (cols.indexOf("name"), cols.indexOf("value"))
      require(ni >= 0 && vi >= 0, s"metadata schema incomplete: $cols")
      tableLeaves(raf, ps, root).flatMap(leafRows(raf, ps, u, _))
        .map { case (_, p) =>
          val r = decodeRecord(p)
          r(ni).asInstanceOf[String] -> r(vi).asInstanceOf[String]
        }.toMap
    } finally raf.close()
  }
}
