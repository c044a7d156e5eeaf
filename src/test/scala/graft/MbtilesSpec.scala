package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hand-written SQLite/MBTiles container ([[graft.sinks.Sqlite]],
  * [[graft.sinks.Mbtiles]]) verified against an INDEPENDENT
  * implementation: the container's python sqlite3 stdlib opens the
  * file, runs `PRAGMA integrity_check` (sqlite's own deep structural
  * validator: b-tree order, cell overlap, overflow chains, index↔table
  * consistency), dumps every row, and exercises the UNIQUE-index
  * lookup path. Tests cancel gracefully when python3 is unavailable.
  */
class MbtilesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  /** Package a written decade tree into `<dir>.mbtiles` the one way
    * every caller ships a container: its pbf tree read back, with the
    * tree's own metadata.json.
    */
  private def packageTree(dir: String): String = {
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(s"$dir/metadata.json"),
        classOf[java.util.Map[String, String]]).asScala.toMap
    val db = s"$dir.mbtiles"
    graft.sinks.Mbtiles.writeMbtiles(Incremental.readPbfTree(spark, dir), db,
      meta + ("format" -> "pbf"))
    db
  }

  private lazy val python: Option[String] =
    Seq("python3", "python").find { p =>
      try {
        new ProcessBuilder(p, "-c", "import sqlite3").start().waitFor() == 0
      } catch { case _: java.io.IOException => false }
    }

  /** Run the python oracle over a .mbtiles file; returns its stdout
    * lines: "ok" from integrity_check, one "T,z,x,row,md5" per tile,
    * "M,name,value" per metadata row, one "L,md5" indexed lookup.
    */
  private def pyDump(db: String): Seq[String] = {
    val script =
      """import sqlite3, sys, hashlib
        |db = sqlite3.connect(sys.argv[1])
        |print(db.execute("PRAGMA integrity_check").fetchone()[0])
        |rows = db.execute("select zoom_level, tile_column, tile_row, tile_data "
        |                  "from tiles order by 1,2,3").fetchall()
        |for z, x, r, b in rows:
        |    print(f"T,{z},{x},{r},{hashlib.md5(b).hexdigest()}")
        |for n, v in db.execute("select name, value from metadata order by name"):
        |    print(f"M,{n},{v}")
        |if rows:
        |    z, x, r, _ = rows[len(rows) // 2]
        |    got = db.execute("select tile_data from tiles where zoom_level=? "
        |                     "and tile_column=? and tile_row=?", (z, x, r)).fetchone()
        |    print(f"L,{hashlib.md5(got[0]).hexdigest()}")
        |""".stripMargin
    val f = Files.createTempFile("mbt", ".py")
    Files.write(f, script.getBytes("UTF-8"))
    val pb = new ProcessBuilder(python.get, f.toString, db)
    pb.redirectErrorStream(true)
    pb.environment().put("PYTHONIOENCODING", "utf-8")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
      .getLines().toList
    assert(proc.waitFor() == 0, s"python oracle failed:\n${out.mkString("\n")}")
    out
  }

  test("hand-written sqlite passes integrity_check; rows round-trip via python") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    // 2000 small tiles force multi-leaf table AND index b-trees with
    // interior levels; 5 oversized blobs exercise overflow chains
    val small = (0 until 2000).map { i =>
      val z = 8 + i % 3
      (z, (i / 3).toLong % (1L << z), (i % 97).toLong,
        Array.fill[Byte](40 + i % 50)((i % 251).toByte))
    }
    val big = (0 until 5).map { i =>
      (14, 9000L + i, 4000L + i,
        Array.tabulate[Byte](12000 + i * 3000)(j => ((i * 7 + j) % 251).toByte))
    }
    val tiles = (small ++ big).toDF("z", "x", "y", "tile_bytes")
      // the writer must tolerate duplicate-free arbitrary input order
      .orderBy(rand(42))
    val db = Files.createTempDirectory("mbt").resolve("t.mbtiles").toString
    graft.sinks.Mbtiles.writeMbtiles(tiles, db,
      Map("name" -> "fixture", "format" -> "pbf", "q" -> "vérité"))

    val out = pyDump(db)
    assert(out.head == "ok", s"integrity_check: ${out.head}")
    // expected tile set (TMS-flipped rows), md5 per tile
    val expected = (small ++ big).map { case (z, x, y, b) =>
      s"T,$z,$x,${(1L << z) - 1 - y},${md5(b)}"
    }.toSet
    val gotTiles = out.filter(_.startsWith("T,")).toSet
    assert(gotTiles == expected,
      s"tiles differ: missing=${(expected -- gotTiles).take(3)} " +
        s"extra=${(gotTiles -- expected).take(3)}")
    assert(out.contains("M,format,pbf") && out.contains("M,name,fixture"))
    assert(out.contains("M,q,vérité"), "UTF-8 text must round-trip")
    // the UNIQUE-index lookup path returned a real blob
    val lookup = out.find(_.startsWith("L,")).get.drop(2)
    assert(expected.exists(_.endsWith(lookup)), "indexed lookup blob mismatch")
    // and our own reader round-trips the container (writer ↔ reader)
    val back = graft.sinks.Mbtiles.readMbtiles(spark, db).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        md5(r.getAs[Array[Byte]]("tile_bytes"))).toMap
    val in = (small ++ big).map { case (z, x, y, b) =>
      (z, x, y) -> md5(b) }.toMap
    assert(back == in, "reader must invert the writer exactly")
  }

  test("a container whose FINAL index entry lands on a leaf boundary keeps every tile") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    // the r15-review high finding: when the last addEntry triggered a
    // leaf flush, the old builder promoted it to a divider that
    // buildIndexInteriors dropped at the root — one tile missing from
    // the UNIQUE index, integrity_check "row missing from index".
    // Find the first boundary N by replaying the packing arithmetic
    // with the REAL record sizes, then build a container of exactly N
    // tiles and let sqlite itself adjudicate.
    import graft.sinks.Sqlite
    val z = 12L; val row = (1L << z) - 1L // y = 0
    def entryCell(rowid: Long): Int = {
      val p = Sqlite.record(Seq(Sqlite.SqlInt(z), Sqlite.SqlInt(rowid),
        Sqlite.SqlInt(row), Sqlite.SqlInt(rowid))).length
      Sqlite.varint(p.toLong).length + p
    }
    var nCells = 0; var bytes = 0; var boundary = -1L; var i = 1L
    while (boundary < 0) {
      val c = entryCell(i)
      if (nCells > 0 && 8 + 2 * (nCells + 1) + bytes + c > Sqlite.PageSize)
        boundary = i
      else { nCells += 1; bytes += c; i += 1 }
    }
    val n = boundary.toInt // the Nth entry is the first to force a flush
    val tiles = (1 to n).map(i =>
      (z, i.toLong, 0L, Array.fill[Byte](20)((i % 113).toByte)))
      .toDF("z", "x", "y", "tile_bytes")
    val db = Files.createTempDirectory("mbt-edge").resolve("e.mbtiles").toString
    graft.sinks.Mbtiles.writeMbtiles(tiles, db, Map("name" -> "edge"))
    val out = pyDump(db)
    assert(out.head == "ok", s"integrity_check at boundary N=$n: ${out.head}")
    assert(out.count(_.startsWith("T,")) == n,
      s"container must hold all $n tiles")
    // the LAST tile specifically — the one the old builder dropped —
    // must be reachable through the UNIQUE index
    assert(out.exists(_.startsWith(s"T,$z,$n,$row,")), s"last tile (x=$n) lost")
  }

  test("writeMbtiles fails fast on duplicate (z,x,y) keys") {
    val dir = Files.createTempDirectory("mbt-dup")
    val db = dir.resolve("d.mbtiles").toString
    // a good container already lives at the path
    graft.sinks.Mbtiles.writeMbtiles(Seq((5, 1L, 2L, Array[Byte](7)))
      .toDF("z", "x", "y", "tile_bytes"), db, Map("name" -> "live"))
    val live = Files.readAllBytes(Paths.get(db))
    val tiles = Seq((5, 1L, 2L, Array[Byte](1)), (5, 1L, 2L, Array[Byte](2)))
      .toDF("z", "x", "y", "tile_bytes")
    val e = intercept[IllegalArgumentException] {
      graft.sinks.Mbtiles.writeMbtiles(tiles, db, Map.empty)
    }
    assert(e.getMessage.contains("duplicate tile key"))
    // the failed write leaves the live container byte-identical and no
    // temp file behind
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(db)), live),
      "a failed write must not touch the live container")
    val left = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toList
    assert(left == List("d.mbtiles"), s"leftover files: $left")
  }

  test("scan parallelism grows with leaf count; limit() terminates cleanly") {
    // ~256 leaves per task, no hard cap: the r15-review scale finding
    // (a 100 GB container was throttled to 64 partitions with each
    // task materializing its whole share)
    import graft.sinks.Mbtiles.leafPartitions
    assert(leafPartitions(1) == 1 && leafPartitions(256) == 1)
    assert(leafPartitions(257) == 2)
    assert(leafPartitions(64 * 256 + 1) == 65, "must exceed the old 64 cap")
    // wiring: a real container's frame carries exactly that many partitions
    val tiles = (0 until 1500).map(i =>
      (9, i.toLong % 512, i.toLong / 512, Array.fill[Byte](900)(i.toByte)))
      .toDF("z", "x", "y", "tile_bytes")
    val db = Files.createTempDirectory("mbt-par").resolve("p.mbtiles").toString
    graft.sinks.Mbtiles.writeMbtiles(tiles, db, Map.empty)
    import graft.sinks.Sqlite
    val raf = new java.io.RandomAccessFile(db, "r")
    val nLeaves = try {
      val (ps, u) = Sqlite.readDbHeader(raf)
      val root = Sqlite.readMaster(raf, ps, u)
        .collectFirst { case ("table", "tiles", _, r, _) => r }.get
      Sqlite.tableLeaves(raf, ps, root).size
    } finally raf.close()
    val df = graft.sinks.Mbtiles.readMbtiles(spark, db)
    assert(df.rdd.getNumPartitions == leafPartitions(nLeaves))
    // early termination: the task-completion listener (not iterator
    // exhaustion) closes the file handle, so limit() is safe
    assert(df.limit(1).collect().length == 1)
    assert(df.count() == 1500)
  }

  test("readMbtiles ingests a container written by an INDEPENDENT implementation") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    // python's sqlite3 (real SQLite) writes the container; our reader
    // must parse its pages — multi-leaf, overflow blobs, real varints
    val dir = Files.createTempDirectory("mbt-py").toString
    val db = s"$dir/py.mbtiles"
    val script =
      s"""import sqlite3
         |db = sqlite3.connect("$db")
         |db.execute("CREATE TABLE metadata (name text, value text)")
         |db.execute("CREATE TABLE tiles (zoom_level integer, tile_column integer, tile_row integer, tile_data blob)")
         |db.execute("CREATE UNIQUE INDEX tile_index on tiles (zoom_level, tile_column, tile_row)")
         |db.executemany("INSERT INTO metadata VALUES (?,?)",
         |               [("name","pyset"),("format","pbf"),("accent","caf\\u00e9")])
         |rows = []
         |for i in range(700):
         |    z = 5 + i % 3
         |    size = 150000 if i % 233 == 0 else 60 + i % 90
         |    blob = bytes((i * 7 + j) % 251 for j in range(size))
         |    rows.append((z, i // 3, i % 29, blob))
         |db.executemany("INSERT INTO tiles VALUES (?,?,?,?)", rows)
         |db.commit(); db.close()
         |""".stripMargin
    val f = Files.createTempFile("mkmbt", ".py")
    Files.write(f, script.getBytes("UTF-8"))
    val proc = new ProcessBuilder(python.get, f.toString).inheritIO().start()
    assert(proc.waitFor() == 0, "python writer failed")

    val got = graft.sinks.Mbtiles.readMbtiles(spark, db).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        md5(r.getAs[Array[Byte]]("tile_bytes"))).toMap
    val expected = (0 until 700).map { i =>
      val z = 5 + i % 3
      val size = if (i % 233 == 0) 150000 else 60 + i % 90
      val blob = Array.tabulate[Byte](size)(j => ((i * 7 + j) % 251).toByte)
      // reader flips TMS row back to XYZ y
      (z, (i / 3).toLong, (1L << z) - 1 - (i % 29).toLong) -> md5(blob)
    }.toMap
    assert(got.size == 700 && got == expected,
      s"mismatch: ${(expected.toSet -- got.toSet).take(3)}")
    val meta = graft.sinks.Mbtiles.readMbtilesMetadata(db)
    assert(meta == Map("name" -> "pyset", "format" -> "pbf",
      "accent" -> "café"), meta.toString)
  }

  test("readMbtiles handles the deduplicated map/images layout (tiles as a VIEW)") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    // newer tippecanoe dedups identical tiles: map(z,x,row,tile_id) +
    // images(tile_id,tile_data) with `tiles` as a view — and nothing
    // guarantees the canonical column order, so this fixture scrambles
    // the map table's columns too
    val dir = Files.createTempDirectory("mbt-dedup").toString
    val db = s"$dir/dedup.mbtiles"
    val script =
      s"""import sqlite3, hashlib
         |db = sqlite3.connect("$db")
         |db.execute("CREATE TABLE metadata (name text, value text)")
         |db.execute("CREATE TABLE map (tile_id text, zoom_level integer, tile_column integer, tile_row integer)")
         |db.execute("CREATE TABLE images (tile_data blob, tile_id text)")
         |db.execute("CREATE VIEW tiles AS SELECT map.zoom_level AS zoom_level, map.tile_column AS tile_column, map.tile_row AS tile_row, images.tile_data AS tile_data FROM map JOIN images ON images.tile_id = map.tile_id")
         |db.execute("INSERT INTO metadata VALUES ('name','dedup')")
         |blobs = {}
         |for i in range(300):
         |    blob = bytes((i % 7) * 31 + j & 0xff for j in range(80))  # only 7 DISTINCT blobs
         |    tid = hashlib.md5(blob).hexdigest()
         |    blobs[tid] = blob
         |    db.execute("INSERT INTO map VALUES (?,?,?,?)", (tid, 6, i % 64, i // 64))
         |db.executemany("INSERT INTO images VALUES (?,?)",
         |               [(b, t) for t, b in blobs.items()])
         |db.commit(); db.close()
         |""".stripMargin
    val f = Files.createTempFile("mkdedup", ".py")
    Files.write(f, script.getBytes("UTF-8"))
    assert(new ProcessBuilder(python.get, f.toString).inheritIO()
      .start().waitFor() == 0, "python writer failed")

    val got = graft.sinks.Mbtiles.readMbtiles(spark, db).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        md5(r.getAs[Array[Byte]]("tile_bytes"))).toMap
    val expected = (0 until 300).map { i =>
      val blob = Array.tabulate[Byte](80)(j => (((i % 7) * 31 + j) & 0xff).toByte)
      (6, (i % 64).toLong, (1L << 6) - 1 - (i / 64).toLong) -> md5(blob)
    }.toMap
    assert(got.size == 300 && got == expected,
      s"dedup layout mismatch, e.g. ${(expected.toSet -- got.toSet).take(3)}")
    assert(graft.sinks.Mbtiles.readMbtilesMetadata(db) == Map("name" -> "dedup"))
  }

  test("per-layer containers tile-join to the exact frame-level merged container") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    // the reference's decade loop in CONTAINER form (`build.sh:163-214`):
    // bubble and choropleth tilesets ship as separate .mbtiles, get
    // re-read, and tile-join into the decade container — which must be
    // tile-for-tile byte-identical to the frame-level J3 merge
    // runRegion ships, and pass sqlite's own integrity_check.
    import graft.sinks.Mbtiles
    val dir = Files.createTempDirectory("mbt-join").toString
    def geoid(c: Int) = f"$c%05d"
    val cells = 0 until 30 // 6x5 shared-border polygon grid
    val gj = cells.map { c =>
      val (gx, gy) = (c % 6, c / 6)
      val (x0, y0) = (-100.0 + gx * 0.4, 30.0 + gy * 0.4)
      val (x1, y1) = (x0 + 0.4, y0 + 0.4)
      s"""{"type":"Feature","properties":{"GEOID":"${geoid(c)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[[$x0,$y0],""" +
        s"""[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}}"""
    }.mkString("\n")
    Files.write(Paths.get(dir, "f.jsonl"), gj.getBytes("UTF-8"))
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, s"$dir/f.jsonl"))
    val metrics = Seq("population", "filing_rate")
    val csv = new StringBuilder(
      "id,year,name,parent_location,population,filing_rate\n")
    for (c <- cells; y <- 2000 to 2018)
      csv.append(s"${geoid(c)},$y,Cell $c,Gridland," +
        s"${(c * 31 + y) % 97 + 1},${(c * 7 + y) % 13 + 1}\n")
    Files.write(Paths.get(dir, "data.csv"), csv.toString.getBytes("UTF-8"))

    // reference output: the frame-level merge the pipeline writes,
    // packaged from its pbf tree
    Pipeline.runRegion(spark, s"$dir/data.csv", "raw", metrics, "counties",
      features = Some(features), outDir = Some(dir))

    // container flow: rebuild each LAYER with the pipeline's own
    // building blocks (counties: bubble never extends, choropleth
    // coalesces so extension is skipped — both deterministic twins of
    // what runRegion computed), ship each as its own container, join
    val long = graft.sources.Sources.readCsv(spark, s"$dir/data.csv",
      graft.sources.Sources.longSchema(metrics))
    val wide = Pipeline.shape(long, "raw")
    val choroMaxZ = graft.config.EtlConfig.choroplethZoom("counties").maxZoom
    val polyFeats = Pipeline.choroTileFeatures(features, "counties", choroMaxZ)
    for (decade <- Seq("00", "10")) {
      val bubble = Pipeline.decadeTiles(wide, features, "raw", decade,
        "bubble", "counties")
      val choro = Pipeline.choroDecadeEncode(wide, polyFeats, "raw", decade,
        "counties")
      val bPath = s"$dir/$decade-bubble.mbtiles"
      val cPath = s"$dir/$decade-choro.mbtiles"
      Mbtiles.writeMbtiles(bubble, bPath, Map("name" -> s"bubble-$decade"))
      Mbtiles.writeMbtiles(choro, cPath, Map("name" -> s"choro-$decade"))
      val joined = s"$dir/$decade-joined.mbtiles"
      Mbtiles.tileJoin(spark, Seq(bPath, cPath), joined,
        Map("name" -> s"counties-$decade"))
      assert(pyDump(joined).head == "ok", s"integrity_check decade $decade")
      def tileMap(path: String) = Mbtiles.readMbtiles(spark, path).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
          md5(r.getAs[Array[Byte]]("tile_bytes"))).toMap
      val ref = tileMap(packageTree(s"$dir/counties/$decade"))
      val got = tileMap(joined)
      assert(ref.nonEmpty && got == ref,
        s"decade $decade container join differs: " +
          s"missing=${(ref.keySet -- got.keySet).take(3)} " +
          s"changed=${ref.count { case (k, v) => got.get(k).exists(_ != v) }}")
      // metadata folds inputs then applies the override
      val meta = Mbtiles.readMbtilesMetadata(joined)
      assert(meta("name") == s"counties-$decade", meta.toString)
    }
  }

  test("a container packaged from runRegion's pbf tree holds that tree byte for byte") {
    assume(python.isDefined, "python3 with sqlite3 not available")
    val dir = Files.createTempDirectory("mbt-pipe").toString
    val csv = {
      val p = Paths.get(dir, "data.csv")
      Files.write(p, ("id,year,name,parent_location,population\n" +
        "01001,2000,A,Alabama,100\n01003,2001,B,Alabama,200\n").getBytes)
      p.toString
    }
    import spark.implicits._
    val features = Seq(("01001", -86.6, 32.5), ("01003", -87.1, 30.7))
      .toDF("GEOID", "lon", "lat")
    Pipeline.runRegion(spark, csv, "raw", Seq("population"), "counties",
      features = Some(features), outDir = Some(dir))
    for (decade <- Seq("00", "10")) {
      val db = packageTree(s"$dir/counties/$decade")
      val out = pyDump(db)
      assert(out.head == "ok")
      // container contents ≡ the pbf tree, tile for tile, byte for byte
      val pbf = Files.walk(Paths.get(s"$dir/counties/$decade")).iterator()
      val onDisk = scala.collection.mutable.Map.empty[(Long, Long, Long), String]
      pbf.forEachRemaining { p =>
        val m = "/(\\d+)/(\\d+)/(\\d+)\\.pbf$".r.findFirstMatchIn(p.toString)
        m.foreach { g =>
          onDisk((g.group(1).toLong, g.group(2).toLong, g.group(3).toLong)) =
            md5(Files.readAllBytes(p))
        }
      }
      val expected = onDisk.map { case ((z, x, y), h) =>
        s"T,$z,$x,${(1L << z) - 1 - y},$h"
      }.toSet
      assert(out.filter(_.startsWith("T,")).toSet == expected)
      assert(out.contains(s"M,name,counties-$decade"))
      assert(out.contains("M,format,pbf"))
    }
  }
}
