package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A Hadoop FileSystem registered under a FOREIGN scheme (`mock://`,
  * backed by local disk). RawLocalFileSystem resolves the path part of
  * the URI, so `mock:///tmp/x` reads and writes `/tmp/x`.
  */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

/** Local disk under a `permcount://` scheme that counts the
  * `setPermission` calls made on it: without the native Hadoop library
  * each one forks a `chmod`.
  */
class PermCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "permcount"
  override def getUri: java.net.URI = java.net.URI.create("permcount:///")
  override def setPermission(p: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    PermCountingFs.calls.incrementAndGet()
    super.setPermission(p, permission)
  }
}

object PermCountingFs {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}

/** Local disk under a `filtered://` scheme, seen through a
  * `FilterFileSystem`: not a `RawLocalFileSystem` or `LocalFileSystem`,
  * so the tile sink writes through `FileSystem.create` — as it does on an
  * object store — and this counts the creates.
  */
class FilteredFs extends org.apache.hadoop.fs.FilterFileSystem(new FilteredFs.Local) {
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    FilteredFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FilteredFs {
  class Local extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getScheme: String = "filtered"
    override def getUri: java.net.URI = java.net.URI.create("filtered:///")
  }
  val creates = new java.util.concurrent.atomic.AtomicInteger()
}

/** The s3a seam, proven offline: the deployment sink
  * ([[graft.sinks.TileBuild.writePbfDirectory]] — the tree the
  * reference `aws s3 sync`s, `build.sh:222-228`) and the tree scan
  * ([[graft.Incremental.readPbfTree]]) must work against ANY Hadoop
  * FileSystem scheme the session configures, because that is exactly
  * what pointing them at `s3a://bucket/...` is — a scheme→impl mapping
  * plus credentials, no engine code. The sandbox has no object store,
  * so the spec registers a foreign `mock://` scheme (local-disk
  * backed) and drives the full write → read-back → byte-parity loop
  * through it. A writer that silently assumed `java.io` local paths —
  * what this sink did before r17 — fails here with "No FileSystem for
  * scheme: mock".
  */
class SchemeFsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("pbf tree writes and reads through a foreign FileSystem scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockSchemeFs].getName)
    val tiles = Seq(
      (8, 41L, 97L, Array[Byte](1, 2, 3)),
      (8, 41L, 98L, Array[Byte](4, 5)),
      (9, 82L, 195L, Array.tabulate[Byte](4096)(_.toByte))
    ).toDF("z", "x", "y", "tile_bytes")

    val base = Files.createTempDirectory("schemefs").toString
    graft.sinks.TileBuild.writePbfDirectory(tiles, s"mock://$base/tree",
      Map("name" -> "schemed"))

    // the bytes landed on the backing store, at the exact layout, with
    // no checksum sidecars polluting the deployable tree
    assert(Files.readAllBytes(Paths.get(s"$base/tree/8/41/97.pbf")).toSeq ==
      Seq[Byte](1, 2, 3))
    assert(Files.exists(Paths.get(s"$base/tree/metadata.json")))
    val walked = Files.walk(Paths.get(base)).iterator()
    while (walked.hasNext) {
      val f = walked.next().toString
      assert(!f.endsWith(".crc"), s"checksum sidecar in the tree: $f")
    }

    // and the engine reads its own tree back THROUGH the scheme —
    // readPbfTree is a Spark binaryFile scan, so this also proves the
    // scan side of the seam
    val back = Incremental.readPbfTree(spark, s"mock://$base/tree")
      .collect()
      .map(r => (r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y")) ->
        r.getAs[Array[Byte]]("tile_bytes").toSeq).toMap
    val in = tiles.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        r.getAs[Array[Byte]](3).toSeq).toMap
    assert(back == in, "scheme round-trip must be byte-exact")
  }

  test("the NIGHTLY LOOP runs end-to-end on the foreign scheme: full build, in-place delta, byte parity") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockSchemeFs].getName)
    // a 5x4 shared-border grid (block-groups knobs), one changed cell
    val (cols, rows) = (5, 4)
    val nCells = cols * rows
    val years = (2000 to 2018).map(_.toString)
    val metrics = Seq("population", "judgement_rate", "filing_rate")
    def geoid(c: Int) = f"$c%012d"
    def value(c: Int, y: Int, m: Int, bump: Int): String =
      (((c * 31 + y * 7 + m * 13 + bump) % 97) + 1).toString
    def writeLong(bumped: Set[Int]): String = {
      val dir = Files.createTempDirectory("sch-long").toString
      val sb = new StringBuilder("id,year,name,parent_location," +
        metrics.mkString(",") + "\n")
      for (c <- 0 until nCells; y <- years) {
        sb.append(geoid(c)).append(',').append(y).append(",Cell ").append(c)
          .append(",Gridland")
        for (m <- metrics.indices)
          sb.append(',').append(value(c, y.toInt, m, if (bumped(c)) 1 else 0))
        sb.append('\n')
      }
      val p = Paths.get(dir, "data.csv")
      Files.write(p, sb.toString.getBytes("UTF-8"))
      p.toString
    }
    val feats = {
      val dir = Files.createTempDirectory("sch-geo").toString
      val sb = new StringBuilder
      for (c <- 0 until nCells) {
        val (gx, gy) = (c % cols, c / cols)
        val (x0, y0) = (-100.0 + gx * 0.1, 30.0 + gy * 0.1)
        val (x1, y1) = (x0 + 0.1, y0 + 0.1)
        sb.append(s"""{"type":"Feature","properties":{"GEOID":"${geoid(c)}"},""" +
          s""""geometry":{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],""" +
          s"""[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}}""").append('\n')
      }
      val p = Paths.get(dir, "features.jsonl")
      Files.write(p, sb.toString.getBytes("UTF-8"))
      val f = Pipeline.geometryFeatures(
        graft.sources.Sources.readGeoJsonLines(spark, p.toString)).persist()
      f.count(); f
    }
    def md5tree(dir: String): Map[String, String] = {
      val base = Paths.get(dir)
      if (!Files.exists(base)) return Map.empty
      val out = scala.collection.mutable.Map.empty[String, String]
      Files.walk(base).filter(_.toString.endsWith(".pbf")).forEach { p =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(p))
        out(base.relativize(p).toString) = d.map("%02x".format(_)).mkString
      }
      out.toMap
    }
    val oldCsv = writeLong(Set.empty)
    val newCsv = writeLong(Set(7))

    // full build of the OLD snapshot: once local, once through mock://
    val localOld = Files.createTempDirectory("sch-local").toString
    val mockBase = Files.createTempDirectory("sch-mock").toString
    Pipeline.runRegion(spark, oldCsv, "raw", metrics, "block-groups",
      features = Some(feats), outDir = Some(localOld))
    Pipeline.runRegion(spark, oldCsv, "raw", metrics, "block-groups",
      features = Some(feats), outDir = Some(s"mock://$mockBase"))
    assert(md5tree(s"$localOld/block-groups") ==
      md5tree(s"$mockBase/block-groups"),
      "full build through the foreign scheme must be byte-identical")

    // the nightly delta IN PLACE on the mock tree
    val stats = Incremental.incrementalRegion(spark, oldCsv, newCsv, "raw",
      metrics, "block-groups", feats,
      prevDir = s"mock://$mockBase", outDir = s"mock://$mockBase")
    assert(!stats.fullRebuild && stats.changed == 1, stats.toString)

    // parity oracle: a full rebuild of the NEW snapshot, locally
    val localNew = Files.createTempDirectory("sch-new").toString
    Pipeline.runRegion(spark, newCsv, "raw", metrics, "block-groups",
      features = Some(feats), outDir = Some(localNew))
    assert(md5tree(s"$mockBase/block-groups") ==
      md5tree(s"$localNew/block-groups"),
      "in-place delta through the foreign scheme must equal the full rebuild")
    feats.unpersist()
  }

  test("the local tile sink sets no permissions: same bytes and modes as the Hadoop create path") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.permcount.impl", classOf[PermCountingFs].getName)
    val tiles = Seq(
      (0, 0L, 0L, Array[Byte](1, 2, 3)),
      (1, 0L, 1L, Array[Byte](4, 5)),
      (1, 1L, 1L, Array.tabulate[Byte](4096)(_.toByte))
    ).toDF("z", "x", "y", "tile_bytes")
    val base = Files.createTempDirectory("permcount").toString
    // the Hadoop path: FileSystem.create per tile, parents made by it
    val hadoopFs = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("permcount:///"), spark.sparkContext.hadoopConfiguration)
    PermCountingFs.calls.set(0)
    try {
      hadoopFs.setWriteChecksum(false)
      for (r <- tiles.collect()) {
        val out = hadoopFs.create(new org.apache.hadoop.fs.Path(
          s"permcount://$base/hadoop/${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}.pbf"), true)
        try out.write(r.getAs[Array[Byte]](3)) finally out.close()
      }
    } finally hadoopFs.close()
    def walk(dir: String): Map[String, (String, Seq[Byte])] = {
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.map { p =>
        root.relativize(p).toString ->
          (java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p)),
            if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty)
      }.toMap
    }
    val hadoop = walk(s"$base/hadoop")
    // one call per file and per directory (the tree's root included)
    assert(PermCountingFs.calls.get == hadoop.size,
      s"${PermCountingFs.calls.get} setPermission calls for ${hadoop.size} entries")

    PermCountingFs.calls.set(0)
    graft.sinks.TileBuild.writeTiles(tiles, s"permcount://$base/sink", Seq("z", "x", "y"))
    assert(PermCountingFs.calls.get == 0,
      s"the sink made ${PermCountingFs.calls.get} setPermission calls")
    assert(walk(s"$base/sink") == hadoop)
  }

  test("a non-local FileSystem gets every tile byte through FileSystem.create") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.filtered.impl", classOf[FilteredFs].getName)
    val tiles = Seq(
      (0, 0L, 0L, Array[Byte](1, 2, 3)),
      (1, 0L, 1L, Array[Byte](4, 5)),
      (1, 1L, 1L, Array.tabulate[Byte](70000)(i => (i * 31).toByte))
    ).toDF("z", "x", "y", "tile_bytes")
    val base = Files.createTempDirectory("filtered").toString
    FilteredFs.creates.set(0)
    graft.sinks.TileBuild.writeTiles(tiles, s"filtered://$base/t", Seq("z", "x", "y"))
    assert(FilteredFs.creates.get == 3,
      s"${FilteredFs.creates.get} FileSystem.create calls for 3 tiles")
    val root = Paths.get(s"$base/t")
    val written = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    val expected = tiles.collect().map(r => s"${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}.pbf" ->
      r.getAs[Array[Byte]](3)).toMap
    assert(written.keySet == expected.keySet)
    for ((p, bytes) <- expected) assert(java.util.Arrays.equals(written(p), bytes),
      s"$p: ${written(p).length} bytes written of ${bytes.length}")
  }

  test("local writes are byte-identical to the pre-FS-API layout") {
    val tiles = Seq((3, 1L, 2L, Array[Byte](9, 8, 7)))
      .toDF("z", "x", "y", "tile_bytes")
    val dir = Files.createTempDirectory("plainfs").toString
    graft.sinks.TileBuild.writePbfDirectory(tiles, s"$dir/t", Map("k" -> "v"))
    assert(Files.readAllBytes(Paths.get(s"$dir/t/3/1/2.pbf")).toSeq ==
      Seq[Byte](9, 8, 7))
    val meta = new String(
      Files.readAllBytes(Paths.get(s"$dir/t/metadata.json")), "UTF-8")
    assert(meta.contains("\"k\": \"v\"") && meta.contains("\"format\": \"pbf\""))
    val walked = Files.walk(Paths.get(dir)).iterator()
    while (walked.hasNext) {
      val f = walked.next().toString
      assert(!f.endsWith(".crc"), s"checksum sidecar in the tree: $f")
    }
  }
}
