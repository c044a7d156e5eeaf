package graft

import org.apache.spark.sql.SparkSession

import graft.config.EtlConfig

/** CLI twin of the reference's `build.sh [-e] [-t] [-d] [-r region]`
  * (`/root/reference/build.sh:39-64`): one process, one lazy Spark plan
  * per region instead of the reference's per-stage OS processes.
  *
  * Usage:
  *   graft.Main --data <long.csv[.gz]> --out <dir> [-r region]...
  *     [-i raw|modeled] [-e] [-t --geo <source.geojson|features.parquet|csv>]
  *
  * -e writes extents CSV, -t builds tile pyramids. --geo takes the
  * source GeoJSON (`build.sh:111`: polygons drive the choropleth layer,
  * polylabel interior points the bubble layer) or, degraded, a
  * parquet/csv of pre-computed GEOID, lon, lat points (bubble layer
  * only). The wide CSV is always written (`build.sh:81`) as a header CSV
  * part-file directory `<out>/<region>.wide`; -e adds the single-file
  * `<out>/<region>.extents`. Deploy (-d) is out of scope offline —
  * outputs land under --out; point it at a mounted bucket in production.
  */
object Main {
  final case class Args(data: String = "", out: String = "",
                        geo: Option[String] = None,
                        regions: Seq[String] = Nil, // default applied post-parse
                        inputType: String = "raw",
                        extents: Boolean = false, tiles: Boolean = false)

  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case "--data" :: v :: rest => parse(rest, acc.copy(data = v))
    case "--out" :: v :: rest => parse(rest, acc.copy(out = v))
    case "--geo" :: v :: rest => parse(rest, acc.copy(geo = Some(v)))
    case "-r" :: v :: rest => parse(rest, acc.copy(regions = acc.regions :+ v))
    case "-i" :: v :: rest => parse(rest, acc.copy(inputType = v))
    case "-e" :: rest => parse(rest, acc.copy(extents = true))
    case "-t" :: rest => parse(rest, acc.copy(tiles = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  /** Parse and validate the CLI arguments (before any session exists). */
  def parseArgs(argv: Seq[String]): Args = {
    val parsed = parse(argv.toList, Args())
    val args = if (parsed.regions.isEmpty)
      parsed.copy(regions = Seq("counties")) else parsed
    require(args.data.nonEmpty && args.out.nonEmpty, "--data and --out required")
    // fail fast on unknown regions — EtlConfig zoom lookups are
    // Map.apply and would otherwise die mid-pipeline with an opaque
    // NoSuchElementException after minutes of work
    val unknown = args.regions.filterNot(EtlConfig.regions.contains)
    require(unknown.isEmpty,
      s"unknown region(s): ${unknown.mkString(", ")} " +
        s"(known: ${EtlConfig.regions.mkString(", ")})")
    args
  }

  /** Every region through [[Pipeline.runRegion]], which writes the wide
    * and extents CSVs itself, so the long CSV is scanned once per region
    * (PipelineSpec pins this for Main too), and publishes each output
    * whole, so a re-run over an existing --out leaves no tile the new
    * data does not produce.
    */
  def run(spark: SparkSession, args: Args): Unit = {
    val metricNames = EtlConfig.columnMap(args.inputType).map(_._1)
      .filterNot(Seq("id", "year", "name", "parent_location").contains)
    for (region <- args.regions) {
      val features = if (!args.tiles) None else args.geo.map { g =>
        if (g.endsWith(".geojson") || g.endsWith(".json"))
          Pipeline.geometryFeatures(graft.sources.Sources.readGeoJson(spark, g))
        else if (g.endsWith(".parquet")) spark.read.parquet(g)
        else spark.read.option("header", true).csv(g)
      }
      val wide = Pipeline.runRegion(spark, args.data, args.inputType,
        metricNames, region, features = features,
        outDir = Some(s"${args.out}/tiles"),
        wideOut = Some(s"${args.out}/$region.wide"),
        extentsOut =
          if (args.extents) Some(s"${args.out}/$region.extents") else None)
      val metricCols = wide.columns.count(c => !EtlConfig.idColumns.contains(c))
      println(s"[graft] $region: wide=${wide.columns.length} cols" +
        (if (args.extents) s", extents over $metricCols metric-year cols" else ""))
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val b = Session.builder(Session.cpus).appName("graft-etl")
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }
}
