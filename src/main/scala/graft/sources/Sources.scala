package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources and sinks mirroring the reference's IO surface
  * (SURVEY.md §2.1 S1-S5, S8-S9).
  *
  * Reference semantics:
  *  - S1 CSV scan with header, all-string cells, empty ⇒ null
  *    (`shape-data.js:76`; `--empty-csv-columns-are-null`,
  *    `build.sh:117,134`);
  *  - S2 gzip'd fetch (`build.sh:75-76`) — Spark's codec auto-detection
  *    covers `.csv.gz` transparently;
  *  - S3 CSV sink, RFC-4180 quoting, header first (`shape-data.js:109,124`),
  *    single file (the reference writes one file per region);
  *  - S4 GeoJSON FeatureCollection scan (`build.sh:111,139`);
  *  - S8/S9 gzip'd CSV publish (`deploy-source.sh:38-45`).
  *
  * Scale notes: GEOID must NEVER be schema-inferred (leading zeros,
  * `build.sh:133`) — every reader here takes an explicit schema. The
  * single-file sink (`coalesce(1)`) exists for reference parity only;
  * the partitioned variant is the 100 TB path.
  */
object Sources {

  /** Long-table schema builder: id/year/name/parent_location strings +
    * all-string metric cells (typing happens at the extents edge, P7 —
    * the reference is stringly typed end-to-end, SURVEY.md §1.3).
    */
  def longSchema(metricCols: Seq[String]): StructType =
    StructType(
      Seq(StructField("id", StringType), StructField("year", StringType),
        StructField("name", StringType),
        StructField("parent_location", StringType)) ++
        metricCols.map(StructField(_, StringType)))

  /** S1/S2: header CSV scan with explicit schema; gzip auto-detected
    * from the extension; empty cells become null (Spark default
    * `nullValue=""` — the reference's `--empty-csv-columns-are-null`).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", true)
      .option("nullValue", "")
      .csv(path)

  /** Quarantined S1 scan — the rejects channel the reference lacks.
    * The reference's failure mode for malformed input is a crash
    * (`README.md:149-153`: a misnamed column kills the whole build);
    * fail-fast is the right default for schema drift, but a 100 TB
    * batch job cannot lose a night to ONE ragged row among billions.
    * This variant parses PERMISSIVE with `_corrupt_record` capture:
    * clean rows flow on, malformed rows (wrong token count, unclosed
    * quote, type-cast failure under a typed schema) land in
    * `rejectsOut` as their raw line for offline triage, and the job
    * still aborts — loudly, with counts — when the reject fraction
    * crosses `maxRejectFraction` (mass rejection means the INPUT is
    * wrong, e.g. a renamed column, and silently dropping 40% of a
    * corpus is worse than crashing).
    *
    * Cost: one extra aggregate scan (+ one filtered scan when rejects
    * are written). The clean frame is returned LAZY — downstream pays
    * its own scan exactly as with [[readCsv]]; nothing corpus-sized is
    * collected or cached here.
    *
    * SHARP EDGE for wide tables consumed repeatedly: the clean frame
    * crosses an RDD barrier that permanently disables column pruning
    * (pruning would re-admit rejected rows — see the in-code note), so
    * a 600-column quarantined read pays the full-width parse on EVERY
    * consumer. The escape hatch is to land the clean frame once —
    * `read.clean.write.parquet(staged)` — and point all consumers at
    * the staged parquet, which prunes normally again (spec-pinned:
    * SourcesSpec's landed-parquet case asserts the restored ReadSchema).
    * The gate's verdict is already final at landing time; re-reading
    * the staged file cannot re-admit anything.
    */
  final case class QuarantinedRead(clean: DataFrame, rejected: Long,
                                   total: Long)

  def readCsvQuarantined(spark: SparkSession, path: String,
                         schema: StructType,
                         rejectsOut: Option[String] = None,
                         maxRejectFraction: Double = 0.01): QuarantinedRead = {
    val cc = "_graft_corrupt"
    require(!schema.fieldNames.contains(cc), s"schema may not contain $cc")
    val parsed = spark.read
      .schema(schema.add(StructField(cc, StringType)))
      .option("header", true)
      .option("nullValue", "")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", cc)
      .csv(path)
    // CSV column pruning is a correctness trap here, not just a perf
    // knob: univocity only parses the REQUESTED columns, so a query
    // referencing (say) just id + the corrupt marker never notices a
    // ragged tail or a bad cast in an unrequested column — the marker
    // stays null and the row silently counts as clean. Every quarantine
    // query below therefore references EVERY data column, forcing the
    // full-width parse the gate's verdict is defined over.
    val fullWidth = schema.fieldNames.toSeq.map(c => count(col(c)).as(s"__$c"))
    val counts = parsed.agg(count(lit(1)).as("total"),
      (count(col(cc)).as("bad") +: fullWidth): _*).head()
    val (total, bad) = (counts.getLong(0), counts.getLong(1))
    if (bad > 0) rejectsOut.foreach { out =>
      // raw line plus whatever parsed partially — full column list keeps
      // the parse full-width (see above) and helps triage
      writeCsv(parsed.filter(col(cc).isNotNull)
        .select(schema.fieldNames.toSeq.map(col) :+ col(cc).as("raw_record"): _*),
        out)
    }
    if (total > 0 && bad > maxRejectFraction * total)
      throw new IllegalStateException(
        f"quarantine threshold exceeded: $bad of $total rows malformed " +
          f"(${bad.toDouble / total}%.4f > $maxRejectFraction%.4f) — " +
          "refusing to continue; inspect the rejects channel" +
          rejectsOut.fold("")(p => s" at $p"))
    // the clean frame crosses an RDD barrier: a downstream projection
    // would otherwise re-prune the parse and RE-ADMIT rows the gate
    // just rejected (a ragged tail is invisible to a pruned parse).
    // The price is that consumers always pay the full-width scan —
    // that is the quarantine contract; pruning-sensitive paths that
    // trust their input use readCsv.
    val cleanPlan = parsed.filter(col(cc).isNull).drop(cc)
    QuarantinedRead(
      spark.createDataFrame(cleanPlan.rdd, StructType(schema.fields)),
      bad, total)
  }

  /** S3/S9: CSV sink with header; `singleFile` reproduces the
    * reference's one-file-per-region output, `gzip` the publish step
    * (`deploy-source.sh:41`).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false,
               gzip: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val w = out.write.mode("overwrite").option("header", true)
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  /** BUCKETED parquet table sink — the co-located-join face of the §2
    * scale checklist ("repartition()/bucketing for co-located joins"):
    * both sides of a repeated large-large equi-join written with the
    * SAME (buckets, key) layout join with ZERO exchanges — the shuffle
    * is paid ONCE at write time and amortized over every subsequent
    * join, the technique for fact-fact joins where neither side
    * broadcasts (at 100 TB, the lineitem ⋈ orders class).
    * `sortBy(key)` additionally pre-sorts within buckets so the
    * sort-merge join's sort can also be elided when bucket files allow.
    * Spark requires bucketed writes to go through the session catalog
    * (`saveAsTable`); read back with `spark.table(name)` — the bucket
    * metadata only survives through the catalog, a plain
    * `read.parquet(path)` forgets the layout (BucketedJoinSpec pins
    * the zero-exchange plan and that trap).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** S4: GeoJSON FeatureCollection scan → one row per feature with
    * `GEOID`, geometry type, and raw geometry JSON string (geometry
    * stays opaque until the tiling stage, like the reference's
    * mapshaper pass-through).
    *
    * Deliberately NO schema inference: a mixed Polygon/MultiPolygon
    * collection would make Spark merge the conflicting `coordinates`
    * array depths into strings. Instead the document is read as text
    * and features are split with JSON-path expressions (`from_json` to
    * `array<string>` keeps each feature's raw JSON). A FeatureCollection
    * is a single JSON document, so one input row per FILE — the scale
    * path for huge geometry is the line-delimited variant (S5), which
    * splits for free.
    */
  def readGeoJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).text(path)
      .select(explode(from_json(
        get_json_object(col("value"), "$.features"),
        ArrayType(StringType))).as("f"))
      .select(
        get_json_object(col("f"), "$.properties.GEOID").as("GEOID"),
        get_json_object(col("f"), "$.geometry.type").as("geom_type"),
        get_json_object(col("f"), "$.geometry").as("geometry_json"))

  /** S5 file-reader twin of [[readGeoJson]]: one feature JSON object
    * per line (the ndjson stream tippecanoe-json-tool emits,
    * `build.sh:115-118`). A FeatureCollection is a single JSON document
    * and forces one input row per FILE through `wholetext`; the
    * line-delimited variant splits at newlines for free, so a
    * continent-sized geometry corpus scans in parallel — this is the
    * 100 TB path the [[readGeoJson]] scaladoc promises. Output schema
    * is identical, so [[graft.Pipeline.geometryFeatures]] consumes
    * either interchangeably.
    */
  def readGeoJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(
        get_json_object(col("value"), "$.properties.GEOID").as("GEOID"),
        get_json_object(col("value"), "$.geometry.type").as("geom_type"),
        get_json_object(col("value"), "$.geometry").as("geometry_json"))

  /** Scale-path sink: parquet partitioned by the given columns with
    * rows sorted within partitions by `sortCol` — the 100 TB replacement
    * for the reference's one-CSV-per-region output. Partition pruning on
    * read is free; sorting by the join key keeps downstream merge joins
    * exchange-free when bucketing is configured on the warehouse table.
    */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              sortCol: String): Unit =
    df.sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read twin of [[writePartitionedParquet]] with an EXPLICIT schema:
    * partition-value inference would coerce directory values like
    * `decade=00` to int 0 — the same leading-zero hazard P10 exists for
    * (`build.sh:133`). Passing the schema keeps partition columns typed
    * as declared AND preserves partition pruning on reads.
    */
  def readPartitionedParquet(spark: SparkSession, path: String,
                             schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S5: line-delimited feature stream (tippecanoe-json-tool emits one
    * sorted feature per line, `build.sh:115-118`) — as a DataFrame this
    * is just the GeoJSON features ordered by key; no materialization
    * boundary needed in Spark.
    */
  def featureLines(geo: DataFrame): DataFrame = geo.orderBy("GEOID")

  /** JSONL shard sink — the training-data export format (one JSON
    * object per line, gzip'd, size-bounded shards a downstream loader
    * streams without a footer read). `maxRecordsPerShard` bounds shard
    * size via Spark's own per-file record split, so shard count scales
    * with data volume while each file stays loader-friendly; no
    * coalesce(1) anywhere — a 100 TB export writes from every task.
    */
  def writeJsonl(df: DataFrame, path: String, gzip: Boolean = true,
                 maxRecordsPerShard: Long = 100000L): Unit = {
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerShard)
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** Read twin of [[writeJsonl]] with an EXPLICIT schema (inference
    * would re-scan the corpus and guess doc-id types; same discipline
    * as [[readPartitionedParquet]]). Codec is extension-detected.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
