package graft

import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: every key query must keep the plan shape it was
  * designed for (SURVEY.md §4 — pushdown, pruning, broadcast, partial
  * aggregation, window group limits). These are scale guarantees: a
  * regression here is invisible at sf0.01 and fatal at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite with SharedSpark with PlanCapture {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  /** `q`'s plan, and every plan its build and one run execute: a
    * checkout (Pipeline.withCheckouts) runs as its own execution while
    * the plan is built, so its scan is captured too.
    */
  private def builtAndRun(q: String): (String, Seq[SparkPlan]) = {
    var p = ""
    val plans = capturePlans {
      val df = SparkEntry.queries(q)(spark, d)
      p = df.queryExecution.executedPlan.toString
      df.collect()
    }
    (p, plans)
  }

  /** The documents parquet is read by one scan across a build and run
    * (the checkout's), and the built plan `p` reads the checked-out
    * frame at least twice and the file never.
    */
  private def assertDocumentsCheckedOutOnce(p: String,
      plans: Seq[SparkPlan]): Unit = {
    assert(fileScans(plans, "documents").size == 1,
      "the documents must be scanned once across build and run")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2 &&
      !p.contains("FileScan parquet"),
      s"every consumer must read the checked-out frame:\n$p")
  }

  test("catalogue plans that materialize intermediates leave no cache, built or run") {
    // an explain or plan audit builds plans it never runs; a cache entry
    // registered then would be adopted by the next identical plan
    val cm = spark.sharedState.cacheManager
    for (q <- Seq("q23_minhash_lsh", "q25_ngram_jaccard", "q52_dedup_xxhash",
        "q61_payload_neardup", "q66_sequence_packing", "q67_unigram_logprob",
        "q70_bigram_logprob", "q71_bpe_packing", "q85_dsir_weights",
        "q98_incremental_dedup", "q103_decontaminate_bloom",
        "q107_intra_batch_dedup", "q121_pagerank", "q125_communities",
        "q131_minhash_calibration", "q134_bloom_fp_audit")) {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(q)(spark, d)
      df.queryExecution.executedPlan
      assert(cm.isEmpty, s"$q: building the plan registered a cache entry")
      df.collect()
      assert(cm.isEmpty, s"$q: running the plan left a cache entry")
    }
  }

  test("q01: filter + column pruning reach the parquet scan; partial agg") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate predicate must push into the parquet scan")
    assert(p.contains("partial_sum"), "map-side partial aggregation required")
    // scan reads only the 6 needed columns of lineitem's 16
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_partkey"),
      "column pruning must drop unused lineitem columns")
  }

  test("q02 pivot: exactly one aggregation pass (hash + presentation sort)") {
    val p = plan("q02_shape_pivot")
    assert(p.contains("partial_max_by"), "pivot must partial-aggregate map-side")
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"pivot needs one hash shuffle + one range sort, got:\n$p")
  }

  test("q07: global sort+limit plans as TakeOrderedAndProject") {
    assert(plan("q07_sort_limit").contains("TakeOrderedAndProject"),
      "orderBy.limit must not global-sort")
  }

  test("q08: star join is all broadcast, fact table never shuffles") {
    val p = plan("q08_regional_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"),
      "dims must broadcast — SMJ here would shuffle the fact table")
  }

  test("q09: semi-join pushes the totalprice filter to the orders scan") {
    val p = plan("q09_semi_join")
    assert(p.contains("GreaterThan(o_totalprice,400000"),
      "predicate must reach the orders parquet scan")
  }

  test("top-k windows use WindowGroupLimit (no full per-group sort)") {
    for (q <- Seq("q15_topk_per_group", "q26_cosine_topk", "q32_tile_density_drop",
        "q89_sq8_adc"))
      assert(plan(q).contains("WindowGroupLimit"), s"$q must rank-limit")
  }

  test("q89: SQ8 serving — query panel broadcasts onto the code table") {
    val p = plan("q89_sq8_adc")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the query panel must broadcast, never shuffle the code table:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"code table must stream map-side against the broadcast panel:\n$p")
  }

  test("q96: filtered ANN — sargable predicate pushes into the embeddings scan") {
    val p = plan("q96_filtered_ann")
    // PRE-filtering: the label IN-list must reach the parquet scan that
    // feeds the keep-set semi-join — never a post-top-k residual filter
    assert(p.contains("In(label"),
      s"label predicate must push into the embeddings parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"filtered candidates meet the lists on equi-joins only:\n$p")
    assert(p.contains("WindowGroupLimit"),
      "filtered top-k must still rank-limit map-side")
  }

  test("q90/q91: IVF-SQ — equi-join probe pruning, rank-limited, no product") {
    for (q <- Seq("q90_ivfsq_topk", "q91_ivfsq_recall")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: probes meet the list assignment on an equi-join, never a product:\n$p")
      assert(p.contains("WindowGroupLimit"), s"$q top-k must rank-limit map-side")
    }
  }

  test("q17: attribute join onto features is a broadcast join") {
    assert(plan("q17_tile_attr_join").contains("BroadcastHashJoin"))
  }

  test("q26: query side broadcasts; candidates stream map-side") {
    val p = plan("q26_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight") ||
      p.contains("BroadcastExchange"))
  }

  test("q16: as-of join is union + window — NO join node, no pair explosion") {
    val p = plan("q16_asof_join")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"), "as-of resolves through a window pass")
    assert(p.contains("Union"))
  }

  test("q03: exact extents = distributed histogram, no percentile buffer") {
    val p = plan("q03_extents")
    // the histogram groupBy(id, value) must combine duplicates map-side
    assert(p.contains("partial_count"),
      "value histogram must partial-aggregate map-side")
    // NO exact Percentile aggregate anywhere: that operator buffers a
    // group's whole value multiset in memory — the 100 TB OOM this
    // design avoids. (approx_percentile would be fine: it is a constant-
    // memory sketch. The exact path places its range-bucket boundaries
    // at equal widths between the min and max of each group.)
    assert(!p.toLowerCase.replace("approx_percentile", "")
      .replace("percentile_approx", "").contains("percentile"),
      "exact extents must not use the in-memory percentile aggregate")
    // the cumulative-rank window must be range-bucketed: its exchange
    // partitions by (group, bkt), never by the group alone — a 100 TB
    // continuous metric would otherwise sort on one task
    assert("hashpartitioning\\([^)]*bkt".r.findFirstIn(p).isDefined,
      s"cumulative window must partition by (group, bkt):\n$p")
    assert(!p.contains("SinglePartition"),
      "no single-partition exchange anywhere in exact extents")
  }

  test("q44: grouped extents keeps the same range-bucketed shape") {
    val p = plan("q44_extents_by_group")
    assert("hashpartitioning\\([^)]*bkt".r.findFirstIn(p).isDefined,
      s"grouped cumulative window must partition by (group, metric, bkt):\n$p")
    assert(!p.contains("SinglePartition"),
      "no single-partition exchange in grouped extents")
  }

  test("q22: exact dedup shuffles only the digest — md5 computed map-side") {
    val p = plan("q22_exact_dedup")
    assert(p.contains("Exchange hashpartitioning(text_md5"),
      "the shuffle key must be the 16-byte digest, not the document text")
    assert(p.contains("partial_min"), "min(doc_id) must partial-aggregate")
    // the partial aggregate's output carries no raw text column
    val partialLine = p.linesIterator.find(_.contains("partial_min")).get
    assert(!partialLine.matches(".*output=\\[.*[^_]text#.*"), partialLine)
  }

  test("q51: base-zoom thinning is a pure pre-shuffle filter (no join)") {
    val p = plan("q51_base_zoom_thin")
    assert(p.contains("Generate explode"), "zoom fan-out must be a Generate")
    assert(!p.contains("Join"), s"thinning must not plan a join:\n$p")
    assert(p.contains("partial_count"), "per-zoom counts must partial-aggregate")
  }

  test("q54: rolling-hash fingerprint is a pure projection (no shuffle but the sort)") {
    val p = plan("q54_rolling_fingerprint")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"rolling fingerprint must be a per-row projection:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"only the output sort may shuffle:\n$p")
  }

  test("q55: eval shingle set broadcasts; the train corpus never shuffles into the join") {
    val p = plan("q55_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"decontamination must be a broadcast left-semi join (benchmarks are tiny, the corpus is not):\n$p")
    // the only Exchanges allowed: eval-side distinct (key = __sh alone),
    // the final id distinct, and the output sort — an exchange keyed on
    // BOTH __sh and doc_id would be the exploded train corpus shuffling
    for (l <- p.linesIterator if l.contains("Exchange hashpartitioning(__sh"))
      assert(!l.contains("doc_id"),
        s"train (id, shingle) rows must meet the broadcast map-side, not shuffle: $l")
  }

  test("q57: balance thresholds broadcast; the corpus is filtered map-side") {
    val p = plan("q57_source_balance")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source thresholds must broadcast onto the corpus:\n$p")
    assert(p.contains("partial_count"), "source rollups must partial-aggregate")
  }

  test("q58: boilerplate shuffles digests, never segment text") {
    val p = plan("q58_boilerplate")
    assert(p.contains("Exchange hashpartitioning(__dig"),
      s"segment frequency must shuffle on the digest:\n$p")
    // no exchange may carry the exploded segment column
    for (l <- p.linesIterator if l.contains("Exchange hashpartitioning"))
      assert(!l.contains("__seg"),
        s"segment text must be digested map-side and dropped before any shuffle: $l")
  }

  test("q60: small blocklist inlines to a pure map-side filter — no join, no shuffle") {
    val p = plan("q60_domain_filter")
    // the inline InSet path: the blocked-id set is never materialized,
    // so the filter is a pure projection directly over the scan and no
    // join of any kind appears; the only exchanges belong to the
    // query's downstream kept-host rollup (hash agg + output sort)
    assert(!p.contains("Join"), s"inline path must not join at all:\n$p")
    assert(p.contains("Filter NOT exists"),
      s"corpus must be filtered map-side over the suffix chain:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"only the downstream rollup may shuffle:\n$p")
  }

  test("q62: temperature thresholds broadcast; corpus filtered map-side") {
    val p = plan("q62_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source fixed-point thresholds must broadcast onto the corpus:\n$p")
    assert(p.contains("partial_count"), "source rollups must partial-aggregate")
  }

  test("q67: top-V vocab is TakeOrdered and broadcasts; corpus text never shuffles") {
    val (p, plans) = builtAndRun("q67_unigram_logprob")
    assert(p.contains("TakeOrderedAndProject"),
      "top-V vocabulary selection must not global-sort")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny vocabulary must broadcast onto the exploded corpus")
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "per-doc mean must partial-aggregate map-side")
    // the vocab-count branch legitimately shuffles (token, count) pairs
    // (partial-agg'd, tiny); the exploded corpus must meet the vocab in
    // a BROADCAST join — a shuffle join here would move every (id,
    // token) row. (Exchange lines print only partitioning keys, so the
    // reliable guard is banning shuffle-join operators outright.)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle into the vocab join:\n$p")
    // single-tokenization contract: the exploded (id, token) frame is
    // checked out, so the documents parquet is scanned once across the
    // build and the run, and EVERY consumer reads the checked-out
    // relation — the lazy plan tokenized the corpus once per consumer,
    // 2x the most expensive per-row projection at scale
    assertDocumentsCheckedOutOnce(p, plans)
  }

  test("q70: bigram + vocab tables broadcast; corpus pair frame checked out once") {
    val (p, plans) = builtAndRun("q70_bigram_logprob")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"vocab (x2 roles) and bigram table must all broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle into the score joins:\n$p")
    assertDocumentsCheckedOutOnce(p, plans)
  }

  test("q66: packing prefix sum is range-bucketed — corpus never single-partitions") {
    val (built, plans) = builtAndRun("q66_sequence_packing")
    // the corpus-side running sum, computed by the checkout's own
    // execution, must window by bucket...
    val checkout = plans.map(_.toString).filter(_.contains("FileScan parquet"))
    assert(checkout.size == 1 &&
      "hashpartitioning\\(__bkt".r.findFirstIn(checkout.head).isDefined,
      s"corpus cumsum must partition by bucket:\n${checkout.mkString("\n")}")
    // ...and across build and run the only single-partition pass
    // carries per-bucket sums (one tiny row per bucket), never corpus rows
    val singles = plans.flatMap(allNodes).count {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      case _ => false
    }
    assert(singles <= 1, plans.mkString("\n"))
    assert(built.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back onto the corpus")
  }

  test("q66: both prefix-sum consumers share ONE checked-out tokenized frame") {
    // the bucket-offset branch and the final join both read the
    // checked-out post-window frame (four longs per row), so the corpus
    // scan + tokenization + bucket shuffle + window run once — without
    // the barrier they execute twice (AQE does not stage-reuse across
    // the two window consumers; verified empirically)
    val (built, plans) = builtAndRun("q66_sequence_packing")
    assertDocumentsCheckedOutOnce(built, plans)
  }

  test("q63: multi-k decontamination scans each corpus once for ALL widths") {
    import org.apache.spark.sql.functions.col
    // the operator directly (the q63 fixture unions implants, which
    // legitimately re-reads documents for corpus CONSTRUCTION): train
    // and eval are one parquet relation each, so the whole multi-width
    // plan must contain exactly two file scans — a per-k rescan would
    // add |ks|-1 more
    val docs = Tables.documents(spark, d)
    val p = graft.operators.Dedup.contaminationStats(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", Seq(8, 13))
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"one scan per corpus side regardless of |ks|:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval (k, hash) set must broadcast into a map-side semi-join:\n$p")
    // same no-corpus-shuffle contract as q55: no exchange may carry the
    // exploded train (id, k, hash) rows
    for (l <- p.linesIterator if l.contains("Exchange hashpartitioning(__k"))
      assert(!l.contains("doc_id"),
        s"train shingle rows must meet the broadcast map-side, not shuffle: $l")
  }

  test("q27/q28/q23: banded LSH candidates stay an equi-join with bounded fan-in") {
    for (q <- Seq("q27_lsh_ann", "q28_embed_neardup", "q23_minhash_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q candidate generation must be an equi-join on (band, bucket):\n$p")
      // the bucket fan-in cap must prune map-side, not post-sort
      assert(p.contains("WindowGroupLimit"),
        s"$q bucket cap must plan as WindowGroupLimit")
    }
  }

  test("q86: SemDeDup anchor cap prunes map-side; pair stage is an equi-join") {
    val p = plan("q86_semantic_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"within-cluster pairs must come from an equi-join on cid:\n$p")
    // the per-cluster anchor cap (maxCluster) is the linear-work bound;
    // it must prune before the join, as a WindowGroupLimit
    assert(p.contains("WindowGroupLimit"),
      s"anchor cap must plan as WindowGroupLimit:\n$p")
  }

  test("q95: tau sweep serves from the stored clustering — no re-scan, no argmin") {
    // q86 materializes the clustering registry table first
    SparkEntry.queries("q86_semantic_dedup")(spark, d).collect()
    val p = plan("q95_semdedup_tau_sweep")
    // serving reads the clustering table ONCE (the eager localCheckpoint
    // materialization); the final plan must hold no parquet scan at all —
    // no raw-corpus re-read, no centroid fixture, and therefore no
    // argmin re-assignment anywhere in the sweep
    assert(!p.contains("FileScan parquet"),
      s"tau sweep must not re-scan any parquet (assignment is stored):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair stage must stay the capped cid equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"anchor cap must prune map-side before the pair join:\n$p")
  }

  test("decade-partitioned parquet read prunes partitions (T6 scale path)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decade-part").toString
    val df = Seq(("01001", "00", 1.0), ("01001", "10", 2.0),
      ("02013", "00", 3.0), ("02013", "10", 4.0))
      .toDF("GEOID", "decade", "v")
    graft.sources.Sources.writePartitionedParquet(df, dir, Seq("decade"), "GEOID")
    // read via the explicit-schema twin: bare spark.read.parquet would
    // INFER decade "00" as int 0 (leading-zero hazard, P10) and the
    // string predicate below would prune nothing
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("GEOID",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("decade",
        org.apache.spark.sql.types.StringType)))
    val read = graft.sources.Sources.readPartitionedParquet(spark, dir, schema)
      .filter(col("decade") === "00")
    val p = read.queryExecution.executedPlan.toString
    // the reference's vertical-partitioning rationale (build.sh:33-36):
    // a decade slice must read ONLY that decade's files
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.isDefined, s"no PartitionFilters in scan:\n$p")
    assert(scanLine.get.contains("decade") && scanLine.get.contains("00"),
      s"decade predicate must prune partitions, got: ${scanLine.get}")
    // pruning happens at planning: only the decade=00 files are selected
    val files = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.urlEncodedPath)
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("decade=00")),
      s"scan must touch only decade=00 files: ${files.mkString(",")}")
  }

  test("q48: polygon tile build — explode fan-out, capped window, no join") {
    val p = plan("q48_polygon_cover")
    assert(p.contains("Generate explode"),
      "tile cover must fan out via Generate, not a join against a tile list")
    assert(p.contains("WindowGroupLimit"),
      "the per-tile candidate budget must prune map-side")
    assert(!p.contains("Join"), s"no join belongs in the tile build:\n$p")
  }

  test("q49: shared borders = segment Generate + aggregation, no join") {
    val p = plan("q49_shared_borders")
    assert(p.contains("Generate explode"),
      "segments must fan out via Generate")
    assert(!p.contains("Join"),
      s"shared-border detection needs no join, only the segment groupBy:\n$p")
  }

  test("q50: connected components — equi-joins only, label is the payload") {
    val p = plan("q50_neardup_components")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"CC rounds must stay equi-joins:\n$p")
  }

  test("q50: connected-components lineage is linear in rounds (no 2^R re-execution)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L)).toDF("a", "b")
    // Each round localCheckpoints, so round r's plan is a flat scan of
    // round r-1's materialized rows, never two copies of its subtree.
    // Discriminator: shuffle count in the final plan must grow by a
    // CONSTANT per extra round — the unpersisted formulation doubled it
    // (and even persist() left a plan tree doubling per round: both
    // references to the cached round print/analyze its full child plan).
    def exchanges(rounds: Int): Int = {
      val p = graft.operators.Dedup.connectedComponents(edges, "a", "b", rounds)
        .queryExecution.executedPlan.toString
      "Exchange".r.findAllIn(p).size
    }
    try {
      val Seq(e2, e4, e6) = Seq(2, 4, 6).map(exchanges)
      assert(e4 - e2 == e6 - e4,
        s"per-round shuffle increment must be constant: e2=$e2 e4=$e4 e6=$e6")
      assert(e6 - e2 <= 16, s"4 extra rounds added ${e6 - e2} exchanges")
    } finally spark.catalog.clearCache()
  }

  test("q43: range join stays an equi-join — never BroadcastNestedLoop") {
    val p = plan("q43_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded range join must plan as an equi-join:\n$p")
    assert(p.contains("Join") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q37: selective filters push to scans; top-k is TakeOrdered") {
    val p = plan("q37_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "mktsegment filter must reach the customer scan")
    assert(p.contains("GreaterThan(l_shipdate"),
      "shipdate filter must reach the lineitem scan")
  }

  test("q46: RANGE frame window runs in one shuffle") {
    val p = plan("q46_range_frame")
    assert(p.contains("RangeFrame"), "value-based frame required")
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("q31: tile fan-out is pure projection + explode (no join, no extra shuffle)") {
    val p = plan("q31_tile_assign")
    assert(p.contains("Generate explode"))
    assert(!p.contains("Join"))
    assert(p.contains("partial_count"), "tile counts must partial-aggregate")
  }

  test("q98: incremental dedup joins broadcast the BATCH side — the registry never builds a hash table") {
    val p = plan("q98_incremental_dedup")
    // every join against the registry must be a broadcast join whose
    // build side is batch-derived (digest set, bucket set, signatures);
    // an SMJ would shuffle the corpus-sized registry per arriving batch
    assert(!p.contains("SortMergeJoin"),
      s"registry side must never shuffle into a join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must stay equi-joins:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"digest/bucket/signature/assembly joins must broadcast the batch side:\n$p")
  }

  test("q100: next-fit packing is one shuffle on the bucket key") {
    val p = plan("q100_nextfit_pack")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    // one exchange into the per-bucket fold (+ the presentation sort)
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"one bucket shuffle + one output sort at most:\n$p")
  }

  test("q103: Bloom decontamination — map-side prefilter, broadcast confirm") {
    val p = plan("q103_decontaminate_bloom")
    // the corpus-side prefilter is a native expression inside a Filter
    // over the train scan — no join reaches unfiltered corpus rows
    assert(p.contains("bloomany") || p.contains("BloomAny"),
      s"prefilter must be the native Bloom expression:\n$p")
    // the confirm join must broadcast the (tiny) suspect side; the eval
    // shingle set — the side that outgrows a broadcast at 100 TB as a
    // RAW set — must never build a hash table or shuffle into an SMJ
    assert(!p.contains("SortMergeJoin"),
      s"eval shingle set must never shuffle into a join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"exactly one confirm join, suspect side broadcast:\n$p")
  }

  test("q104: compacted index serves through ONE candidate equi-join") {
    val p = plan("q104_index_compaction")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"serving must stay broadcast equi-joins:\n$p")
    // q90 needs assignment ⋈ codes ⋈ queries (two corpus-side joins);
    // the compacted table carries (ccid, codes) together, so serving is
    // probe⋈index + the broadcast query-panel join — exactly two
    assert("BroadcastHashJoin".r.findAllIn(p).size <= 2,
      s"compaction must remove the assignment⋈codes join:\n$p")
    // the index is READ from the registry, never rebuilt at serve time:
    // the only scans are the merged-table parquet + the query panel
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(_.contains("sq_merged_idx")),
      s"serving must scan the persisted merged index:\n$p")
  }

  test("q115: entity resolution rank-limits map-side over the match table") {
    assert(plan("q115_entity_resolve").contains("WindowGroupLimit"),
      "best-match selection must prune through WindowGroupLimit")
  }

  test("q113: fuzzy join is gram equi-join + verify — never a product") {
    val p = plan("q113_fuzzy_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy candidates must come from the gram equi-join:\n$p")
    // the df-prune + prefix filter ride the gram-df equi-join: each
    // side's grams take their df (broadcast by default), hot grams
    // filter out, and the PPJoin prefix ranks survivors per key —
    // a Window (dynamic per-key limit, so no WindowGroupLimit rewrite)
    assert(p.contains("BroadcastHashJoin"),
      s"gram-df lookup must broadcast at catalog scale:\n$p")
    assert(p.contains("Window"),
      s"prefix filter must rank grams per key:\n$p")
  }

  test("q112: quantile binning keeps the range-bucketed rank shape") {
    val p = plan("q112_quantile_bins")
    // same kernel contract as q03: the cumulative window partitions by
    // (metric, bkt), never the metric alone, and nothing single-partitions
    assert("hashpartitioning\\([^)]*bkt".r.findFirstIn(p).isDefined,
      s"binning cumsum must partition by (id, bkt):\n$p")
    assert(!p.contains("SinglePartition"),
      "no single-partition exchange in quantile binning")
  }

  test("q116: approx binning serves stored cuts — no windows, no joins") {
    val p = plan("q116_quantile_bins_approx")
    // the registry-split serving shape: the k−1 learned cuts per
    // metric ride the plan as LITERALS (no join side at all), binning
    // is one scan + one tiny-key (|metrics|·k) hash aggregation —
    // none of the exact path's per-bucket offset/cumulative-rank
    // windows, and nothing single-partitions
    assert(!p.contains("Window"),
      s"approx binning must not run the exact path's rank windows:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no single-partition exchange in approx binning:\n$p")
    assert(!p.contains("Join"),
      s"stored-cut application must not join — cuts are literals:\n$p")
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("lineitem")) <= 1,
      s"cut application is ONE pass over the fact table:\n$p")
  }

  test("q139: WAU collapses to (day,user) before the window fan-out — one events scan") {
    val p = plan("q139_rolling_wau")
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("events")) <= 1,
      s"the day grid must derive from the collapsed frame, not re-scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the observed-days semi-join must broadcast:\n$p")
    assert(!p.contains("Window"),
      s"sliding distinct is explode+groupBy, never a window sort:\n$p")
  }

  test("q140: target encoding is one corpus join pass + broadcast stats") {
    val p = plan("q140_target_encode")
    // the stats frame is checkpointed (it feeds the broadcast AND the
    // prior), so the served plan's only corpus read is the join side
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("events")) <= 1,
      s"encoding must not scan events beyond the join pass:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the |categories|-row stats side must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row encoding must not shuffle the corpus:\n$p")
  }

  test("q141: attribution is one user-window pass — no backward join") {
    val p = plan("q141_attribution")
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("events")) <= 1,
      s"last-touch lookup must ride one scan:\n$p")
    assert(!p.contains("Join"),
      s"attribution must be a running window, not a per-purchase join:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"the corpus crosses the shuffle once, keyed by user:\n$p")
  }

  test("q111: drift profiles both slices in one fact-table pass") {
    val p = plan("q111_profile_drift")
    // the sliced profile is checkpointed before the drift self-join:
    // the executed plan must not scan lineitem once per join branch
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("lineitem")) <= 1,
      s"drift must not re-scan the fact table per slice:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 6-row drift join must stay broadcast-shaped:\n$p")
  }

  test("q110: raw token stream never shuffles; confirm join is broadcast") {
    // outer plan: the confirm join broadcasts the ≤k candidate set and
    // never sort-merges the token stream. (The sketch itself appears
    // here only as `Scan ExistingRDD` — its localCheckpoint cuts
    // lineage — so its shape is audited on its own frame below.)
    val p = plan("q110_heavy_hitters")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"heavy hitters must stay broadcast-shaped:\n$p")
    assert("BroadcastExchange".r.findAllIn(p).size >= 1,
      s"candidate set must broadcast into the confirm join:\n$p")
    // sketch frame's own plan (pre-checkpoint): MG partial summaries
    // aggregate map-side (ObjectHashAggregate for the
    // TypedImperativeAggregate), so the only exchange is the 1-row
    // summary merge — never an exchange keyed on the raw token
    val sp = QueriesText.q110Sketch(spark, d)
      .queryExecution.executedPlan.toString
    assert(sp.contains("ObjectHashAggregate"),
      s"MG sketch must partial-aggregate map-side:\n$sp")
    assert(sp.contains("partial_mg_candidates"),
      s"MG sketch must have a map-side partial phase:\n$sp")
    assert(!sp.contains("hashpartitioning(word"),
      s"the raw token stream must never shuffle on the token key:\n$sp")
  }

  test("q147: CM sketch partial-aggregates map-side; probes ride a broadcast") {
    val p = plan("q147_cm_frequency")
    // the sketch pass: ObjectHashAggregate with a map-side partial —
    // only the d·w cell array crosses the one-row merge exchange,
    // never an exchange keyed on the raw token
    assert(p.contains("partial_cm_sketch"),
      s"CM sketch must have a map-side partial phase:\n$p")
    // (the probe side reuses q110's plan, whose own audit pins that the
    // raw token stream never shuffles — here only candidate occurrences
    // group on the token key, partial-combined map-side)
    // the 1-row sketch and the ≤k probe set both broadcast; nothing
    // sort-merges or goes cartesian (the crossJoin is 1-row broadcast)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q147 must stay broadcast-shaped:\n$p")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"sketch row and candidate set must broadcast:\n$p")
  }

  test("q148: divergence runs at vocab-summary size; totals ride one window") {
    // the corpus-sized work is inside the two checkpointed count frames
    // (audited by their own build: map-side partial counts); the plan
    // that remains joins the summaries and must never re-scan parquet
    // or go cartesian
    val p = plan("q148_token_js_shift")
    assert(!p.contains("FileScan parquet"),
      s"post-checkpoint divergence must run off the summaries:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // three exchanges, all at summary size: the vocab join hashes both
    // count frames on (source, tok); the totals window re-keys on
    // source ALONE exactly once, and the 5-key rollup reuses that
    // partitioning (source is a subset of its keys) — no 4th exchange
    val joinKeyed = "Exchange hashpartitioning\\(source#\\d+, tok#\\d+"
      .r.findAllIn(p).size
    val srcAlone = "Exchange hashpartitioning\\(source#\\d+, \\d+"
      .r.findAllIn(p).size
    assert(joinKeyed == 2, s"vocab join hashes both summaries, got $joinKeyed:\n$p")
    assert(srcAlone == 1,
      s"window and rollup must share one source-alone exchange, got $srcAlone:\n$p")
  }

  test("q149: sketch pass shuffles fixed-size cells, never the token key") {
    val p = plan("q149_cm_js_shift")
    // both snapshots reduce map-side to one cell array per source
    assert("partial_cm_sketch".r.findAllIn(p).size >= 2,
      s"both snapshot sketches must partial-aggregate map-side:\n$p")
    assert(!p.contains("hashpartitioning(tok"),
      s"the token stream must never shuffle on the token key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the cells FULL-outer join (broadcast full-outer doesn't exist)
    // must ride the sketch aggs' own source partitioning: the only
    // exchanges in the whole plan are the two agg merges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"only the two sketch-agg exchanges may shuffle, got $exchanges:\n$p")
  }

  test("drift family: ONE tokenize pass per snapshot (shared artifact)") {
    // the r17 token-stream fix: q147-q150 all serve from the two
    // checkpointed (source, tok, cnt) artifacts — after the artifacts
    // exist, building any face must (a) trigger NO new ArtifactCache
    // learn and (b) plan with NO corpus tokenize of its own: no
    // Generate/explode, no parquet scan of documents, in the exact
    // faces' plans (q147 keeps its q110 exact-probe side, which
    // tokenizes by design and has its own audit above)
    QueriesCorpus.tokenCountArtifact(spark, d, "old")
    QueriesCorpus.tokenCountArtifact(spark, d, "new")
    val learnsBefore = graft.operators.ArtifactCache.learnCount
    Seq("q148_token_js_shift", "q149_cm_js_shift", "q150_js_movers")
      .foreach { qn =>
        val p = plan(qn)
        assert(!p.contains("Generate explode"),
          s"$qn must not re-tokenize — the artifact already did:\n$p")
        assert(!p.contains("FileScan parquet"),
          s"$qn must serve from the checkpointed artifact:\n$p")
      }
    // q147 is FULLY artifact-served (sketch cells AND the exact
    // heavy-hitter probe set both derive from the count frame): zero
    // corpus scans of its own — the pre-artifact plan had two, the
    // half-artifact r17 interim had one (q110's confirm pass)
    Seq("q147_cm_frequency", "q152_cm_frequency_xx", "q153_cm_calibration")
      .foreach { qn =>
        val p = plan(qn)
        val docScans = "FileScan parquet".r.findAllIn(p).size
        assert(docScans == 0,
          s"$qn must run at summary size with no corpus scan (got $docScans):\n$p")
      }
    assert(graft.operators.ArtifactCache.learnCount == learnsBefore,
      "no face may re-learn the token-count artifact")
  }

  test("q108: tombstone anti-join broadcasts the delete set pre-distance") {
    val p = plan("q108_tombstoned_serve")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tombstoned serving must stay broadcast-shaped:\n$p")
    // the delete registry is ids-only and broadcast; the index table
    // never shuffles for it
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstones must apply as a broadcast anti-join:\n$p")
    assert(p.linesIterator.filter(_.contains("FileScan parquet"))
        .exists(_.contains("sq_merged_idx")),
      s"serving must scan the persisted merged index:\n$p")
  }

  test("q106: hard negatives serve broadcast-shaped from the persisted index") {
    val p = plan("q106_hard_negatives")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"hard-negative serving must stay broadcast/probe-pruned:\n$p")
    // the neighborhood exclusion reads the query panel's assignment —
    // a tiny broadcast, never a corpus-side shuffle join
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(_.contains("pq_residual_codes")),
      s"assignment/codes must come from the persisted index table:\n$p")
  }

  test("q101: profiling is histogram-first — no Expand, no distinct agg") {
    val p = plan("q101_profile")
    // the r9 rewrite: exact distinct = the (id, value) histogram's row
    // count, so the plan must NOT contain the distinct-agg Expand that
    // doubles the unpivoted frame before the shuffle
    assert(!p.contains("Expand"),
      s"profile must not use the Expand distinct rewrite:\n$p")
    assert(p.contains("partial_count"),
      s"histogram build must combine map-side:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition stage in profiling:\n$p")
  }

  test("q105: shuffle permutation sorts per shard, never one global sort") {
    val p = plan("q105_train_shuffle")
    // the rank window must partition by shard — `shards` independent
    // sorts; an empty-partition window (global ORDER BY h) would
    // funnel the corpus through one task
    assert("hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"permutation window must partition by shard:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition stage in the shuffle permutation:\n$p")
    assert(!p.contains("Join"), s"pure projection + window, no join:\n$p")
  }

  test("q117: query panel broadcasts onto the corpus; every top-k rank-limits") {
    val p = plan("q117_rrf_hybrid")
    // the dense leg's unconditioned panel join must be a broadcast
    // nested loop (2 query rows), never a CartesianProduct shuffle
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dense query panel must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no shuffled product anywhere in the hybrid plan:\n$p")
    // leg top-30s and the fused top-10 all prune map-side
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      s"leg and fusion rankings must rank-limit:\n$p")
  }

  test("q118: refined serving keeps q86's capped equi-join shape") {
    val p = plan("q118_semdedup_refined")
    // same serving operator as q86, over the REFINED stored assignment:
    // the sub-cluster build must be amortized into the fixture — no
    // groupByKey/Lloyd stage in the serving plan (the refined table is
    // read back from parquet), and the pair stage keeps the capped
    // equi-join discipline
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"refined pairs must come from an equi-join on cid:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"anchor cap must prune map-side:\n$p")
    assert(!p.contains("MapGroups") && !p.contains("AppendColumns"),
      s"serving must read the persisted refined table, not re-split cells:\n$p")
  }

  test("q122: cohort label rides a window min — the corpus shuffles once, no self-join") {
    val p = plan("q122_retention_cohorts")
    assert(p.contains("Window"), s"first-seen day must be a window min:\n$p")
    assert(!p.contains("Join"),
      s"min-then-join-back would move the corpus twice:\n$p")
    assert(p.contains("partial_count(distinct"),
      s"count-distinct must expand to a two-level partial aggregate:\n$p")
  }

  test("q123: three chained stage windows share ONE user shuffle; no join") {
    val p = plan("q123_funnel")
    assert(!p.contains("Join"), s"funnel must not self-join the corpus:\n$p")
    // the three chained window mins share the user_id partitioning: one
    // hashpartitioning exchange total before the global aggregate
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1,
      s"stage windows must stack on one user shuffle, got $exchanges:\n$p")
  }

  test("q124: rank window group-limits — map tasks forward ≤ k rows per stratum") {
    val p = plan("q124_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      s"the E-S rank filter must prune map-side:\n$p")
    assert(!p.contains("Join"), s"sampling is one pass, no join:\n$p")
  }

  test("q125: LPA serves from the checkpointed label vector; equi-joins only") {
    val p = plan("q125_communities")
    // after 4 checkpointed rounds the served plan is the |N|-row label
    // vector + a rollup (GraphSpec pins per-round exchange growth)
    assert(p.contains("Scan ExistingRDD"),
      s"q125 must serve from the checkpointed labels:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"label propagation is equi-joins only:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the community rollup must partial-aggregate:\n$p")
  }

  test("q126: one corpus scan feeds all 10 correlations; no join") {
    val p = plan("q126_corr_matrix")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"declared type list ⇒ no pivot pre-job, 1 scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"the matrix is conditional sums, not self-joins:\n$p")
    assert(p.contains("partial_covar_samp") && p.contains("partial_stddev_samp"),
      s"the co-moments must partial-aggregate over the day frame:\n$p")
  }

  test("q127: stats broadcast back to the checkpointed facts; corpus never rescans") {
    val p = plan("q127_anomaly_days")
    assert("FileScan parquet".r.findAllIn(p).isEmpty,
      s"all branches must read the materialized fact frame:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"per-group stats join back as broadcasts:\n$p")
  }

  test("q128: one conditional-aggregate pass — no per-arm shuffle, no join") {
    val p = plan("q128_ab_test")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"both arms come from ONE scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"arms are FILTERed aggregates, not joins:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"the only exchange is the single-row gather:\n$p")
    assert(p.contains("partial_var_samp") || p.contains("partial_avg"),
      s"map-side partials required:\n$p")
  }

  test("q129: session ids AND trigram leads ride ONE user exchange") {
    val p = plan("q129_session_paths")
    assert(!p.contains("Join"), s"path mining must not self-join:\n$p")
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userEx == 1,
      s"sid + leads must share one user shuffle (a (user,sid) window would re-shuffle), got $userEx:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-15 must not globally sort the trigram counts:\n$p")
  }

  test("q130: skew stats serve from the checkpointed histogram; corpus never rescans") {
    val p = plan("q130_key_skew")
    assert("FileScan parquet".r.findAllIn(p).isEmpty,
      s"rank windows must run over the materialized count-of-counts histogram:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the profile is windows + one aggregate over the tiny histogram:\n$p")
  }

  test("q131: calibration pairs stay a shingle equi-join; signatures broadcast") {
    val p = plan("q131_minhash_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must be the (source, shingle) equi-join, never a product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-doc signature/size frames broadcast onto the pair counts:\n$p")
  }

  test("q132: hopping windows expand map-side; rank filter group-limits") {
    val p = plan("q132_hopping_trending")
    assert(p.contains("Expand"),
      s"window assignment must be the map-side Expand, not a join:\n$p")
    assert(!p.contains("Join"), s"no per-window scan or join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the top-2 filter must prune before the rank shuffle:\n$p")
  }

  test("q133: four grouping sets plan as ONE Expand + one aggregate pass") {
    val p = plan("q133_grouping_sets")
    assert("Expand".r.findAllIn(p).size >= 1 && p.contains("partial_sum"),
      s"grouping sets must share one Expand + partial aggregate:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 4,
      s"one scan per table — the sets must NOT re-scan the facts per set, got $scans:\n$p")
  }

  test("q134: membership flags broadcast; the train side never sort-merge-joins") {
    val p = plan("q134_bloom_fp_audit")
    assert(!p.contains("SortMergeJoin"),
      s"eval shingles / confirmed docs are drop-list-sized — broadcast them:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"truth flags must ride broadcast joins:\n$p")
  }

  test("q135: snapshot diff — one scan per snapshot, digests shuffle, text does not") {
    val p = plan("q135_snapshot_diff")
    // 3 scans: the old snapshot, plus 2 for the new side's synthetic
    // derivation (base-minus-removed + additions union). A real diff
    // reads two materialized snapshots once each; what matters here is
    // the count is FIXED — no per-class or per-status re-scan.
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 3, s"fixed scan count (old + derived-new union), got $scans:\n$p")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"the diff is a keyed full-outer merge:\n$p")
    // the exchanges feeding the join must carry digests, not documents:
    // no exchange output row should include the text column
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(!_.contains("text")),
      s"only (doc_id, digest) may cross the shuffle:\n$p")
  }

  test("q136: chunk expansion is a map-side Generate; only digests reach the sort") {
    val p = plan("q136_rag_chunks")
    assert(p.contains("Generate explode"),
      s"the start sequence must explode map-side:\n$p")
    assert(!p.contains("Join"), s"chunking is one pass, no join:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"one corpus scan, got $scans:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("toks") && !l.contains("chunk#")),
      s"token arrays must not cross the shuffle — digest first:\n$p")
  }

  test("q137: all 28 EWMA lags fold into ONE Window over the day frame") {
    val p = plan("q137_ewma_monitor")
    assert(!p.contains("Join"), s"the monitor is one pass, no join:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"one corpus scan into the day frame:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"the 14 numerator + 14 denominator lags must share one Window, got $windows:\n$p")
  }

  test("q121: pagerank serving reads the checkpointed rank vector; no cartesians") {
    val p = plan("q121_pagerank")
    // after 5 checkpointed rounds the served plan is a flat scan of the
    // final |N|-row rank vector (GraphSpec pins the per-round exchange
    // growth); nothing here may blow up into a cartesian
    assert(p.contains("Scan ExistingRDD"),
      s"q121 must serve from the checkpointed rank vector:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank is equi-joins only:\n$p")
  }

  test("q120: raw ids never shuffle — only KMV sketches cross the exchange") {
    // sketch build (audited on the pre-checkpoint frame, the q110
    // pattern): object-hash aggregate with a map-side partial pass, so
    // the exchange carries ≤ k-long arrays per (partition, type), never
    // the raw user_id stream
    val ps = QueriesStream.q120Sketches(spark, d, QueriesStream.q120K)
      .queryExecution.executedPlan.toString
    assert(ps.contains("ObjectHashAggregate"),
      s"kmv_sketch must run as an object hash aggregate:\n$ps")
    assert(ps.contains("partial_kmv_sketch"),
      s"sketch build must partial-aggregate map-side:\n$ps")
    // the pairwise panel is a broadcast nested loop over the #types-row
    // sketch frame (bounded by event-type cardinality, not data) — a
    // CartesianProduct would mean the broadcast was lost
    val p = plan("q120_audience_overlap")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair panel must broadcast the tiny sketch frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the panel may shuffle-join:\n$p")
  }

  test("q119: batch broadcasts twice; registry never sort-merge-joins") {
    val p = plan("q119_incremental_semdedup")
    // the batch's distinct cids semi-join-prune the registry scan
    // BEFORE the anchor window, and the assigned batch broadcasts onto
    // the surviving anchors — both joins broadcast, batch side built
    assert(p.contains("LeftSemi"),
      s"registry must be cid-pruned by the batch before ranking:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"cid prune and anchor-pair join must both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a small batch must never SMJ against the registry:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("session invariants: the shared session carries Session's confs; only Session builds one") {
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.optimizer.windowGroupLimitThreshold") == "100000")
    assert(c.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(c.get("spark.sql.codegen.cache.maxEntries") == "5000")
    // every main goes through graft.Session except Smoke, which builds a
    // bare session on purpose (the entry smoke runs with no confs)
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("Session.scala", "Smoke.scala"),
      s"SparkSession.builder outside Session/Smoke: $builders")
  }
}
