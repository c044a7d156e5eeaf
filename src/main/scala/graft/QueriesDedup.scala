package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Deduplication query batch (SURVEY.md §7.2 M8): exact dedup, the full
  * MinHash→LSH→verify near-dup pipeline, SimHash signatures, and blocked
  * n-gram Jaccard. Duplicates are injected deterministically (the driver
  * corpus is 100% distinct) so every query has known positives.
  */
object QueriesDedup {
  import Tables._

  /** Corpus with injected EXACT duplicates: every doc_id % 5 == 0 doc is
    * re-inserted (id + 100000) upper-cased with trailing whitespace —
    * identical after normalization.
    */
  private def exactCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text")))
  }

  private val exactCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, upper(text) || '  ' AS text
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** Corpus with injected NEAR duplicates: every doc_id % 7 == 0 doc is
    * re-inserted (id + 200000) with a 5-word tail appended — high but
    * sub-1.0 shingle Jaccard.
    */
  private def nearCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text", "source")
    docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra tail noise appended here")).as("text"),
          col("source")))
  }

  private val nearCorpusSql =
    """SELECT doc_id, text, source FROM documents
      |UNION ALL
      |SELECT doc_id + 200000 AS doc_id,
      |       text || ' extra tail noise appended here' AS text, source
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  private val normSql = graft.operators.TextStats.normalizeSql("text")

  /** DuckDB twin of [[Dedup.wordShingles]] (k=3). */
  private val shinglesSql =
    s"""list_distinct(list_transform(
       |  range(1, greatest(len(string_split($normSql, ' ')) - 2, 1) + 1),
       |  i -> array_to_string((string_split($normSql, ' '))[i:i+2], ' ')))""".stripMargin

  // ---------------------------------------------------------------------
  // Exact dedup: one hash aggregation on the normalized-text digest.
  def q22ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(exactCorpus(s, d), "text", "doc_id")
      .orderBy("keep_id")

  val q22Sql: String =
    s"""WITH corpus AS ($exactCorpusSql)
       |SELECT md5($normSql) AS text_md5, min(doc_id) AS keep_id,
       |       count(*) AS n_copies
       |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash + LSH near-dup: 12 hash functions, 4 bands x 3 rows,
  // bucket-join candidates, Jaccard-verified at >= 0.5.
  private val NumHashes = 12
  private val Bands = 4
  private val RowsPerBand = 3
  // deterministic bucket fan-in cap (Dedup.lshCandidatePairs), mirrored
  // by the oracle's rn filter — far above any fixture bucket, so it
  // never binds at verify scale but bounds degenerate buckets at 100 TB
  private val MaxBucket = 1 << 10

  /** The full MinHash→LSH→verify pipeline, hash engine selectable
    * ([[graft.operators.TextStats.HashMode]]): q23 runs the
    * oracle-reproducible md5 mode, q52 the xxhash64 deployment mode —
    * same plan shape, same output structure, different hash cost.
    */
  private def minhashLshPipeline(s: SparkSession, d: String,
      mode: graft.operators.TextStats.HashMode): DataFrame =
    // Shingles are pre-hashed to 60-bit longs (ONE digest per shingle);
    // the shared pipeline (Dedup.lshNearDupPairs — checkouts,
    // affine signatures, banded buckets, Jaccard verify) does the rest.
    Dedup.lshNearDupPairs(
      nearCorpus(s, d).withColumn("sh", Dedup.hashedWordShingles("text", 3, mode)),
      "doc_id", "sh", NumHashes, Bands, RowsPerBand,
      minJaccard = 0.5, maxBucket = MaxBucket, mode = mode)

  def q23MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPipeline(s, d, graft.operators.TextStats.HashMode.OracleMd5)

  /** Deployment-mode twin of q23 (xxhash64 engine hash): NOT
    * oracle-checkable by design (DuckDB has no xxhash64) — it exists so
    * the bench reports the tier's true deployment cost next to the
    * md5 oracle-parity price (q21/q23/q25's md5 inner loops). Structure
    * parity with q23 is asserted in EngineHashSpec.
    */
  def q52DedupXxhash(s: SparkSession, d: String): DataFrame =
    minhashLshPipeline(s, d, graft.operators.TextStats.HashMode.EngineXx)

  val q23Sql: String = {
    val p = Dedup.MinhashP
    val sigExprs = (0 until NumHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i)
      s"list_min(list_transform(sh, h -> ((h % $p) * $a + $b) % $p)) AS sig$i"
    }.mkString(",\n ")
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand)
        .map(r => s"CAST(sig${b * RowsPerBand + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bucket FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH corpus AS ($nearCorpusSql),
       |sh AS (SELECT doc_id,
       |  list_transform($shinglesSql,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
       | FROM corpus),
       |sig AS (SELECT doc_id, sh,
       | $sigExprs
       | FROM sh),
       |allbuckets AS ($bandSelects),
       |buckets AS (
       | SELECT doc_id, band, bucket FROM (
       |  SELECT doc_id, band, bucket,
       |   row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
       |  FROM allbuckets)
       | WHERE rn <= $MaxBucket),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       | FROM buckets x JOIN buckets y
       |   ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |verified AS (
       | SELECT p.a, p.b,
       |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
       | FROM pairs p
       |  JOIN sh sa ON sa.doc_id = p.a
       |  JOIN sh sb ON sb.doc_id = p.b)
       |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SimHash: 32-bit majority-vote signature over token hashes.
  private val SimhashBits = 32

  def q24Simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // stage the token-hash array once — the 32 per-bit filter() HOFs
      // are outside subexpression elimination and would otherwise each
      // re-run the tokenize+md5 pipeline (see Dedup.simhashFromHashes)
      .select(col("doc_id"),
        graft.operators.TextStats.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"),
        Dedup.simhashFromHashes(col("hs"), SimhashBits).as("simhash"))
      .orderBy("doc_id")

  val q24Sql: String = {
    val bitTerms = (0 until SimhashBits).map { j =>
      s"""(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> $j) & 1) = 1)) >= len(hs)
         | THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)""".stripMargin
    }.mkString("\n + ")
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id,
       |  list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
       | FROM t)
       |SELECT doc_id,
       |  CASE WHEN len(hs) = 0 THEN 0 ELSE ($bitTerms) END AS simhash
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Blocked n-gram Jaccard: all pairs within a `source` block (natural
  // blocking key), word-3-gram Jaccard >= 0.2. The block join is an
  // equi-join on source — never an unblocked cross join.
  def q25NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // checkout (Pipeline.withCheckouts): same CollapseProject trap as
    // q23 — without the barrier the shingle pipeline is re-evaluated per
    // PAIR on both join sides.
    // Shingles are 60-bit hashes, not strings: the pairwise
    // intersect/union then compares longs (~4x faster at sf0.1; Jaccard
    // over a collision-free hash set is identical, and the oracle hashes
    // identically).
    val sh = nearCorpus(s, d)
      .select(col("doc_id"), col("source"),
        Dedup.hashedWordShingles("text", 3).as("sh"))
      .localCheckpoint(eager = true)
    // Scalable all-pairs Jaccard: explode shingles, equi-join on
    // (source, shingle) so only pairs sharing >= 1 shingle ever
    // materialize, count the matches (= |A∩B|, arrays are distinct),
    // and recover |A∪B| = |A|+|B|-|A∩B| from per-doc sizes. The naive
    // pairwise array_intersect over every blocked pair is 5x slower at
    // sf0.1 and quadratic-in-block at scale.
    val ex = sh.select(col("doc_id"), col("source"), explode(col("sh")).as("h"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val inter = ex.as("x").join(ex.as("y"),
        col("x.source") === col("y.source") && col("x.h") === col("y.h")
          && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("a"), col("n").as("na"))), "a")
      .join(broadcast(sizes.select(col("doc_id").as("b"), col("n").as("nb"))), "b")
      .select(col("a"), col("b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("a", "b")
  }

  val q25Sql: String =
    s"""WITH corpus AS ($nearCorpusSql),
       |sh AS (SELECT doc_id, source,
       |  list_transform($shinglesSql,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
       | FROM corpus),
       |pairs AS (
       | SELECT x.doc_id AS a, y.doc_id AS b,
       |  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
       | FROM sh x JOIN sh y ON x.source = y.source AND x.doc_id < y.doc_id)
       |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.2
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------------
  // q131: MinHash estimator calibration — est-vs-exact Jaccard over the
  // blocked pair population, rolled up by exact-Jaccard band. The
  // near-dup tier ACTS on the signature estimate (bands hash sig
  // slices); this audits how far the 12-component estimate sits from
  // the exact shingle Jaccard it stands in for, per band — the
  // sketch-honesty readout next to q94/q116's extent/bin sketches.
  // Pairs = q25's scalable shape (explode + (source, shingle)
  // equi-join ⇒ only pairs sharing ≥ 1 shingle materialize; both
  // engines restrict identically) over a DETERMINISTIC 50% doc sample
  // (seeded doc_id hash — the q39 split discipline): a calibration
  // audit estimates error rates, it does not need the full pair
  // population, and the shared-shingle pair count grows superlinearly
  // in block size (measured 8× wall at 10× docs unsampled) — sampling
  // docs at rate r cuts pairs by ~r², so the audit's cost knob is
  // explicit instead of riding corpus growth. est = matching
  // components / 12 — an exact small rational, so banding and
  // averages are engine-stable; the oracle recomputes signatures with
  // q23's affine-permutation SQL over the identical sample.
  def q131MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    val sh = nearCorpus(s, d)
      .filter(graft.operators.TextStats.hash60(
        concat_ws(":", lit("cal1"), col("doc_id").cast("string"))) % 2 === 0)
      .select(col("doc_id"), col("source"),
        Dedup.hashedWordShingles("text", 3).as("sh"))
      .localCheckpoint(eager = true)
    val ex = sh.select(col("doc_id"), col("source"), explode(col("sh")).as("h"))
    val inter = ex.as("x").join(ex.as("y"),
        col("x.source") === col("y.source") && col("x.h") === col("y.h")
          && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c"))
    val stats = sh.select(col("doc_id"), size(col("sh")).as("n"),
      Dedup.minhashSignatureArray(col("sh"), NumHashes).as("sig"))
    inter
      .join(broadcast(stats.select(col("doc_id").as("a"), col("n").as("na"),
        col("sig").as("siga"))), "a")
      .join(broadcast(stats.select(col("doc_id").as("b"), col("n").as("nb"),
        col("sig").as("sigb"))), "b")
      .withColumn("exact",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .withColumn("est",
        expr("""aggregate(zip_with(siga, sigb,
               |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
               |  0, (acc, v) -> acc + v)""".stripMargin)
          .cast("double") / NumHashes)
      .groupBy(round(floor(col("exact") * 5) / 5.0, 1).as("jband"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("est"), 6).as("mean_est"),
        round(avg("exact"), 6).as("mean_exact"),
        round(avg(abs(col("est") - col("exact"))), 6).as("mean_abs_err"))
      .orderBy("jband")
  }

  val q131Sql: String = {
    val p = Dedup.MinhashP
    val sigArray = (0 until NumHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i)
      s"list_min(list_transform(sh, h -> ((h % $p) * $a + $b) % $p))"
    }.mkString("[", ",\n   ", "]")
    s"""WITH corpus0 AS ($nearCorpusSql),
       |corpus AS (SELECT * FROM corpus0
       | WHERE CAST(('0x' || substr(md5('cal1:' || doc_id), 1, 15)) AS BIGINT)
       |   % 2 = 0),
       |sh AS (SELECT doc_id, source,
       |  list_transform($shinglesSql,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
       | FROM corpus),
       |sig AS (SELECT doc_id, source, sh, len(sh) AS n,
       |  $sigArray AS sig
       | FROM sh),
       |pr AS (SELECT
       |   len(list_intersect(x.sh, y.sh)) AS c, x.n AS na, y.n AS nb,
       |   list_sum(list_transform(range(1, ${NumHashes + 1}),
       |     i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END))
       |     / ${NumHashes}.0 AS est
       | FROM sig x JOIN sig y
       |   ON x.source = y.source AND x.doc_id < y.doc_id
       | WHERE len(list_intersect(x.sh, y.sh)) > 0),
       |q AS (SELECT est, CAST(c AS DOUBLE) / (na + nb - c) AS exact FROM pr)
       |SELECT round(floor(exact * 5) / 5.0, 1) AS jband,
       | count(*) AS n_pairs, round(avg(est), 6) AS mean_est,
       | round(avg(exact), 6) AS mean_exact,
       | round(avg(abs(est - exact)), 6) AS mean_abs_err
       |FROM q GROUP BY 1 ORDER BY jband""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Incremental dedup: a NEW BATCH verdicted against the PERSISTED
  // fingerprint registry of the existing corpus — the ingestion shape
  // at 100 TB (re-deduping the whole corpus per arriving batch is the
  // cost the registry exists to avoid). Batch classes: exact copies
  // (normalization-identical), near copies (5-word tail), novel docs
  // (reversed text — shares no word shingles with the original).
  private def batchCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" extra tail noise appended here")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 500000).as("doc_id"),
          reverse(col("text")).as("text")))
  }

  private val batchCorpusSql =
    """SELECT doc_id + 300000 AS doc_id, upper(text) || '  ' AS text
      |FROM documents WHERE doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id + 400000 AS doc_id,
      |       text || ' extra tail noise appended here' AS text
      |FROM documents WHERE doc_id % 7 = 3
      |UNION ALL
      |SELECT doc_id + 500000 AS doc_id, reverse(text) AS text
      |FROM documents WHERE doc_id % 11 = 5""".stripMargin

  private val FpRegistryDir = s"${graft.operators.ArtifactCache.FixtureRoot}/fp_registry"
  private val IncTau = 0.5

  /** The corpus fingerprint registry through the fixture registry (the
    * pqResidualCodes protocol): built ONCE per corpus — digest +
    * MinHash signature + LSH buckets per doc, fixed-width rows, no
    * text — persisted as parquet, and every incremental-dedup serving
    * run READS it. The q98 hash-match against the oracle's
    * from-scratch re-derivation is the load ≡ learn proof.
    */
  private def fpRegistry(s: SparkSession, d: String): DataFrame = {
    val path = graft.operators.ArtifactCache.fixture(s, FpRegistryDir,
        s"fpreg:$d:3:$NumHashes:$Bands:$RowsPerBand", "corpus_docs",
        documents(s, d).count())(identity) {
      Dedup.fingerprintRegistry(documents(s, d).select("doc_id", "text"),
        "text", "doc_id", k = 3, NumHashes, Bands, RowsPerBand)
    }
    s.read.parquet(path).select("doc_id", "text_md5", "sig", "buckets")
  }

  def q98IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val batchFp = Dedup.fingerprintRegistry(batchCorpus(s, d), "text",
      "doc_id", k = 3, NumHashes, Bands, RowsPerBand)
    Dedup.incrementalDedup(batchFp, fpRegistry(s, d), "doc_id",
        NumHashes, tau = IncTau, maxBucket = MaxBucket)
      .orderBy("new_id")
  }

  // -------------------------------------------------------------------
  // q107: the intra-batch window. Batch classes: registry-exact copies
  // (%5 — including a %15 SECOND copy of the same digest, proving
  // registry precedence: both resolve to the REGISTRY id, not each
  // other), and same-digest twin pairs absent from the registry
  // (%13=1 emitted twice with a shared novel tail): registry-only
  // dedup calls both 'unique'/'near'; the intra-batch pass marks the
  // later twin 'exact' with dup_of = the earlier batch id.
  private def intraBatchCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val twin = docs.filter(col("doc_id") % 13 === 1)
      .select(col("doc_id"),
        concat(col("text"), lit(" intra batch twin tail")).as("text"))
    docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 350000).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text")))
      .unionByName(twin.select((col("doc_id") + 600000).as("doc_id"), col("text")))
      .unionByName(twin.select((col("doc_id") + 700000).as("doc_id"), col("text")))
  }

  private val intraBatchCorpusSql =
    """SELECT doc_id + 300000 AS doc_id, upper(text) || '  ' AS text
      |FROM documents WHERE doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id + 350000 AS doc_id, upper(text) || '  ' AS text
      |FROM documents WHERE doc_id % 15 = 0
      |UNION ALL
      |SELECT doc_id + 600000 AS doc_id,
      |       text || ' intra batch twin tail' AS text
      |FROM documents WHERE doc_id % 13 = 1
      |UNION ALL
      |SELECT doc_id + 700000 AS doc_id,
      |       text || ' intra batch twin tail' AS text
      |FROM documents WHERE doc_id % 13 = 1""".stripMargin

  def q107IntraBatchDedup(s: SparkSession, d: String): DataFrame = {
    val batchFp = Dedup.fingerprintRegistry(intraBatchCorpus(s, d), "text",
      "doc_id", k = 3, NumHashes, Bands, RowsPerBand)
    Dedup.incrementalDedup(batchFp, fpRegistry(s, d), "doc_id",
        NumHashes, tau = IncTau, maxBucket = MaxBucket, intraBatch = true)
      .orderBy("new_id")
  }

  /** Shared DuckDB twin of [[Dedup.incrementalDedup]] — parameterized
    * over the batch corpus and the intra-batch exact pass (q107).
    */
  private def incrementalSql(batchSql: String, intraBatch: Boolean): String = {
    val p = Dedup.MinhashP
    val sigExprs = (0 until NumHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i)
      s"list_min(list_transform(sh, h -> ((h % $p) * $a + $b) % $p)) AS sig$i"
    }.mkString(",\n ")
    def bandSelects(src: String) = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand)
        .map(r => s"CAST(sig${b * RowsPerBand + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bucket FROM $src"
    }.mkString("\n UNION ALL ")
    val agree = (0 until NumHashes)
      .map(i => s"(CASE WHEN bs.sig$i = rs.sig$i THEN 1 ELSE 0 END)")
      .mkString("\n  + ")
    // intra-batch exact pass: min batch id per digest; an EARLIER
    // same-digest batch doc outranks near, is outranked by registry
    val bexCte =
      if (intraBatch)
        ",\nbex AS (SELECT text_md5, min(doc_id) AS batch_of FROM bsig GROUP BY 1)"
      else ""
    val bexJoin =
      if (intraBatch) "\n LEFT JOIN bex x ON x.text_md5 = bs.text_md5" else ""
    val exactCase =
      if (intraBatch) "e.exact_of IS NOT NULL OR x.batch_of < bs.doc_id"
      else "e.exact_of IS NOT NULL"
    val dupOf =
      if (intraBatch)
        "coalesce(e.exact_of, CASE WHEN x.batch_of < bs.doc_id THEN x.batch_of END, n.near_of)"
      else "coalesce(e.exact_of, n.near_of)"
    s"""WITH batch AS ($batchSql),
       |rsh AS (SELECT doc_id, md5($normSql) AS text_md5,
       |  list_transform($shinglesSql,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
       | FROM documents),
       |bsh AS (SELECT doc_id, md5($normSql) AS text_md5,
       |  list_transform($shinglesSql,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
       | FROM batch),
       |rsig AS (SELECT doc_id, text_md5,
       | $sigExprs
       | FROM rsh),
       |bsig AS (SELECT doc_id, text_md5,
       | $sigExprs
       | FROM bsh),
       |rbuckall AS (${bandSelects("rsig")}),
       |rbuck AS (
       | SELECT doc_id, band, bucket FROM (
       |  SELECT doc_id, band, bucket,
       |   row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
       |  FROM rbuckall)
       | WHERE rn <= $MaxBucket),
       |bbuck AS (${bandSelects("bsig")}),
       |cand AS (
       | SELECT DISTINCT b.doc_id AS new_id, r.doc_id AS reg_id
       | FROM bbuck b JOIN rbuck r ON b.band = r.band AND b.bucket = r.bucket),
       |est AS (
       | SELECT c.new_id, c.reg_id,
       |  round(($agree) / $NumHashes.0, 6) AS est_jaccard
       | FROM cand c
       |  JOIN bsig bs ON bs.doc_id = c.new_id
       |  JOIN rsig rs ON rs.doc_id = c.reg_id),
       |best AS (
       | SELECT new_id, reg_id AS near_of, est_jaccard FROM (
       |  SELECT new_id, reg_id, est_jaccard,
       |   row_number() OVER (PARTITION BY new_id
       |     ORDER BY est_jaccard DESC, reg_id) AS rn
       |  FROM est WHERE est_jaccard >= $IncTau)
       | WHERE rn = 1),
       |ex AS (
       | SELECT bs.doc_id AS new_id, min(rs.doc_id) AS exact_of
       | FROM bsig bs JOIN rsig rs ON rs.text_md5 = bs.text_md5
       | GROUP BY 1)$bexCte
       |SELECT bs.doc_id AS new_id,
       | CASE WHEN $exactCase THEN 'exact'
       |      WHEN n.near_of IS NOT NULL THEN 'near'
       |      ELSE 'unique' END AS verdict,
       | $dupOf AS dup_of,
       | n.est_jaccard
       |FROM bsig bs
       | LEFT JOIN ex e ON e.new_id = bs.doc_id
       | LEFT JOIN best n ON n.new_id = bs.doc_id$bexJoin
       |ORDER BY new_id""".stripMargin
  }

  val q98Sql: String = incrementalSql(batchCorpusSql, intraBatch = false)

  // ---------------------------------------------------------------------
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_exact_dedup" -> (q22ExactDedup _),
    "q23_minhash_lsh" -> (q23MinhashLsh _),
    "q24_simhash" -> (q24Simhash _),
    "q25_ngram_jaccard" -> (q25NgramJaccard _),
    // deployment-hash twin of q23 — deliberately absent from `oracle`
    // (driver records rows-only): DuckDB cannot reproduce xxhash64
    "q52_dedup_xxhash" -> (q52DedupXxhash _),
    "q98_incremental_dedup" -> (q98IncrementalDedup _),
    "q107_intra_batch_dedup" -> (q107IntraBatchDedup _),
    "q131_minhash_calibration" -> (q131MinhashCalibration _),
  )

  val oracle: Map[String, String] = Map(
    "q22_exact_dedup" -> q22Sql,
    "q23_minhash_lsh" -> q23Sql,
    "q24_simhash" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q98_incremental_dedup" -> q98Sql,
    "q107_intra_batch_dedup" ->
      incrementalSql(intraBatchCorpusSql, intraBatch = true),
    "q131_minhash_calibration" -> q131Sql,
  )
}
