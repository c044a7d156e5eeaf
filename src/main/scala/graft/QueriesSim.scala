package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}

/** Similarity-search query batch (SURVEY.md §7.2 M8) over `embeddings`:
  * brute-force cosine top-k (baseline), sign-bit LSH ANN (scale path),
  * and LSH-prefiltered embedding near-dup detection.
  */
object QueriesSim {
  import Tables._

  /** DuckDB double-precision in-order dot product of two FLOAT[64]s. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  // ---------------------------------------------------------------------
  // Brute-force cosine top-k: 10 query vectors against the full table,
  // query side broadcast, per-query top-5.
  def q26CosineTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb,
        qId = "vec_id", cId = "vec_id", vecCol = "embedding", k = 5)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  val q26Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
       |sims AS (
       | SELECT q.qid, e.vec_id AS nid,
       |  round(${cosSql("q.qvec", "e.embedding")}, 6) AS cos
       | FROM q JOIN embeddings e ON e.vec_id != q.qid),
       |ranked AS (
       | SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       | FROM sims)
       |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Banded hyperplane LSH ANN (scale-safe): 4 independent 8-bit sign
  // tables (bands over dim ranges 0-7, 8-15, 16-23, 24-31), candidates
  // = distinct pairs colliding in ANY band, bucket fan-in capped at 64
  // members. Candidate generation is an equi-join on (band, bucket) —
  // never an all-pairs product — and bitsPerBand is the knob that must
  // track log₂(corpus) at scale. Recall < 1 by design — the oracle runs
  // the identical algorithm.
  // Knobs DERIVED from the verify fixture's nominal corpus scale (500
  // embedding rows at sf0.01) via the documented scale rule
  // (Similarity.lshKnobs — bitsPerBand ≈ log₂(n/B)): resolves to
  // bands=4, bits=8, maxBucket=64. Static here so the SQL oracle twin
  // stays one fixed query; a deployment derives from its MEASURED
  // corpus size instead.
  private val Lsh = Similarity.lshKnobs(corpusSize = 500, dim = 64)
  private val LshBands = Lsh.bands
  private val LshBits = Lsh.bitsPerBand
  private val LshMaxBucket = Lsh.maxBucket

  def q27LshAnn(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val pairs = Similarity.lshCandidatePairs(emb, "vec_id", "embedding",
      LshBands, LshBits, LshMaxBucket)
    val directed = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b")))
    val scored = directed
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("qvec")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("nvec")), Seq("b"))
      .select(col("a").as("qid"), col("b").as("nid"),
        round(Similarity.cosine(col("qvec"), col("nvec")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  /** Bucket id of band t over a 64-dim embedding column named
    * `embedding` (must mirror Similarity.signBucket bit order).
    */
  private def bandBucketSql(band: Int): String =
    (0 until LshBits).map { j =>
      val dim = band * LshBits + j
      s"(CASE WHEN embedding[${dim + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Banded membership CTE body over a corpus relation (vec_id,
    * embedding): one row per (vec_id, band), bucket fan-in capped —
    * mirrors Similarity.lshMembership.
    */
  private def membershipSql(corpus: String): String = {
    val bandRows = (0 until LshBands).map { t =>
      s"SELECT vec_id, $t AS band, ${bandBucketSql(t)} AS bucket FROM $corpus"
    }.mkString("\n  UNION ALL ")
    s"""SELECT vec_id, band, bucket FROM (
       | SELECT vec_id, band, bucket,
       |  row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
       | FROM ($bandRows))
       |WHERE rn <= $LshMaxBucket""".stripMargin
  }

  val q27Sql: String =
    s"""WITH mem AS (${membershipSql("embeddings")}),
       |pairs AS (
       | SELECT DISTINCT q.vec_id AS a, c.vec_id AS b
       | FROM mem q JOIN mem c
       |   ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id < c.vec_id),
       |directed AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
       |scored AS (
       | SELECT d.a AS qid, d.b AS nid,
       |  round(${cosSql("qe.embedding", "ne.embedding")}, 6) AS cos
       | FROM directed d
       | JOIN embeddings qe ON qe.vec_id = d.a
       | JOIN embeddings ne ON ne.vec_id = d.b),
       |ranked AS (
       | SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       | FROM scored)
       |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding near-dup: inject perturbed copies (id+10000, ±0.01
  // alternating per component), banded-LSH candidate prefilter (any-band
  // collision — a perturbation flipping one band's sign bit no longer
  // hides the pair from the other three), verify cos >= 0.99.
  // Recall < 1 still possible by design — identically reproduced by the
  // oracle.
  /** The shared near-dup fixture corpus (q28 / q86): every third base
    * vector re-appears at id+10000 with a ±0.01 per-dimension nudge —
    * injected near-duplicates whose cosine to their source stays ≥0.99,
    * so both candidate-generation strategies (LSH bands, SemDeDup
    * clusters) have ground-truth pairs to find.
    */
  private[graft] def neardupCorpus(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val perturbed = emb.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double")
            + when(i % 2 === 0, 0.01).otherwise(-0.01)).cast("float"))
          .as("embedding"))
    emb.select("vec_id", "embedding").unionByName(perturbed)
  }

  private val neardupCorpusSql: String =
    s"""SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + 10000 AS vec_id,
       |  list_transform(range(0, 64),
       |    i -> CAST(CAST(embedding[i + 1] AS DOUBLE)
       |         + (CASE WHEN i % 2 = 0 THEN 0.01 ELSE -0.01 END) AS FLOAT)) AS embedding
       | FROM embeddings WHERE vec_id % 3 = 0""".stripMargin

  def q28EmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val corpus = neardupCorpus(s, d)
    val pairs = Similarity.lshCandidatePairs(corpus, "vec_id", "embedding",
      LshBands, LshBits, LshMaxBucket)
    pairs
      .join(corpus.select(col("vec_id").as("a"), col("embedding").as("avec")), Seq("a"))
      .join(corpus.select(col("vec_id").as("b"), col("embedding").as("bvec")), Seq("b"))
      .select(col("a"), col("b"),
        round(Similarity.cosine(col("avec"), col("bvec")), 6).as("cos"))
      .filter(col("cos") >= 0.99)
      .orderBy("a", "b")
  }

  val q28Sql: String =
    s"""WITH corpus AS ($neardupCorpusSql),
       |mem AS (${membershipSql("corpus")}),
       |pairs AS (
       | SELECT DISTINCT q.vec_id AS a, c.vec_id AS b
       | FROM mem q JOIN mem c
       |   ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id < c.vec_id),
       |scored AS (
       | SELECT p.a, p.b,
       |  round(${cosSql("ae.embedding", "be.embedding")}, 6) AS cos
       | FROM pairs p
       | JOIN corpus ae ON ae.vec_id = p.a
       | JOIN corpus be ON be.vec_id = p.b)
       |SELECT a, b, cos FROM scored WHERE cos >= 0.99
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------------
  // Duplicate-cluster canonicalization: q28's near-dup pairs are edges;
  // 3 rounds of min-label propagation assign every clustered vector its
  // component's minimum id, and `keep` marks the canonical survivor.
  // Fixed round count (not convergence detection) keeps the labeling
  // engine-reproducible — the oracle unrolls the same 3 rounds.
  private val CcRounds = 3

  def q50NeardupComponents(s: SparkSession, d: String): DataFrame = {
    val edges = q28EmbedNeardup(s, d).select("a", "b")
    graft.operators.Dedup.connectedComponents(edges, "a", "b", CcRounds)
      .orderBy("id")
  }

  val q50Sql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         | SELECT id, min(cluster) AS cluster FROM (
         |  SELECT id, cluster FROM $prev
         |  UNION ALL
         |  SELECT u.src AS id, l.cluster FROM und u JOIN $prev l ON u.dst = l.id)
         | GROUP BY id)""".stripMargin
    val rounds = (1 to CcRounds).map(i => round(s"l${i - 1}", s"l$i"))
      .mkString(",\n")
    s"""WITH edges AS (SELECT a, b FROM ($q28Sql) q28),
       |und AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |l0 AS (SELECT DISTINCT src AS id, src AS cluster FROM und),
       |$rounds
       |SELECT id, cluster, (id = cluster) AS keep FROM l$CcRounds
       |ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // IVF ANN: 8 seed centroids (vec_id < 8) as the coarse quantizer,
  // every vector assigned to its nearest list, queries probe the 2
  // nearest lists and search only those candidates — work scales with
  // list sizes, not |vectors|. Recall < 1 by design; the oracle runs the
  // identical algorithm.
  private val IvfK = 8
  private val IvfProbes = 2

  def q36IvfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val centroids = emb.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cid"), col("embedding"))
    val assigned = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
    val probes = Similarity.ivfProbe(
      emb.filter(col("vec_id") % 50 === 0), centroids,
      "vec_id", "embedding", IvfProbes)
    val cands = probes.join(assigned.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"), col("cid")), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(Similarity.cosine(col("qvec"), col("nvec")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  val q36Sql: String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM emb WHERE vec_id < $IvfK),
       |assigned AS (
       | SELECT vec_id, embedding, cid FROM (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS r
       |  FROM emb e CROSS JOIN cent c) t WHERE r = 1),
       |probes AS (
       | SELECT qid, qvec, cid FROM (
       |  SELECT e.vec_id AS qid, e.embedding AS qvec, c.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS r
       |  FROM emb e CROSS JOIN cent c WHERE e.vec_id % 50 = 0) t
       | WHERE r <= $IvfProbes),
       |cands AS (
       | SELECT p.qid, a.vec_id AS nid,
       |  round(${cosSql("p.qvec", "a.embedding")}, 6) AS cos
       | FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vec_id != p.qid),
       |ranked AS (
       | SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       | FROM cands)
       |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q73 product quantization: 64-dim vectors → 8 codes (8 subspaces ×
  // 16 centroids), the ANN memory/compute compression step. Learning
  // is Spark-side Lloyd (deterministic init + round-6 tie-broken
  // assignment); the oracle does NOT re-learn — it applies the
  // codebook parquet fixture (the q69 merge-table protocol for
  // vectors). Distances fold left in double in BOTH engines
  // (aggregate() vs list_reduce — identical addition order, so the
  // rounded d² is bit-equal), ties broken by centroid id.
  private val PqM = 8
  private val PqSubDim = 8 // 64 / PqM
  private val PqK = 16
  private val PqIters = 3
  private val PqFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/pq_codebooks"

  /** (sub, cid, cvec) rows of a persisted codebook; m=1 coarse
    * codebooks carry no `sub` column and read as sub 0. Row order is
    * irrelevant to every consumer (they key by (sub, cid)); sorted for
    * determinism.
    */
  private def codebookRows(s: SparkSession, dir: String)
      : Seq[(Int, Int, Array[Double])] = {
    val df = s.read.parquet(dir)
    df.select((if (df.columns.contains("sub")) col("sub") else lit(0)).as("sub"),
        col("cid"), col("cvec"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(t => (t._1, t._2))
  }

  /** The PQ codebook through the fixture registry — shared by q73/q74
    * so either query is self-sufficient under Verify. An immutable
    * function of (corpus, m, K, iters) and the `Pq.trainCap` sample
    * budget, which the key pins: a codebook learned under a different
    * training discipline re-learns.
    */
  private def pqCodebook(s: SparkSession, d: String)
      : Seq[(Int, Int, Array[Double])] = {
    val tr = graft.operators.Pq.trainCap(PqK)
    graft.operators.ArtifactCache.fixture(s, PqFixtureDir,
        s"pq:$d:$PqM:$PqK:$PqIters:s$tr", "corpus_vecs",
        embeddings(s, d).count())(codebookRows(s, _)) {
      import s.implicits._
      graft.operators.Pq.learnCodebooks(embeddings(s, d).select("vec_id", "embedding"),
          "vec_id", "embedding", PqM, PqK, PqIters)
        .toDF("sub", "cid", "cvec").coalesce(1)
    }
  }

  def q73PqEncode(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    graft.operators.Pq.encode(embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", cb)
      .orderBy("vec_id")
  }

  val q73Sql: String = {
    val codes = (0 until PqM)
      .map(s0 => s"MAX(CASE WHEN sub = $s0 THEN cid END) AS c$s0")
      .mkString(",\n ")
    s"""WITH cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  embedding[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM embeddings, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(subvec[j] AS DOUBLE) - cvec[j])
       |       * (CAST(subvec[j] AS DOUBLE) - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |best AS (
       | SELECT vec_id, sub, cid,
       |  row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       | FROM scored)
       |SELECT vec_id,
       | $codes
       |FROM best WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q74 ADC top-k: the PQ search path — exact query subvectors against
  // the quantized corpus via per-query lookup tables (broadcast onto
  // the corpus's code rows); per-(query, id) sums ride as integer
  // micro-distances so the aggregation is order-independent in any
  // engine. Queries = every 50th vector.
  private val AdcK = 5

  def q74AdcTopk(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    graft.operators.Pq.adcTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", cb, AdcK)
      .orderBy("qid", "rank")
  }

  val q74Sql: String =
    s"""WITH cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  embedding[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM embeddings, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(subvec[j] AS DOUBLE) - cvec[j])
       |       * (CAST(subvec[j] AS DOUBLE) - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |codes AS (
       | SELECT vec_id AS id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |lut AS (
       | SELECT q.vec_id AS qid, q.sub, cb.cid,
       |  CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])
       |       * (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])),
       |    (a, b) -> a + b) * 1000000) AS BIGINT) AS qd2_micro
       | FROM (SELECT * FROM sv WHERE vec_id % 50 = 0) q
       | JOIN cb ON cb.sub = q.sub),
       |adc AS (
       | SELECT l.qid, c.id, CAST(sum(l.qd2_micro) AS BIGINT) AS adc_micro
       | FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.cid
       | GROUP BY 1, 2),
       |ranked AS (
       | SELECT qid, id, adc_micro,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc_micro, id) AS rank
       | FROM adc)
       |SELECT qid, CAST(rank AS INT) AS rank, id,
       | round(adc_micro / 1000000.0, 6) AS adc
       |FROM ranked WHERE rank <= $AdcK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q76 ANN recall audit: |ADC top-10 ∩ exact-L2 top-10| per query —
  // the approximation-quality metric a production ANN pipeline tracks
  // ("measure, don't guess" applied to the PQ path itself). Both
  // sides are deterministic (rounded distances, id tie-breaks), so
  // the overlap count is cell-exact across engines. The probe panel
  // is a FIXED id range (% 50 under 1000), not a corpus-scaling
  // fraction: an audit's exact side is brute force by definition, so
  // its query set must stay bounded as the corpus grows — with the
  // %-only filter the exact pairs grew quadratically under scale-up
  // (measured 18× wall at 10×; bounded panel: exact side linear).
  private val RecallK = 10

  def q76AnnRecall(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val adc = graft.operators.Pq.adcTopK(emb, queries,
        "vec_id", "embedding", cb, RecallK)
      .select(col("qid"), col("id"))
    // exact side: brute-force L2 (the q26 broadcast shape), rounded 6,
    // id tie-break — 40 queries x corpus at sf0.1, trivially bounded
    recallOverlap(adc, queries, sharedExactTopK(s, d))
  }

  val q76Sql: String = {
    val dim = 64
    s"""WITH cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  embedding[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM embeddings, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(subvec[j] AS DOUBLE) - cvec[j])
       |       * (CAST(subvec[j] AS DOUBLE) - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |codes AS (
       | SELECT vec_id AS id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |lut AS (
       | SELECT q.vec_id AS qid, q.sub, cb.cid,
       |  CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])
       |       * (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])),
       |    (a, b) -> a + b) * 1000000) AS BIGINT) AS qd2_micro
       | FROM (SELECT * FROM sv WHERE vec_id % 50 = 0 AND vec_id < 1000) q
       | JOIN cb ON cb.sub = q.sub),
       |adct AS (
       | SELECT qid, id FROM (
       |  SELECT l.qid, c.id,
       |   row_number() OVER (PARTITION BY l.qid
       |     ORDER BY sum(l.qd2_micro), c.id) AS rank
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.cid
       |  GROUP BY l.qid, c.id) WHERE rank <= $RecallK),
       |ex AS (
       | SELECT q.vec_id AS qid, e.vec_id AS id,
       |  round(list_reduce(list_transform(range(1, ${dim + 1}),
       |    j -> (CAST(q.embedding[j] AS DOUBLE) - CAST(e.embedding[j] AS DOUBLE))
       |       * (CAST(q.embedding[j] AS DOUBLE) - CAST(e.embedding[j] AS DOUBLE))),
       |    (a, b) -> a + b), 6) AS d2
       | FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1000) q, embeddings e),
       |ext AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rn
       |  FROM ex) WHERE rn <= $RecallK),
       |o AS (
       | SELECT a.qid, count(*) AS n FROM adct a JOIN ext USING (qid, id)
       | GROUP BY 1)
       |SELECT q.vec_id AS qid, coalesce(o.n, 0) AS n_overlap
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1000) q
       |LEFT JOIN o ON o.qid = q.vec_id
       |ORDER BY qid""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q77 IVF-PQ: the Faiss-style composed index, and the proof of the
  // §6.1 claim that a deployment "composes IVF pruning in front of
  // ADC" — coarse quantizer prunes to the query's top-2 probe lists
  // (q36's machinery), then ADC ranks ONLY candidates inside those
  // lists against the quantized codes (q73/q74's machinery). The ADC
  // scan cost per query drops from |corpus| to |probed lists|; at a
  // 1000-list deployment that is the ~500× difference between an
  // index and a scan. Bounded probe panel (the q76 lesson).
  private val IvfPqK = 3

  def q77IvfPqTopk(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val centroids = emb.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cid"), col("embedding"))
    val assigned = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
      .select(col("vec_id").as("nid"), col("cid"))
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val probes = Similarity.ivfProbe(queries, centroids,
        "vec_id", "embedding", IvfProbes)
      .select(col("qid"), col("cid"))
    val cands = probes.join(assigned, "cid")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
    val codes = graft.operators.Pq.codeRowsMapSide(emb, "vec_id", "embedding", cb)
    val lut = graft.operators.Pq.queryLut(queries, "vec_id", "embedding", cb)
    val w = Window.partitionBy("qid").orderBy(col("__adc_micro"), col("nid"))
    cands
      .join(codes.withColumnRenamed("id", "nid"), "nid")
      .join(broadcast(lut), Seq("qid", "sub", "cid"))
      .groupBy("qid", "nid")
      .agg(sum("__qd2_micro").as("__adc_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= IvfPqK)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("__adc_micro") / 1000000.0, 6).as("adc"))
      .orderBy("qid", "rank")
  }

  val q77Sql: String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (
       | SELECT vec_id AS ccid, embedding AS ccvec FROM emb
       | WHERE vec_id < $IvfK),
       |assigned AS (
       | SELECT vec_id AS nid, ccid FROM (
       |  SELECT e.vec_id, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosSql("e.embedding", "c.ccvec")}, 6) DESC, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c) t WHERE r = 1),
       |probes AS (
       | SELECT qid, ccid FROM (
       |  SELECT e.vec_id AS qid, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosSql("e.embedding", "c.ccvec")}, 6) DESC, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c
       |  WHERE e.vec_id % 50 = 0 AND e.vec_id < 1000) t
       | WHERE r <= $IvfProbes),
       |cands AS (
       | SELECT p.qid, a.nid FROM probes p JOIN assigned a USING (ccid)
       | WHERE p.qid != a.nid),
       |cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  embedding[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM embeddings, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(subvec[j] AS DOUBLE) - cvec[j])
       |       * (CAST(subvec[j] AS DOUBLE) - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |codes AS (
       | SELECT vec_id AS nid, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |lut AS (
       | SELECT q.vec_id AS qid, q.sub, cb.cid,
       |  CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])
       |       * (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])),
       |    (a, b) -> a + b) * 1000000) AS BIGINT) AS qd2_micro
       | FROM (SELECT * FROM sv WHERE vec_id % 50 = 0 AND vec_id < 1000) q
       | JOIN cb ON cb.sub = q.sub),
       |adc AS (
       | SELECT x.qid, x.nid, CAST(sum(l.qd2_micro) AS BIGINT) AS adc_micro
       | FROM cands x
       | JOIN codes c ON c.nid = x.nid
       | JOIN lut l ON l.qid = x.qid AND l.sub = c.sub AND l.cid = c.cid
       | GROUP BY 1, 2),
       |ranked AS (
       | SELECT qid, nid, adc_micro,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
       | FROM adc)
       |SELECT qid, CAST(rank AS INT) AS rank, nid,
       | round(adc_micro / 1000000.0, 6) AS adc
       |FROM ranked WHERE rank <= $IvfPqK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q79 ADC + exact re-rank (Faiss "refine"): the q76 audit exists to
  // trigger exactly this stage — ADC's quantized top-50 shortlist is
  // re-ranked with EXACT L2 fetched by id equi-join (per-query exact
  // work = |shortlist|, never |corpus|). Bounded probe panel (the q76
  // lesson).
  private val RefineShortlist = 50

  def q79AdcRefine(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    graft.operators.Pq.adcRefineTopK(emb, queries,
        "vec_id", "embedding", cb, RefineShortlist, AdcK)
      .orderBy("qid", "rank")
  }

  /** Shared oracle CTE prefix for the raw-PQ ADC paths: codebook
    * fixture → subvectors → code rows → per-query LUT over `panel`.
    */
  private def adcCtes(panelWhere: String): String =
    s"""cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  embedding[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM embeddings, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(subvec[j] AS DOUBLE) - cvec[j])
       |       * (CAST(subvec[j] AS DOUBLE) - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |codes AS (
       | SELECT vec_id AS id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |lut AS (
       | SELECT q.vec_id AS qid, q.sub, cb.cid,
       |  CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])
       |       * (CAST(q.subvec[j] AS DOUBLE) - cb.cvec[j])),
       |    (a, b) -> a + b) * 1000000) AS BIGINT) AS qd2_micro
       | FROM (SELECT * FROM sv WHERE $panelWhere) q
       | JOIN cb ON cb.sub = q.sub),
       |adc AS (
       | SELECT l.qid, c.id, CAST(sum(l.qd2_micro) AS BIGINT) AS adc_micro
       | FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.cid
       | GROUP BY 1, 2)""".stripMargin

  private val BoundedPanel = "vec_id % 50 = 0 AND vec_id < 1000"

  /** Exact L2² between two embedding rows, rounded 6 — left fold in
    * index order, both sides cast to double (mirrors Pq.l2sqExact).
    */
  private def l2Sql(a: String, b: String): String =
    s"""round(list_reduce(list_transform(range(1, 65),
       |    j -> (CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE))
       |       * (CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE))),
       |    (a, b) -> a + b), 6)""".stripMargin

  val q79Sql: String =
    s"""WITH ${adcCtes(BoundedPanel)},
       |shortl AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_micro, id) AS rank
       |  FROM adc) WHERE rank <= $RefineShortlist),
       |ex AS (
       | SELECT s.qid, s.id, ${l2Sql("ne.embedding", "qe.embedding")} AS l2
       | FROM shortl s
       | JOIN embeddings ne ON ne.vec_id = s.id
       | JOIN embeddings qe ON qe.vec_id = s.qid),
       |rr AS (
       | SELECT qid, id, l2,
       |  row_number() OVER (PARTITION BY qid ORDER BY l2, id) AS rank
       | FROM ex)
       |SELECT qid, CAST(rank AS INT) AS rank, id, l2
       |FROM rr WHERE rank <= $AdcK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q81 refined-recall audit: q76 re-run THROUGH the refine stage —
  // |refined top-10 ∩ exact top-10| per query. The q76/q81 delta is the
  // measured value of the refine stage (with r8's bounded-sample-trained
  // codebooks q76 reads 0.33@10 at K=16 and the refined path 0.69 — vs
  // ≈0.35/0.75 trained on the full corpus: the Faiss sample discipline
  // costs ~2-6 recall points for a learn wall flat in corpus size; the
  // refine stage still recovers every exact neighbor its ADC top-50
  // shortlist contains).
  def q81RefineRecall(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val refined = graft.operators.Pq.adcRefineTopK(emb, queries,
        "vec_id", "embedding", cb, RefineShortlist, RecallK)
      .select(col("qid"), col("id"))
    recallOverlap(refined, queries, sharedExactTopK(s, d))
  }

  /** Brute-force exact L2 top-`RecallK` per panel query — the ground
    * truth every recall audit compares against.
    */
  private def exactTopK(queries: DataFrame, emb: DataFrame): DataFrame = {
    val q2 = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("__d2"), col("vec_id"))
    emb.crossJoin(broadcast(q2))
      .withColumn("__d2", round(
        graft.functions.L2SqExpr.l2sqFast(col("embedding"), col("qvec")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= RecallK)
      .select(col("qid"), col("vec_id").as("id"))
  }

  /** The FULL-corpus ground truth shared by five recall audits
    * (q76/q81/q83/q91/q93 — identical panel, identical corpus),
    * brute-forced ONCE per corpus into the in-process registry as a
    * checkpointed |panel|·RecallK-row frame — the tradeEdges r14
    * precedent: before r19 every audit re-ran the same crossJoin +
    * window. Deterministic (round-6 distances, id tie-break), so the
    * served frame is bit-identical to an inline recompute; q97's
    * FILTERED ground truth stays inline (different corpus).
    */
  private[graft] def sharedExactTopK(s: SparkSession, d: String): DataFrame =
    graft.operators.ArtifactCache.getOrLearn(
        s"recallgt:$d:$RecallK:${s.sparkContext.applicationId}") {
      val emb = embeddings(s, d).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
      exactTopK(queries, emb).localCheckpoint(eager = true)
    }

  /** Overlap-with-exact-top-k audit body shared by the recall audits:
    * the approximate (qid, id) set semi-joined against brute-force L2
    * top-`RecallK`, counted per query over the full panel (0 for
    * queries the approximate side missed entirely).
    */
  private def recallOverlap(approx: DataFrame, queries: DataFrame,
                            exact: DataFrame): DataFrame = {
    val overlap = approx.join(exact, Seq("qid", "id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("__n"))
    queries.select(col("vec_id").as("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("__n"), lit(0L)).as("n_overlap"))
      .orderBy("qid")
  }

  /** Exact-top-k + overlap oracle tail shared by q81/q83 (and, with a
    * corpus predicate, q97): expects an `apx(qid, id)` CTE in scope.
    * `corpusPredSql` restricts the EXACT side's corpus — the filtered-
    * search ground truth is the best matches AMONG the rows satisfying
    * the predicate, not a post-filtered unrestricted top-k.
    */
  private def recallTail(corpusPredSql: String): String =
    s"""ex AS (
       | SELECT q.vec_id AS qid, e.vec_id AS id,
       |  ${l2Sql("q.embedding", "e.embedding")} AS d2
       | FROM (SELECT * FROM embeddings WHERE $BoundedPanel) q,
       |  (SELECT * FROM embeddings WHERE $corpusPredSql) e),
       |ext AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rn
       |  FROM ex) WHERE rn <= $RecallK),
       |o AS (
       | SELECT a.qid, count(*) AS n FROM apx a JOIN ext USING (qid, id)
       | GROUP BY 1)
       |SELECT q.vec_id AS qid, coalesce(o.n, 0) AS n_overlap
       |FROM (SELECT vec_id FROM embeddings WHERE $BoundedPanel) q
       |LEFT JOIN o ON o.qid = q.vec_id
       |ORDER BY qid""".stripMargin

  private val recallTailSql: String = recallTail("TRUE")

  val q81Sql: String =
    s"""WITH ${adcCtes(BoundedPanel)},
       |shortl AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_micro, id) AS rank
       |  FROM adc) WHERE rank <= $RefineShortlist),
       |rex AS (
       | SELECT s.qid, s.id, ${l2Sql("ne.embedding", "qe.embedding")} AS l2
       | FROM shortl s
       | JOIN embeddings ne ON ne.vec_id = s.id
       | JOIN embeddings qe ON qe.vec_id = s.qid),
       |apx AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id,
       |   row_number() OVER (PARTITION BY qid ORDER BY l2, id) AS rank
       |  FROM rex) WHERE rank <= $RecallK),
       |$recallTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // q82 residual IVF-PQ: true Faiss IVFADC — the PQ codebooks quantize
  // the RESIDUAL (vector − assigned coarse centroid), which is centered
  // near zero and therefore finer-grained at the same K than raw
  // vectors (q73/q77). The coarse quantizer is L2 LLOYD (Pq.
  // coarseQuantizer — m=1 learnCodebooks) with the DERIVED 4·√n list
  // count (Pq.coarseListCount), NOT the q36 cosine-to-seed scheme:
  // measured on this corpus, cosine-to-seed residuals carry 1.62× the
  // raw variance (recall@10 DROPPED to 0.18), 8 Lloyd lists barely
  // break even, and the 4√n rule reads 0.45 vs 0.35 raw at 500
  // vectors, 0.35 vs 0.25 at 2 000 — at unchanged K (the q76/q83
  // audit pair measures exactly this delta; under r8's bounded-sample
  // training the 500-vector pair reads 0.47 vs 0.33 — the residual
  // advantage survives the sample discipline). The
  // query's distance table is computed per PROBED LIST on the query's
  // residual against that list's centroid (queryLutBy keyed
  // (qid, ccid)); candidate codes live in exactly one list, so the
  // (qid, ccid, sub, cid) LUT join stays an equi-join.
  private val PqResidFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/pq_residual_codebooks"
  private val PqCoarseFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/pq_residual_coarse"

  /** L2 Lloyd coarse quantizer + oracle fixture (the pqCodebook
    * protocol; m=1 rows stored as (cid, cvec)). The list count is
    * DERIVED from the measured corpus size ([[graft.operators.Pq
    * .coarseListCount]] — the √n Faiss rule; 16 lists at 500 vectors,
    * 64 at 5 000), which the oracle never needs as a literal: its
    * `cent` CTE reads the fixture, so list count is whatever the
    * fixture holds. Ten Lloyd rounds — the coarse quantizer is the
    * learning path's cheapest artifact and the one whose quality
    * gates residual recall.
    */
  private val CoarseIters = 10

  private[graft] def pqResidualCoarse(s: SparkSession, d: String)
      : Seq[(Int, Int, Array[Double])] =
    coarseFixture(s, s"pqcoarse:$d:derived:$CoarseIters",
      embeddings(s, d).select("vec_id", "embedding"))

  /** An L2 Lloyd coarse quantizer over `vectors` as an m=1 (cid, cvec)
    * fixture in [[PqCoarseFixtureDir]], keyed by `vectors`' count; the
    * sidecar stamps the derived training budget.
    */
  private def coarseFixture(s: SparkSession, key: String, vectors: DataFrame)
      : Seq[(Int, Int, Array[Double])] =
    graft.operators.ArtifactCache.fixture(s, PqCoarseFixtureDir, key,
        "corpus_vecs", vectors.count(),
        n => s"train=${graft.operators.Pq.trainCap(
          graft.operators.Pq.coarseListCount(n))}")(codebookRows(s, _)) {
      import s.implicits._
      graft.operators.Pq.coarseQuantizer(vectors, "vec_id", "embedding",
          graft.operators.Pq.coarseListCount(vectors.count()), CoarseIters)
        .map { case (_, cid, v) => (cid, v) }.toDF("cid", "cvec").coalesce(1)
    }

  /** Residual PQ codebook + oracle fixture (the pqCodebook protocol
    * applied to the residual frame; keyed by the coarse knobs too).
    */
  private def pqResidualCodebook(s: SparkSession, d: String)
      : Seq[(Int, Int, Array[Double])] = {
    val tr = graft.operators.Pq.trainCap(PqK)
    graft.operators.ArtifactCache.fixture(s, PqResidFixtureDir,
        s"pqresid:$d:$PqM:$PqK:$PqIters:derived:s$tr", "corpus_vecs",
        embeddings(s, d).count())(codebookRows(s, _)) {
      val resid = graft.operators.Pq.residuals(
        embeddings(s, d).select("vec_id", "embedding"), pqResidualCoarse(s, d),
        "vec_id", "embedding")
      import s.implicits._
      graft.operators.Pq.learnCodebooks(resid, "vec_id", "rvec", PqM, PqK, PqIters)
        .toDF("sub", "cid", "cvec").coalesce(1)
    }
  }

  /** The persisted residual-PQ INDEX TABLE: (id, ccid, sub, cid) code
    * rows for the whole corpus. Index BUILD (coarse assignment — n·k
    * distance evals, the expensive half) runs once and lands in the
    * registry as parquet; SERVING is then a scan of the code table,
    * the Faiss index-on-disk shape. Re-deriving assignment per query
    * measured 11.6× wall at a 10× corpus (n · 4√n lists grows n^1.5);
    * the code table scan is linear.
    */
  private val PqCodesFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/pq_residual_codes"

  private def pqResidualCodes(s: SparkSession, d: String): DataFrame = {
    // the key's sample budget: a code table built from codebooks under
    // a DIFFERENT training discipline must rebuild — stale codes against
    // a re-learned codebook fixture would be an index/model version skew
    val tr = graft.operators.Pq.trainCap(PqK)
    val path = graft.operators.ArtifactCache.fixture(s, PqCodesFixtureDir,
        s"pqcodesidx:$d:s$tr", "corpus_vecs",
        embeddings(s, d).count())(identity) {
      // assignment + residual + encode compose into ONE shuffle-free
      // projection over the corpus scan — the index build is map-only
      graft.operators.Pq.residuals(embeddings(s, d).select("vec_id", "embedding"),
          pqResidualCoarse(s, d), "vec_id", "embedding")
        .select(col("vec_id").as("id"), col("ccid"),
          posexplode(graft.operators.Pq.encodeCodes(col("rvec"),
            pqResidualCodebook(s, d))).as(Seq("sub", "cid")))
    }
    s.read.parquet(path).select("id", "ccid", "sub", "cid")
  }

  /** Residual IVFADC top-k over the lists each query probes. Probe
    * count is the derived rule ([[graft.operators.Pq.probeCount]] —
    * lists/16, floor 2); `probeAll` turns probe pruning OFF (the q83
    * audit's full-corpus variant — isolates quantization quality from
    * probe misses). `excludeSelf` = false for the audit: the exact
    * side and q76's ADC both KEEP the query itself (trivially its own
    * nearest neighbor), so a serving-style self-filter would cost
    * every query one overlap and skew the comparison.
    */
  private def residualIvfAdc(s: SparkSession, d: String, probeAll: Boolean,
                             k: Int, excludeSelf: Boolean = true,
                             excludeQueryList: Boolean = false): DataFrame = {
    val coarse = pqResidualCoarse(s, d)
    val nProbe =
      if (probeAll) Int.MaxValue
      // hard-negative mining (q106) empties the query's OWN list — the
      // densest candidate source — so it probes one list further to
      // restore the budget (the q92/q96 boosted-budget reasoning)
      else graft.operators.Pq.probeCount(coarse.size) +
        (if (excludeQueryList) 1 else 0)
    val cbR = pqResidualCodebook(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val codesT = pqResidualCodes(s, d)
    val codes = codesT.select(col("id").as("nid"), col("sub"), col("cid"))
    val assigned = codesT.where(col("sub") === 0)
      .select(col("id").as("nid"), col("ccid"))
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val probes = graft.operators.Pq.coarseProbe(queries, coarse,
      "vec_id", "embedding", nProbe)
    val lut = graft.operators.Pq.queryLutBy(probes, Seq("qid", "ccid"),
      "qrvec", cbR)
    val candsAll = probes.select(col("qid"), col("ccid"))
      .join(assigned, "ccid")
    val candsSelf =
      if (excludeSelf) candsAll.filter(col("qid") =!= col("nid")) else candsAll
    val cands =
      if (excludeQueryList) {
        // positives ≈ the query's own inverted list (its semantic
        // neighborhood under the index's own clustering); a candidate
        // appears with ccid = its assigned list, so dropping
        // ccid == query's list leaves the highest-scoring
        // OUT-OF-NEIGHBORHOOD rows — hard negatives. The query panel
        // is tiny, so its assignment rows broadcast
        val qAssign = assigned
          .join(broadcast(queries.select(col("vec_id").as("nid"))), "nid")
          .select(col("nid").as("qid"), col("ccid").as("qccid"))
        candsSelf.join(broadcast(qAssign), "qid")
          .filter(col("ccid") =!= col("qccid")).drop("qccid")
      } else candsSelf
    val w = Window.partitionBy("qid").orderBy(col("__adc_micro"), col("nid"))
    cands
      .join(codes, "nid")
      .join(broadcast(lut), Seq("qid", "ccid", "sub", "cid"))
      .groupBy("qid", "nid")
      .agg(sum("__qd2_micro").as("__adc_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("__adc_micro") / 1000000.0, 6).as("adc"))
  }

  def q82IvfPqResidual(s: SparkSession, d: String): DataFrame =
    residualIvfAdc(s, d, probeAll = false, k = IvfPqK).orderBy("qid", "rank")

  /** Shared oracle CTEs for the residual IVFADC paths: coarse
    * assignment → residual frame → residual codes → per-(query, list)
    * LUT over the probed lists (`nProbe`).
    */
  private def residualCtes(nProbeSql: String, excludeSelf: Boolean = true,
                           excludeQueryList: Boolean = false): String =
    s"""emb AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (
       | SELECT cid AS ccid, cvec AS ccvec
       | FROM read_parquet('$PqCoarseFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |assigned AS (
       | SELECT vec_id AS nid, ccid FROM (
       |  SELECT e.vec_id, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c) t WHERE r = 1),
       |resid AS (
       | SELECT a.nid AS vec_id, a.ccid,
       |  list_transform(range(1, 65),
       |    j -> CAST(e.embedding[j] AS DOUBLE) - CAST(c.ccvec[j] AS DOUBLE)) AS rvec
       | FROM assigned a
       | JOIN emb e ON e.vec_id = a.nid
       | JOIN cent c USING (ccid)),
       |cb AS (
       | SELECT sub, cid, cvec FROM read_parquet('$PqResidFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |sv AS (
       | SELECT vec_id, u.s AS sub,
       |  rvec[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM resid, unnest(range(0, $PqM)) AS u(s)),
       |scored AS (
       | SELECT vec_id, sub, cid,
       |  round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (subvec[j] - cvec[j]) * (subvec[j] - cvec[j])),
       |    (a, b) -> a + b), 6) AS d2
       | FROM sv JOIN cb USING (sub)),
       |codes AS (
       | SELECT vec_id AS nid, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |probes AS (
       | SELECT qid, ccid FROM (
       |  SELECT e.vec_id AS qid, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c
       |  WHERE e.vec_id % 50 = 0 AND e.vec_id < 1000) t
       | WHERE r <= $nProbeSql),
       |qresid AS (
       | SELECT p.qid, p.ccid,
       |  list_transform(range(1, 65),
       |    j -> CAST(e.embedding[j] AS DOUBLE) - CAST(c.ccvec[j] AS DOUBLE)) AS qrvec
       | FROM probes p
       | JOIN emb e ON e.vec_id = p.qid
       | JOIN cent c USING (ccid)),
       |qsv AS (
       | SELECT qid, ccid, u.s AS sub,
       |  qrvec[u.s * $PqSubDim + 1 : u.s * $PqSubDim + $PqSubDim] AS subvec
       | FROM qresid, unnest(range(0, $PqM)) AS u(s)),
       |lut AS (
       | SELECT q.qid, q.ccid, q.sub, cb.cid,
       |  CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |    j -> (q.subvec[j] - cb.cvec[j]) * (q.subvec[j] - cb.cvec[j])),
       |    (a, b) -> a + b) * 1000000) AS BIGINT) AS qd2_micro
       | FROM qsv q JOIN cb ON cb.sub = q.sub),
       |cands AS (
       | SELECT p.qid, p.ccid, a.nid
       | FROM probes p JOIN assigned a USING (ccid)
       | ${if (excludeQueryList) "JOIN assigned qa ON qa.nid = p.qid" else ""}
       | ${Seq(if (excludeSelf) Some("p.qid != a.nid") else None,
              if (excludeQueryList) Some("a.ccid != qa.ccid") else None)
          .flatten match {
            case Nil => ""
            case cs => cs.mkString("WHERE ", " AND ", "")
          }}),
       |radc AS (
       | SELECT x.qid, x.nid, CAST(sum(l.qd2_micro) AS BIGINT) AS adc_micro
       | FROM cands x
       | JOIN codes c ON c.nid = x.nid
       | JOIN lut l ON l.qid = x.qid AND l.ccid = x.ccid
       |            AND l.sub = c.sub AND l.cid = c.cid
       | GROUP BY 1, 2)""".stripMargin

  /** The derived probe rule in oracle form — probes relative to the
    * fixture's list count, so no literal needs re-deriving per scale.
    */
  private val DerivedProbeSql = "(SELECT greatest(2, count(*) // 16) FROM cent)"

  val q82Sql: String =
    s"""WITH ${residualCtes(DerivedProbeSql)},
       |ranked AS (
       | SELECT qid, nid, adc_micro,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
       | FROM radc)
       |SELECT qid, CAST(rank AS INT) AS rank, nid,
       | round(adc_micro / 1000000.0, 6) AS adc
       |FROM ranked WHERE rank <= $IvfPqK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q106 hard-negative mining — the contrastive-training retrieval
  // shape (DPR/Contriever negative selection): for each query, the
  // highest-scoring candidates OUTSIDE its own semantic neighborhood.
  // "Positive" here = the query's own inverted list under the index's
  // persisted coarse clustering (its nearest-centroid cell — the same
  // neighborhood SemDeDup treats as duplicate-candidate space), so
  // near-duplicates and same-topic twins never leak into the negative
  // pool as false negatives. Serving = q82's probe-pruned residual
  // ADC with one extra broadcast of the 20-row query-assignment panel
  // and one filter; the probe budget is boosted by one list because
  // the exclusion empties the densest candidate source. Zero new
  // state: the assignment table IS the persisted code table's sub-0
  // slice.
  private val HardNegK = 5

  def q106HardNegatives(s: SparkSession, d: String): DataFrame =
    residualIvfAdc(s, d, probeAll = false, k = HardNegK,
        excludeQueryList = true)
      .orderBy("qid", "rank")

  private val BoostedProbeSql =
    "(SELECT greatest(2, count(*) // 16) + 1 FROM cent)"

  val q106Sql: String =
    s"""WITH ${residualCtes(BoostedProbeSql, excludeQueryList = true)},
       |ranked AS (
       | SELECT qid, nid, adc_micro,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
       | FROM radc)
       |SELECT qid, CAST(rank AS INT) AS rank, nid,
       | round(adc_micro / 1000000.0, 6) AS adc
       |FROM ranked WHERE rank <= $HardNegK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q83 residual-recall audit: residual ADC with probe pruning OFF
  // (nProbe = IvfK — every list probed, so candidates = full corpus)
  // against exact top-10 — the q76 measurement at unchanged K with only
  // the quantization target changed from raw vectors to residuals.
  // The q76/q83 delta is the measured value of residual encoding.
  def q83ResidualRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val approx = residualIvfAdc(s, d, probeAll = true, k = RecallK,
        excludeSelf = false)
      .select(col("qid"), col("nid").as("id"))
    recallOverlap(approx, queries, sharedExactTopK(s, d))
  }

  val q83Sql: String =
    s"""WITH ${residualCtes("(SELECT count(*) FROM cent)",
         excludeSelf = false)},
       |apx AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
       |  FROM radc) WHERE rank <= $RecallK),
       |$recallTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // q84 IVFADC + refine: the COMPLETE Faiss-style serving pipeline in
  // one query — derived-count coarse probe (prunes the corpus to a
  // constant fraction), residual ADC over the probed lists (quantized
  // shortlist of RefineShortlist), exact-L2 re-rank of the shortlist
  // (Pq.refineTopK). Per-query cost: probed-list codes + shortlist
  // exact distances — never a corpus scan of vectors. Every stage is
  // the audited one (q83 quantization, q81 refine, q76 baseline).
  def q84IvfPqRefine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val short = residualIvfAdc(s, d, probeAll = false, k = RefineShortlist)
      .select(col("qid"), col("nid").as("id"))
    graft.operators.Pq.refineTopK(short, emb, queries,
        "vec_id", "embedding", AdcK)
      .orderBy("qid", "rank")
  }

  val q84Sql: String =
    s"""WITH ${residualCtes(DerivedProbeSql)},
       |shortl AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS r
       |  FROM radc) WHERE r <= $RefineShortlist),
       |rex AS (
       | SELECT s.qid, s.id, ${l2Sql("ne.embedding", "qe.embedding")} AS l2
       | FROM shortl s
       | JOIN embeddings ne ON ne.vec_id = s.id
       | JOIN embeddings qe ON qe.vec_id = s.qid),
       |rr AS (
       | SELECT qid, id, l2,
       |  row_number() OVER (PARTITION BY qid ORDER BY l2, id) AS rank
       | FROM rex)
       |SELECT qid, CAST(rank AS INT) AS rank, id, l2
       |FROM rr WHERE rank <= $AdcK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q86 SemDeDup (Abbas et al. 2023): semantic near-dup removal through
  // the PERSISTED coarse quantizer (the q82 registry fixture — the same
  // k-means clustering serves IVF probes and dedup, the double-duty the
  // paper's pipeline relies on). Same injected-dup corpus as q28, so the
  // two candidate-generation strategies (LSH bands there, clusters here)
  // are directly comparable on identical ground truth. Every vector with
  // a lower-id same-cluster ANCHOR neighbor (the cluster's SemCap lowest
  // ids — the bounded-fan-in contract that keeps total pair work linear)
  // at cosine ≥ SemTau is dropped; the oracle mirrors the capped
  // semantics exactly, so the hash check covers the cap path itself.
  private val SemTau = 0.95
  private val SemCap = 64
  private val SemClustersDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sem_clusters"

  /** The clustering table's training-provenance stamp is the COARSE
    * quantizer's actual budget — trainCap(coarseListCount(n_emb)), the
    * discipline [[pqResidualCoarse]] itself trains under — NOT the PQ
    * codebook's trainCap(PqK). The table is a function of the centroid
    * fixture: if the list-count rule ever changes, the coarse fixture
    * re-learns, and this stamp must invalidate the clustering table in
    * the same breath — a stale stamp would serve clusters built from
    * the OLD centroids while the oracle re-assigns against the new
    * fixture (a verify mismatch by construction).
    */
  private def semClustersTrainRows(s: SparkSession, d: String): Long =
    graft.operators.Pq.trainCap(
      graft.operators.Pq.coarseListCount(embeddings(s, d).count())).toLong

  /** The persisted CLUSTERING TABLE: (vec_id, cid, embedding) for the
    * dedup corpus — SemDeDup's own deployment shape (the paper computes
    * the k-means assignment once and sweeps tau over the stored sorted
    * clusters). Assignment is the n·k·dim cost — the same class as the
    * IVF index build, and like it (pqResidualCodes, measured 11.6×
    * wall at 10× when re-derived per run) it runs ONCE into the
    * registry; serving reads the table and pays only the bounded pair
    * stage.
    */
  private[graft] def semClusters(s: SparkSession, d: String): DataFrame = {
    val path = graft.operators.ArtifactCache.fixture(s, SemClustersDir,
        s"semclusters:$d:$CoarseIters:coarsetrain", "corpus_vecs",
        neardupCorpus(s, d).count(),
        _ => s"train=${semClustersTrainRows(s, d)}")(identity) {
      Similarity.assignClusters(neardupCorpus(s, d),
          pqResidualCoarse(s, d).map { case (_, cid, v) => (cid, v) },
          "vec_id", "embedding")
        .select("vec_id", "cid", "embedding")
    }
    s.read.parquet(path).select("vec_id", "cid", "embedding")
  }

  def q86SemanticDedup(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedupAssigned(semClusters(s, d),
        "vec_id", "embedding", SemTau, maxCluster = SemCap,
        clusters = pqResidualCoarse(s, d).size)
      .orderBy("vec_id")

  /** Oracle CTE prefix shared by q86/q95: re-derive the dedup corpus,
    * read the coarse fixture, assign, and take the SemCap lowest-id
    * anchors per cluster.
    */
  private val semOracleCtes: String =
    s"""corpus AS ($neardupCorpusSql),
       |cent AS (
       | SELECT cid, cvec
       | FROM read_parquet('$PqCoarseFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |assigned AS (
       | SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid,
       |   row_number() OVER (PARTITION BY v.vec_id
       |     ORDER BY ${l2Sql("v.embedding", "c.cvec")}, c.cid) AS r
       |  FROM corpus v CROSS JOIN cent c) t WHERE r = 1),
       |anch AS (
       | SELECT cid, vec_id FROM (
       |  SELECT cid, vec_id,
       |   row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS r
       |  FROM assigned) t WHERE r <= $SemCap)""".stripMargin

  val q86Sql: String =
    s"""WITH $semOracleCtes,
       |dropped AS (
       | SELECT DISTINCT y.vec_id AS b
       | FROM anch x
       | JOIN assigned y USING (cid)
       | JOIN corpus cx ON cx.vec_id = x.vec_id
       | JOIN corpus cy ON cy.vec_id = y.vec_id
       | WHERE x.vec_id < y.vec_id
       |   AND round(${cosSql("cx.embedding", "cy.embedding")}, 6) >= $SemTau)
       |SELECT a.vec_id, a.cid, (dr.b IS NULL) AS kept
       |FROM assigned a LEFT JOIN dropped dr ON dr.b = a.vec_id
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q95 SemDeDup tau sweep over the STORED clustering table — the
  // paper's actual deployment loop: the k-means assignment is computed
  // once (q86's persisted registry table), and the retention/pruning
  // trade is tuned by sweeping tau over the stored sorted clusters.
  // The tau-INDEPENDENT pair aggregate (max lower-id-anchor cosine per
  // member, Similarity.maxAnchorCosine) runs once; each tau row is
  // then a threshold over that single column. One clustering-table
  // scan, zero argmin/assignment work (PlanAuditSpec pins the shape).
  private val SemTaus = Seq(0.95, 0.99)

  def q95SemDedupTauSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mc = Similarity.maxAnchorCosine(semClusters(s, d),
      "vec_id", "embedding", maxCluster = SemCap,
      clusters = pqResidualCoarse(s, d).size)
    mc.crossJoin(broadcast(SemTaus.toDF("tau")))
      .groupBy("tau")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("max_anchor_cos").isNull ||
            col("max_anchor_cos") < col("tau"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
      .orderBy("tau")
  }

  val q95Sql: String =
    s"""WITH $semOracleCtes,
       |mx AS (
       | SELECT y.vec_id,
       |  max(round(${cosSql("cx.embedding", "cy.embedding")}, 6)) AS mc
       | FROM anch x
       | JOIN assigned y USING (cid)
       | JOIN corpus cx ON cx.vec_id = x.vec_id
       | JOIN corpus cy ON cy.vec_id = y.vec_id
       | WHERE x.vec_id < y.vec_id
       | GROUP BY y.vec_id),
       |base AS (
       | SELECT a.vec_id, mx.mc FROM assigned a
       | LEFT JOIN mx ON mx.vec_id = a.vec_id),
       |taus AS (SELECT unnest([${SemTaus.mkString(", ")}]) AS tau)
       |SELECT tau, CAST(count(*) AS BIGINT) AS n_total,
       | CAST(sum(CASE WHEN mc IS NULL OR mc < tau THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_kept,
       | CAST(sum(CASE WHEN mc >= tau THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dropped
       |FROM base CROSS JOIN taus
       |GROUP BY tau ORDER BY tau""".stripMargin

  // ---------------------------------------------------------------------
  // q88/q89 scalar quantization (SQ8) — the other standard Faiss index
  // family next to PQ: per-dimension (min, max) ranges map each float to
  // an 8-bit code (4× memory cut, one-aggregation "training", map-side
  // encode). q88 pins the integer codes (md5 over the code CSV + summary
  // stats); q89 is the asymmetric serving query — exact queries against
  // the reconstructed corpus, round-6 L2², broadcast query panel. The
  // oracle re-derives the ranges itself (exact min/max needs no fixture,
  // unlike Lloyd-trained codebooks) and re-encodes from the same
  // arithmetic, so the hash check covers learn + encode + search.
  private val SqK = 10

  /** Probe multiplier for the REFINED IVF-SQ serving point (q92/q93).
    * Measured at sf0.01: SQ8 reconstruction is near-exact, so with the
    * base probe budget an exact re-rank buys NOTHING (recall 0.56 →
    * 0.56 — the shortlist already held the best probed candidates in
    * the right order); the loss is pure PROBE loss, the opposite
    * regime from PQ where quantization dominates (q79: 0.35 → 0.75
    * from the same re-rank). The Faiss tuning answer is nprobe: the
    * refined serving point probes 4× the derived count (≈¼ of the
    * lists at sf0.01) and re-ranks, trading a bounded extra scan for
    * the recall headroom the re-rank can then actually realize.
    */
  private val SqRefineProbeBoost = 4
  private val SqBoostedProbeSql =
    s"(SELECT greatest(2, count(*) // 16) * $SqRefineProbeBoost FROM cent)"

  private val SqRangesFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sq_ranges"
  private val SqCodesFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sq_codes"

  /** SQ8 per-dimension ranges through the registry (the pqCodebook
    * protocol): one row per dimension (pos, mn, span), trained on the
    * full corpus — SQ "training" is the EXACT min/max aggregation, no
    * sampling, so the sidecar's row count is the training stamp too.
    */
  private def sqRanges(s: SparkSession, d: String): graft.operators.Sq.Ranges =
    rangesFixture(s, SqRangesFixtureDir, s"sq8:$d", embeddings(s, d))

  /** SQ8 ranges learned over `vectors` as a fixture keyed by its count. */
  private def rangesFixture(s: SparkSession, dir: String, key: String,
                            vectors: DataFrame): graft.operators.Sq.Ranges =
    graft.operators.ArtifactCache.fixture(s, dir, key, "corpus_vecs",
        vectors.count()) { p =>
      val rows = s.read.parquet(p).select("pos", "mn", "span")
        .collect().sortBy(_.getInt(0)).toSeq
      graft.operators.Sq.Ranges(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    } {
      val r = graft.operators.Sq.learnRanges(vectors.select("embedding"), "embedding")
      import s.implicits._
      r.mins.indices.map(i => (i, r.mins(i), r.spans(i)))
        .toDF("pos", "mn", "span").coalesce(1)
    }

  /** The persisted SQ8 CODE TABLE: (vec_id, codes) for the whole
    * corpus — the scalar-quantization index artifact, built once into
    * the registry exactly like [[pqResidualCodes]]. The build is one
    * shuffle-free encode projection over the corpus scan; SERVING
    * (q88's pin, q89's ADC, q90's IVF-SQ) then reads the table and
    * never re-encodes — before r9, q90 re-ran the encode projection
    * over every corpus row on every serving pass (3.7× wall at a 10×
    * corpus, the worst serving ratio in the suite, vs the persisted
    * PQ family's 1.7× band).
    */
  private def sqCodesTable(s: SparkSession, d: String): DataFrame = {
    val path = graft.operators.ArtifactCache.fixture(s, SqCodesFixtureDir,
        s"sqcodesidx:$d", "corpus_vecs", embeddings(s, d).count())(identity) {
      val r = sqRanges(s, d)
      embeddings(s, d).select(col("vec_id"),
        graft.operators.Sq.encodeCodes(col("embedding"), r).as("codes"))
    }
    s.read.parquet(path).select("vec_id", "codes")
  }

  def q88Sq8Encode(s: SparkSession, d: String): DataFrame = {
    // serve from the persisted code table: the hash-match against the
    // oracle's from-scratch re-encode is then a load ≡ learn proof for
    // the stored index itself, not just the encode arithmetic
    sqCodesTable(s, d)
      .select(col("vec_id"),
        md5(concat_ws(",", col("codes").cast("array<string>"))).as("codes_md5"),
        array_min(col("codes")).as("c_min"),
        array_max(col("codes")).as("c_max"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long")).as("c_sum"))
      .orderBy("vec_id")
  }

  /** The SQ8 oracle CTE pair, with the range-LEARNING corpus
    * restrictable (`rangeWhereSql`): codes are always computed for the
    * WHOLE embeddings table, but q104's compacted index learns its
    * ranges on the base half only and stream-encodes the delta against
    * them — the frozen-artifact contract the clamp in `sqcodes`
    * exists for.
    */
  private def sqRngCtesRanged(rangeWhereSql: String): String =
    s"""rng AS (
       | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
       |        max(CAST(embedding[i] AS DOUBLE)) AS mx
       | FROM embeddings, unnest(range(1, 65)) AS u(i)
       | WHERE $rangeWhereSql
       | GROUP BY i),
       |rngl AS (
       | SELECT list(mn ORDER BY i) AS mns,
       |        list(CASE WHEN mx > mn THEN mx - mn ELSE 1 END ORDER BY i) AS spans
       | FROM rng),
       |sqcodes AS (
       | SELECT vec_id,
       |  list_transform(range(1, 65), j ->
       |   least(255, greatest(0,
       |    CAST(round(((CAST(embedding[j] AS DOUBLE) - mns[j]) / spans[j])
       |               * CAST(255 AS DOUBLE)) AS INT)))) AS codes
       | FROM embeddings, rngl)""".stripMargin

  private val sqRngCtes: String = sqRngCtesRanged("TRUE")

  val q88Sql: String =
    s"""WITH $sqRngCtes
       |SELECT vec_id, md5(array_to_string(codes, ',')) AS codes_md5,
       | list_min(codes) AS c_min, list_max(codes) AS c_max,
       | CAST(list_sum(codes) AS BIGINT) AS c_sum
       |FROM sqcodes ORDER BY vec_id""".stripMargin

  def q89Sq8Adc(s: SparkSession, d: String): DataFrame = {
    val r = sqRanges(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val codes = sqCodesTable(s, d)
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    graft.operators.Sq.adcTopK(codes, queries,
        "vec_id", "codes", "vec_id", "embedding", r, SqK)
      .orderBy("qid", "rank")
  }

  private def sqReconSql(j: String): String =
    s"(mns[$j] + ((CAST(c.codes[$j] AS DOUBLE) * spans[$j]) / CAST(255 AS DOUBLE)))"

  val q89Sql: String =
    s"""WITH $sqRngCtes,
       |q AS (
       | SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       | WHERE vec_id % 50 = 0 AND vec_id < 1000),
       |dist AS (
       | SELECT q.qid, c.vec_id AS nid,
       |  round(list_reduce(list_transform(range(1, 65),
       |    j -> (CAST(q.qvec[j] AS DOUBLE) - ${sqReconSql("j")})
       |       * (CAST(q.qvec[j] AS DOUBLE) - ${sqReconSql("j")})),
       |    (a, b) -> a + b), 6) AS dist
       | FROM q JOIN sqcodes c ON c.vec_id != q.qid, rngl),
       |rr AS (
       | SELECT qid, nid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       | FROM dist)
       |SELECT qid, CAST(rank AS INT) AS rank, nid AS id, dist
       |FROM rr WHERE rank <= $SqK ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q90 IVF-SQ8: the Faiss IVF-SQ index — coarse probe pruning (the q82
  // machinery: persisted 4·√n Lloyd quantizer, derived probe count) in
  // front of SQ8 asymmetric search (q89's scorer) over the probed lists
  // only. BOTH corpus-side index halves are READ from the registry:
  // list assignment from the persisted residual code table (sub=0 rows
  // carry ccid) and SQ8 codes from the persisted code table — the same
  // index build amortization as q82/q84, zero assignment AND zero
  // encode work at serving. q89 is this query's brute-force audit
  // baseline (the q74→q77 relationship for scalar quantization).
  private def ivfSqTopk(s: SparkSession, d: String, k: Int,
                        excludeSelf: Boolean,
                        probeBoost: Int = 1,
                        corpusPred: Option[Column] = None): DataFrame = {
    val coarse = pqResidualCoarse(s, d)
    val nProbe = graft.operators.Pq.probeCount(coarse.size) * probeBoost
    val r = sqRanges(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val assignedAll = pqResidualCodes(s, d).where(col("sub") === 0)
      .select(col("id").as("nid"), col("ccid"))
    // PRE-filtering (q96): the metadata predicate prunes the inverted
    // lists BEFORE the probe fan-out join and before any distance work
    // — the filtered-vector-search discipline (post-filtering a top-k
    // both wastes distance evaluations on doomed candidates and can
    // return < k rows even when k matches exist in the probed lists).
    // The predicate is sargable (IN over a parquet column) so the keep
    // set is a pushed-filter scan of two columns, never a corpus pass.
    val assigned = corpusPred.fold(assignedAll) { p =>
      val keep = embeddings(s, d).where(p).select(col("vec_id").as("nid"))
      assignedAll.join(keep, Seq("nid"), "left_semi")
    }
    // the corpus-side codes are READ from the persisted SQ8 code table
    // (the same index amortization as the ccid half above) — zero
    // encode work at serving; before r9 this line re-encoded the full
    // corpus per run
    val sqcodes = sqCodesTable(s, d)
      .select(col("vec_id").as("nid"), col("codes"))
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val probes = graft.operators.Pq.coarseProbe(queries, coarse,
      "vec_id", "embedding", nProbe)
    val candsAll = probes.select("qid", "ccid").join(assigned, "ccid")
    val cands =
      if (excludeSelf) candsAll.filter(col("qid") =!= col("nid")) else candsAll
    val w = Window.partitionBy("qid").orderBy(col("__d"), col("nid"))
    cands.join(sqcodes, "nid")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"))), "qid")
      .withColumn("__d",
        round(graft.operators.Sq.adcDist(col("qvec"), col("codes"), r), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid").as("id"),
        col("__d").as("dist"))
  }

  def q90IvfSqTopk(s: SparkSession, d: String): DataFrame =
    ivfSqTopk(s, d, SqK, excludeSelf = true).orderBy("qid", "rank")

  // q91 IVF-SQ recall audit: |IVF-SQ top-10 ∩ exact-L2 top-10| per
  // query — the q83 audit applied to the scalar index; measures
  // quantization AND probe loss together (self kept, the audit
  // convention: the exact side trivially contains the query).
  def q91IvfSqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    recallOverlap(
      ivfSqTopk(s, d, RecallK, excludeSelf = false).select("qid", "id"),
      queries, sharedExactTopK(s, d))
  }

  /** q90's serving CTE chain — self-excluded candidates through the
    * SQ8 asymmetric distances (`dist`) — shared by q90 (rank to SqK,
    * derived probe count) and q92 (shortlist + exact re-rank at the
    * boosted probe count).
    */
  private def ivfSqServeCtes(probeSql: String,
                             corpusFilterSql: String = "TRUE",
                             rangeWhereSql: String = "TRUE",
                             centCountSql: String =
                               "(SELECT count(*) FROM embeddings)"): String =
    s"""${sqRngCtesRanged(rangeWhereSql)},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (
       | SELECT cid AS ccid, cvec AS ccvec
       | FROM read_parquet('$PqCoarseFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = $centCountSql),
       |assigned AS (
       | SELECT vec_id AS nid, ccid FROM (
       |  SELECT e.vec_id, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c) t WHERE r = 1
       |  AND vec_id IN (SELECT vec_id FROM embeddings
       |                 WHERE $corpusFilterSql)),
       |probes AS (
       | SELECT qid, ccid FROM (
       |  SELECT e.vec_id AS qid, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c
       |  WHERE $BoundedPanel) t
       | WHERE r <= $probeSql),
       |cands AS (
       | SELECT p.qid, a.nid
       | FROM probes p JOIN assigned a USING (ccid)
       | WHERE p.qid != a.nid),
       |dist AS (
       | SELECT x.qid, x.nid,
       |  round(list_reduce(list_transform(range(1, 65),
       |    j -> (CAST(q.embedding[j] AS DOUBLE) - ${sqReconSql("j")})
       |       * (CAST(q.embedding[j] AS DOUBLE) - ${sqReconSql("j")})),
       |    (a, b) -> a + b), 6) AS dist
       | FROM cands x
       | JOIN sqcodes c ON c.vec_id = x.nid
       | JOIN emb q ON q.vec_id = x.qid, rngl)""".stripMargin

  val q90Sql: String =
    s"""WITH ${ivfSqServeCtes(DerivedProbeSql)},
       |rr AS (
       | SELECT qid, nid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       | FROM dist)
       |SELECT qid, CAST(rank AS INT) AS rank, nid AS id, dist
       |FROM rr WHERE rank <= $SqK ORDER BY qid, rank""".stripMargin

  /** q90's CTE chain minus the self-exclusion, through `dist` — the
    * audit-side base shared by q91 (rank to RecallK directly) and q93
    * (shortlist + exact re-rank, then rank to RecallK).
    */
  private def ivfSqApxBase(probeSql: String,
                           corpusFilterSql: String = "TRUE"): String =
    s"""$sqRngCtes,
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (
       | SELECT cid AS ccid, cvec AS ccvec
       | FROM read_parquet('$PqCoarseFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |assigned AS (
       | SELECT vec_id AS nid, ccid FROM (
       |  SELECT e.vec_id, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c) t WHERE r = 1
       |  AND vec_id IN (SELECT vec_id FROM embeddings
       |                 WHERE $corpusFilterSql)),
       |probes AS (
       | SELECT qid, ccid FROM (
       |  SELECT e.vec_id AS qid, c.ccid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${l2Sql("e.embedding", "c.ccvec")}, c.ccid) AS r
       |  FROM emb e CROSS JOIN cent c
       |  WHERE $BoundedPanel) t
       | WHERE r <= $probeSql),
       |cands AS (
       | SELECT p.qid, a.nid
       | FROM probes p JOIN assigned a USING (ccid)),
       |dist AS (
       | SELECT x.qid, x.nid,
       |  round(list_reduce(list_transform(range(1, 65),
       |    j -> (CAST(q.embedding[j] AS DOUBLE) - ${sqReconSql("j")})
       |       * (CAST(q.embedding[j] AS DOUBLE) - ${sqReconSql("j")})),
       |    (a, b) -> a + b), 6) AS dist
       | FROM cands x
       | JOIN sqcodes c ON c.vec_id = x.nid
       | JOIN emb q ON q.vec_id = x.qid, rngl)""".stripMargin

  val q91Sql: String =
    s"""WITH ${ivfSqApxBase(DerivedProbeSql)},
       |apx AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       |  FROM dist) WHERE rank <= $RecallK),
       |$recallTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // q92 refined IVF-SQ: the q79/q84 refine pattern applied to the
  // scalar index — IVF-SQ produces a RefineShortlist-deep candidate
  // shortlist (quantized distances), then an exact-L2 re-rank of the
  // |shortlist| only (Pq.refineTopK — the machinery is generic over an
  // id join). Serving cost is the q90 probe scan plus shortlist·1
  // exact distances; q93 measures what the re-rank buys back of the
  // quantization loss (q91 read 0.56 at the derived probe budget —
  // the same gap q79 closed for PQ, 0.35→0.75).
  def q92IvfSqRefine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val short = ivfSqTopk(s, d, RefineShortlist, excludeSelf = true,
        probeBoost = SqRefineProbeBoost)
      .select(col("qid"), col("id"))
    graft.operators.Pq.refineTopK(short, emb, queries,
        "vec_id", "embedding", SqK)
      .orderBy("qid", "rank")
  }

  val q92Sql: String =
    s"""WITH ${ivfSqServeCtes(SqBoostedProbeSql)},
       |shortl AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS r
       |  FROM dist) WHERE r <= $RefineShortlist),
       |rex AS (
       | SELECT s.qid, s.id, ${l2Sql("ne.embedding", "qe.embedding")} AS l2
       | FROM shortl s
       | JOIN embeddings ne ON ne.vec_id = s.id
       | JOIN embeddings qe ON qe.vec_id = s.qid),
       |rr AS (
       | SELECT qid, id, l2,
       |  row_number() OVER (PARTITION BY qid ORDER BY l2, id) AS rank
       | FROM rex)
       |SELECT qid, CAST(rank AS INT) AS rank, id, l2
       |FROM rr WHERE rank <= $SqK
       |ORDER BY qid, rank""".stripMargin

  // q93 refined-IVF-SQ recall audit: the q81 audit for the scalar
  // index (self kept, the audit convention).
  def q93IvfSqRefineRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val short = ivfSqTopk(s, d, RefineShortlist, excludeSelf = false,
        probeBoost = SqRefineProbeBoost)
      .select(col("qid"), col("id"))
    val refined = graft.operators.Pq.refineTopK(short, emb, queries,
        "vec_id", "embedding", RecallK)
      .select("qid", "id")
    recallOverlap(refined, queries, sharedExactTopK(s, d))
  }

  val q93Sql: String =
    s"""WITH ${ivfSqApxBase(SqBoostedProbeSql)},
       |shortl AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS r
       |  FROM dist) WHERE r <= $RefineShortlist),
       |rex AS (
       | SELECT s.qid, s.id, ${l2Sql("ne.embedding", "qe.embedding")} AS l2
       | FROM shortl s
       | JOIN embeddings ne ON ne.vec_id = s.id
       | JOIN embeddings qe ON qe.vec_id = s.qid),
       |apx AS (
       | SELECT qid, id FROM (
       |  SELECT qid, id,
       |   row_number() OVER (PARTITION BY qid ORDER BY l2, id) AS rank
       |  FROM rex) WHERE rank <= $RecallK),
       |$recallTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // q96 FILTERED ANN: top-k under a metadata predicate — the serving
  // shape every production vector store exposes (Milvus/Vespa/pgvector
  // `WHERE` + ANN). PRE-filtering discipline: the predicate restricts
  // the inverted lists BEFORE the probe join and before any distance
  // arithmetic — post-filtering a plain top-k is both wasteful (scores
  // candidates the predicate will drop) and wrong at the contract
  // level (returns < k rows when < k of the top-k survive, even though
  // k predicate-matching rows exist in the probed lists). The
  // predicate (`label IN (0,2,4,6,8)`, ~half the corpus) is sargable,
  // so Spark's keep-set scan is a pushed parquet IN filter over two
  // columns (PlanAuditSpec pins PushedFilters), never a corpus pass.
  // Serving probes at the q92 boosted budget: filtering empties ~half
  // of every probed list, so the unboosted budget would surface too
  // few candidates — the Faiss answer is nprobe, same as the refine
  // serving point.
  private val FilteredPredSql = "label IN (0, 2, 4, 6, 8)"
  private def filteredPred: Column = col("label").isin(0, 2, 4, 6, 8)

  def q96FilteredAnn(s: SparkSession, d: String): DataFrame =
    ivfSqTopk(s, d, SqK, excludeSelf = true,
      probeBoost = SqRefineProbeBoost, corpusPred = Some(filteredPred))
      .orderBy("qid", "rank")

  val q96Sql: String =
    s"""WITH ${ivfSqServeCtes(SqBoostedProbeSql, FilteredPredSql)},
       |rr AS (
       | SELECT qid, nid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       | FROM dist)
       |SELECT qid, CAST(rank AS INT) AS rank, nid AS id, dist
       |FROM rr WHERE rank <= $SqK ORDER BY qid, rank""".stripMargin

  // q97 filtered-ANN recall audit: overlap vs the FILTERED exact
  // ground truth — the best k among rows satisfying the predicate
  // (not a post-filtered unrestricted top-k, which would under-count
  // whenever a predicate-failing neighbor crowded out a passing one).
  // Self kept on both sides per the audit convention; a query whose
  // own label fails the predicate is simply absent from both.
  def q97FilteredRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val kept = embeddings(s, d).where(filteredPred)
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    recallOverlap(
      ivfSqTopk(s, d, RecallK, excludeSelf = false,
        probeBoost = SqRefineProbeBoost,
        corpusPred = Some(filteredPred)).select("qid", "id"),
      queries, exactTopK(queries, kept))
  }

  val q97Sql: String =
    s"""WITH ${ivfSqApxBase(SqBoostedProbeSql, FilteredPredSql)},
       |apx AS (
       | SELECT qid, nid AS id FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       |  FROM dist) WHERE rank <= $RecallK),
       |${recallTail(FilteredPredSql)}""".stripMargin

  // ---------------------------------------------------------------------
  // q99 MMR diversified retrieval: greedy Maximal-Marginal-Relevance
  // re-rank of a brute-force top-20 shortlist — the serving stage that
  // keeps near-duplicate hits from crowding a result page. λ = 0.7
  // (as 7 tenths), k = 5. The oracle unrolls the same greedy loop as
  // chained CTEs (selection t scores every unselected candidate
  // against the union of steps < t); scores are EXACT integers
  // (7·rel_micro − 3·pen_micro over ×10⁶ cosines — λ·rel−(1−λ)·pen
  // with 6-decimal inputs lands on 7th-decimal half-way ties where the
  // engines' double rounding diverges) and ties break on ascending
  // nid, so the sequences are identical.
  private val MmrShortlist = 20
  private val MmrK = 5
  private val MmrLambdaTenths = 7

  def q99MmrRerank(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val short = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb,
        qId = "vec_id", cId = "vec_id", vecCol = "embedding",
        k = MmrShortlist)
      .select(col("qid"), col("nid"), col("cos").as("rel"))
    val withVec = short.join(
      emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")), "nid")
    Similarity.mmrRerank(withVec, lambdaTenths = MmrLambdaTenths, k = MmrK)
      .orderBy("qid", "step")
  }

  val q99Sql: String = {
    val lt = MmrLambdaTenths
    val ilt = 10 - MmrLambdaTenths
    def selU(t: Int) =
      (1 to t).map(i => s"SELECT qid, nid FROM sel$i").mkString(" UNION ALL ")
    val step1 =
      s"""sc1 AS (SELECT qid, nid, $lt * rel_micro AS mmr_micro FROM short),
         |sel1 AS (
         | SELECT qid, nid, mmr_micro, 1 AS step FROM (
         |  SELECT qid, nid, mmr_micro,
         |   row_number() OVER (PARTITION BY qid
         |     ORDER BY mmr_micro DESC, nid) AS rn
         |  FROM sc1)
         | WHERE rn = 1)""".stripMargin
    val steps = (2 to MmrK).map { t =>
      s"""sc$t AS (
         | SELECT c.qid, c.nid,
         |  $lt * c.rel_micro - $ilt * max(p.sim_micro) AS mmr_micro
         | FROM short c
         | JOIN (${selU(t - 1)}) s ON s.qid = c.qid
         | JOIN pair p ON p.qid = c.qid AND p.a = c.nid AND p.b = s.nid
         | LEFT JOIN (${selU(t - 1)}) x ON x.qid = c.qid AND x.nid = c.nid
         | WHERE x.nid IS NULL
         | GROUP BY c.qid, c.nid, c.rel_micro),
         |sel$t AS (
         | SELECT qid, nid, mmr_micro, $t AS step FROM (
         |  SELECT qid, nid, mmr_micro,
         |   row_number() OVER (PARTITION BY qid
         |     ORDER BY mmr_micro DESC, nid) AS rn
         |  FROM sc$t)
         | WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to MmrK)
      .map(t => s"SELECT qid, nid, mmr_micro, step FROM sel$t")
      .mkString("\n UNION ALL ")
    s"""WITH q AS (
       | SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       | WHERE vec_id < 10),
       |sims AS (
       | SELECT q.qid, e.vec_id AS nid,
       |  round(${cosSql("q.qvec", "e.embedding")}, 6) AS rel
       | FROM q JOIN embeddings e ON e.vec_id != q.qid),
       |short AS (
       | SELECT qid, nid,
       |  CAST(round(rel * 1000000) AS BIGINT) AS rel_micro FROM (
       |  SELECT qid, nid, rel,
       |   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rk
       |  FROM sims) WHERE rk <= $MmrShortlist),
       |pair AS (
       | SELECT s1.qid, s1.nid AS a, s2.nid AS b,
       |  CAST(round(round(${cosSql("e1.embedding", "e2.embedding")}, 6)
       |       * 1000000) AS BIGINT) AS sim_micro
       | FROM short s1
       | JOIN short s2 ON s2.qid = s1.qid AND s2.nid != s1.nid
       | JOIN embeddings e1 ON e1.vec_id = s1.nid
       | JOIN embeddings e2 ON e2.vec_id = s2.nid),
       |$step1,
       |$steps
       |SELECT qid, step, nid, mmr_micro FROM ($unions)
       |ORDER BY qid, step""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q104 ANN index COMPACTION: the continuous-ingest lifecycle closed
  // end-to-end. An index version freezes its artifacts on the corpus it
  // was built from (the BASE half, vec_id % 2 = 0 here): SQ8 ranges and
  // the Lloyd coarse quantizer are learned on base only. New vectors
  // (the DELTA half) then arrive through the streaming index-append
  // faces — sqEncodeStream (codes) + ivfAssignStream (inverted-list
  // assignment), both pure projections against the FROZEN artifacts
  // (stream ≡ batch, StreamingSpec) — and compaction unions base + delta
  // rows into ONE registry table carrying (nid, ccid, codes) together.
  // Serving probes that single table: one equi-join from the probe
  // fan-out instead of q90's two (assignment table ⋈ code table) —
  // co-locating list id and codes per row is exactly what a compaction
  // buys at serving time. The oracle recomputes everything from scratch
  // (ranges over the base half only; the even-corpus centroid fixture
  // via read_parquet; clamp on delta codes — the frozen-ranges
  // contract), so the hash-match proves merged-index serving ≡ a
  // from-scratch build over the full corpus with base-frozen artifacts.
  private val CompactBaseSql = "vec_id % 2 = 0"
  private val CompactCentCountSql =
    "(SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)"
  private val SqMergedFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sq_merged_idx"
  private val SqEvenRangesFixtureDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sq_ranges_even"

  private def evenEmb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).where(col("vec_id") % 2 === 0)

  /** Base-half SQ8 ranges — [[sqRanges]]'s protocol keyed to the even
    * corpus (full-agg discipline on the base half), in its own fixture
    * dir so it can never shadow a full-corpus ranges fixture.
    */
  private def sqEvenRanges(s: SparkSession, d: String): graft.operators.Sq.Ranges =
    rangesFixture(s, SqEvenRangesFixtureDir, s"sq8even:$d", evenEmb(s, d))

  /** Base-half coarse quantizer — [[pqResidualCoarse]]'s protocol
    * trained on the even corpus; the fixture lands in the SAME
    * [[PqCoarseFixtureDir]] glob the oracles read, keyed by
    * corpus_vecs = the even count (disjoint from every full-corpus
    * count by construction of the testdata scales).
    */
  private def coarseEven(s: SparkSession, d: String)
      : Seq[(Int, Int, Array[Double])] =
    coarseFixture(s, s"pqcoarseeven:$d:$CoarseIters",
      evenEmb(s, d).select("vec_id", "embedding"))

  /** The COMPACTED index table: (nid, ccid, codes) for the whole
    * corpus in one registry parquet — base rows encoded/assigned at
    * build, delta rows through the streaming faces' projection (the
    * same expression; batch ≡ stream is StreamingSpec-pinned), merged
    * by one unionByName. Both halves are a single shuffle-free
    * projection each — assignment (`Pq.encodeCodes` over the m=1
    * coarse codebook, round-6 L2 / cid tie-break) and SQ8 codes
    * (clamped against the frozen base ranges) computed side by side,
    * never joined.
    */
  private[graft] def sqMergedIndex(s: SparkSession, d: String): DataFrame = {
    val path = graft.operators.ArtifactCache.fixture(s, SqMergedFixtureDir,
        s"sqmergedidx:$d", "corpus_vecs", embeddings(s, d).count())(identity) {
      val r = sqEvenRanges(s, d)
      val coarse = coarseEven(s, d)
      val emb = embeddings(s, d).select("vec_id", "embedding")
      def half(df: DataFrame): DataFrame =
        df.select(col("vec_id").as("nid"),
          element_at(graft.operators.Pq.encodeCodes(
            col("embedding"), coarse), 1).as("ccid"),
          graft.operators.Sq.encodeCodes(col("embedding"), r).as("codes"))
      half(emb.where(col("vec_id") % 2 === 0))
        .unionByName(half(emb.where(col("vec_id") % 2 =!= 0)))
    }
    s.read.parquet(path).select("nid", "ccid", "codes")
  }

  /** The compacted-registry serving pipeline, parameterized by the
    * index face it reads (the merged table for q104; merged − deletes
    * for q108): probe pruning → candidate equi-join → SQ8 ADC →
    * per-query top-k. Frozen artifacts (even-base coarse lists + SQ
    * ranges) are shared whatever the face.
    */
  private[graft] def sqServeTopK(s: SparkSession, d: String,
                                 idx: DataFrame): DataFrame = {
    val coarse = coarseEven(s, d)
    val nProbe = graft.operators.Pq.probeCount(coarse.size)
    val r = sqEvenRanges(s, d)
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000)
    val probes = graft.operators.Pq.coarseProbe(
      queries, coarse, "vec_id", "embedding", nProbe)
    val w = Window.partitionBy("qid").orderBy(col("__d"), col("nid"))
    probes.select("qid", "ccid")
      .join(idx, "ccid")
      .filter(col("qid") =!= col("nid"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"))), "qid")
      .withColumn("__d",
        round(graft.operators.Sq.adcDist(col("qvec"), col("codes"), r), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SqK)
      .select(col("qid"), col("rank"), col("nid").as("id"),
        col("__d").as("dist"))
      .orderBy("qid", "rank")
  }

  def q104CompactedIvfSq(s: SparkSession, d: String): DataFrame =
    sqServeTopK(s, d, sqMergedIndex(s, d))

  val q104Sql: String =
    s"""WITH ${ivfSqServeCtes(DerivedProbeSql, "TRUE",
           CompactBaseSql, CompactCentCountSql)},
       |rr AS (
       | SELECT qid, nid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       | FROM dist)
       |SELECT qid, CAST(rank AS INT) AS rank, nid AS id, dist
       |FROM rr WHERE rank <= $SqK ORDER BY qid, rank""".stripMargin

  // -------------------------------------------------------------------
  // q108 tombstoned serving — the DELETE face of the index lifecycle
  // (q104 closes append; real vector stores also drop). Deleted ids
  // live in a TOMBSTONE REGISTRY (a tiny id table — the deterministic
  // rule below stands in for its contents so the oracle can recompute
  // it); serving anti-joins probed candidates against the broadcast
  // tombstone set BEFORE any distance work, so a delete is visible
  // immediately with zero index rebuild; compaction later drops the
  // rows physically on merge and resets the registry
  // ([[compactDropTombstones]] — CompactionSpec proves
  // filter-at-serve ≡ drop-at-compact and that deleted ids never
  // surface). 100 TB shape: the tombstone set is ids-only (broadcast-
  // small by the delete-rate contract), the index table never
  // re-shuffles, and the anti-join is map-side against the candidate
  // stream — the scratch-reset-and-rebuild discipline of the reference
  // (build.sh:67) replaced by an incremental tombstone+compact cycle.
  private val TombstoneSql = "vec_id % 17 = 5"

  /** The tombstone registry: ids dropped since the last compaction. */
  private def tombstones(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).where(expr(TombstoneSql))
      .select(col("vec_id").as("del_id"))

  /** Merged index minus tombstones — the runtime serve face. */
  private def tombstoneFiltered(s: SparkSession, d: String): DataFrame =
    tombstoneFilteredWith(s, d, tombstones(s, d))

  /** The serve-time anti-join over an EXPLICIT registry table
    * (`del_id` rows — e.g. a parquet table accumulated by
    * [[graft.streaming.Streaming.tombstoneStream]]'s sink). q108's own
    * registry is the deterministic stand-in rule above purely so the
    * DuckDB oracle can recompute it; the serve path itself only ever
    * sees registry ROWS (CompactionSpec drives it with a streamed
    * parquet registry holding a different id set).
    */
  def tombstoneFilteredWith(s: SparkSession, d: String,
                            registry: DataFrame): DataFrame =
    sqMergedIndex(s, d).join(broadcast(registry),
      col("nid") === col("del_id"), "left_anti")

  def q108TombstonedServe(s: SparkSession, d: String): DataFrame =
    sqServeTopK(s, d, tombstoneFiltered(s, d))

  /** COMPACTION with physical drop: rewrites the merged registry table
    * without the tombstoned rows (after which the tombstone registry
    * would reset to empty) and serves from the re-read table — the
    * spec proves the result is identical to runtime filtering.
    */
  def compactDropTombstones(s: SparkSession, d: String,
                            outPath: String): DataFrame = {
    tombstoneFiltered(s, d).write.mode("overwrite").parquet(outPath)
    s.read.parquet(outPath)
  }

  val q108Sql: String =
    s"""WITH ${ivfSqServeCtes(DerivedProbeSql, s"NOT ($TombstoneSql)",
           CompactBaseSql, CompactCentCountSql)},
       |rr AS (
       | SELECT qid, nid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       | FROM dist)
       |SELECT qid, CAST(rank AS INT) AS rank, nid AS id, dist
       |FROM rr WHERE rank <= $SqK ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q117 RRF hybrid retrieval — the production hybrid-search serving
  // stage (and its RAG-pipeline face): a sparse BM25 leg and a dense
  // cosine leg, each a per-query top-30 run over the SAME candidate
  // corpus (documents that carry an embedding: doc_id = vec_id), fused
  // by reciprocal rank (Retrieval.rrfFuse, k = 60) into the final
  // top-10. Rank-only fusion sidesteps the incomparable score scales;
  // both legs reuse shipped operators (TextStats.bm25Scores — q75's
  // scorer, per-query term panels; the q26 broadcast-query cosine
  // shape), and every score that feeds a ranking is micro-int exact,
  // so the DuckDB oracle reproduces leg ranks AND fused order
  // cell-exact. Scale shape: corpus text/vectors never shuffle — the
  // BM25 leg moves only matching (id, term, tf) rows, the dense leg is
  // a broadcast-query map-side scan, and fusion sees only top-N run
  // rows.
  private val RrfPanel: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("table", "query", "join", "spark"),
    3L -> Seq("vector", "stream", "window", "merge"))
  private val RrfLegN = 30
  private val RrfKConst = 60
  private val RrfOut = 10

  def q117RrfHybrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = documents(s, d).select("doc_id", "text")
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    // one corpus tokenize for the WHOLE panel: per-term contributions
    // are micro-rounded before any per-query sum (bm25TermScores), so
    // scoring the union lexicon once and summing per query is
    // bit-identical to a bm25Scores call per query — minus the extra
    // corpus scans (the panel join is a broadcast over qid×term rows)
    val lexicon = RrfPanel.flatMap(_._2).distinct
    val panel = RrfPanel
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "term")
    val sparse = graft.operators.TextStats
      .bm25TermScores(corpus.select("doc_id", "text"), "doc_id", "text",
        lexicon)
      .join(broadcast(panel), "term")
      .groupBy("qid", "doc_id")
      .agg(round(sum("s_micro") / 1000000.0, 6).as("score"))
    val ws = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val sparseRun = sparse.withColumn("rank", row_number().over(ws))
      .where(col("rank") <= RrfLegN).select("qid", "doc_id", "rank")

    val qvecs = embeddings(s, d)
      .where(col("vec_id").isin(RrfPanel.map(_._1): _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val dense = corpus.select(col("doc_id"), col("embedding"))
      .join(broadcast(qvecs))
      .select(col("qid"), col("doc_id"),
        round(Similarity.cosine(col("qvec"), col("embedding")), 6).as("cos"))
    val wd = Window.partitionBy("qid").orderBy(col("cos").desc, col("doc_id"))
    val denseRun = dense.withColumn("rank", row_number().over(wd))
      .where(col("rank") <= RrfLegN).select("qid", "doc_id", "rank")

    Retrieval.rrfFuse(Seq(sparseRun, denseRun), "qid", "doc_id",
        RrfKConst, RrfOut)
      .orderBy("qid", "rrf_rank")
  }

  val q117Sql: String = {
    val norm = graft.operators.TextStats.normalizeSql("c.text")
    val panelRows = RrfPanel.map { case (qid, terms) =>
      s"($qid, [${terms.map(t => s"'$t'").mkString(", ")}])"
    }.mkString(", ")
    s"""WITH corpus AS (
       | SELECT d.doc_id, d.text, e.embedding
       | FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
       |panel AS (
       | SELECT CAST(qid AS BIGINT) AS qid, terms
       | FROM (VALUES $panelRows) p(qid, terms)),
       |t AS (SELECT c.doc_id, string_split($norm, ' ') AS toks FROM corpus c),
       |dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |st AS (
       | SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       | FROM dd),
       |h AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*) AS tf FROM h
       | WHERE tok IN (SELECT unnest(terms) FROM panel) GROUP BY 1, 2, 3),
       |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (
       | SELECT p.qid, tf.doc_id,
       |  CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |    * ((tf * (1.2 + 1.0))
       |       / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
       |    * 1000000) AS BIGINT) AS s
       | FROM tf JOIN dfq USING (tok)
       | JOIN panel p ON list_contains(p.terms, tf.tok), st),
       |sparse AS (
       | SELECT qid, doc_id,
       |  round(CAST(sum(s) AS BIGINT) / 1000000.0, 6) AS score
       | FROM sc GROUP BY 1, 2),
       |sr AS (
       | SELECT qid, doc_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
       |   AS rank
       | FROM sparse),
       |qv AS (
       | SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       | WHERE vec_id IN (${RrfPanel.map(_._1).mkString(", ")})),
       |ds AS (
       | SELECT q.qid, c.doc_id,
       |  round(${cosSql("q.qvec", "c.embedding")}, 6) AS cos
       | FROM qv q, corpus c),
       |dr AS (
       | SELECT qid, doc_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id)
       |   AS rank
       | FROM ds),
       |contrib AS (
       | SELECT qid, doc_id,
       |  CAST(round(1000000.0 / ($RrfKConst + rank)) AS BIGINT) AS c
       | FROM (SELECT qid, doc_id, rank FROM sr WHERE rank <= $RrfLegN
       |       UNION ALL
       |       SELECT qid, doc_id, rank FROM dr WHERE rank <= $RrfLegN)),
       |fused AS (
       | SELECT qid, doc_id,
       |  round(CAST(sum(c) AS BIGINT) / 1000000.0, 6) AS rrf_score,
       |  count(*) AS n_runs
       | FROM contrib GROUP BY 1, 2),
       |final AS (
       | SELECT qid,
       |  row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id)
       |   AS rrf_rank,
       |  doc_id, rrf_score, n_runs
       | FROM fused)
       |SELECT qid, CAST(rrf_rank AS INT) AS rrf_rank, doc_id, rrf_score,
       | n_runs
       |FROM final WHERE rrf_rank <= $RrfOut
       |ORDER BY qid, rrf_rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q118 SemDeDup over the REFINED (k ∝ n) clustering — q86's dedup
  // semantics served from the two-level geometry
  // (Similarity.subClusterAssignment over the persisted coarse table):
  // the paper's constant-occupancy scaling, reachable without an
  // untrainable flat k-means. The refined assignment is itself the
  // persisted registry artifact (stamped like the coarse fixture), and
  // — because the cell-local Lloyd is deterministic — the DuckDB
  // oracle re-derives anchors, pair cosines, and drops from the SAME
  // stored table, so the hash check covers the refined pair stage
  // end to end. Output shape matches q86: (vec_id, cid, kept), cid
  // now the refined cid₁·2²⁰+sub id.
  private val SemTargetOcc = 16
  private val SemRefinedDir = s"${graft.operators.ArtifactCache.FixtureRoot}/sem_refined"

  private[graft] def semRefined(s: SparkSession, d: String): DataFrame = {
    val path = graft.operators.ArtifactCache.fixture(s, SemRefinedDir,
        s"semrefined:$d:$SemTargetOcc:$CoarseIters", "corpus_vecs",
        neardupCorpus(s, d).count())(identity) {
      Similarity.subClusterAssignment(semClusters(s, d), "vec_id", "embedding",
          SemTargetOcc)
        .select("vec_id", "cid", "embedding")
    }
    s.read.parquet(path).select("vec_id", "cid", "embedding")
  }

  def q118SemDedupRefined(s: SparkSession, d: String): DataFrame = {
    // clusters ≈ n/targetOcc — only the anchor-broadcast bound reads it
    val clusterEst =
      (neardupCorpus(s, d).count() / SemTargetOcc).toInt.max(1)
    Similarity.semanticDedupAssigned(semRefined(s, d),
        "vec_id", "embedding", SemTau, maxCluster = SemCap,
        clusters = clusterEst)
      .orderBy("vec_id")
  }

  val q118Sql: String =
    s"""WITH corpus AS ($neardupCorpusSql),
       |assigned AS (
       | SELECT vec_id, cid
       | FROM read_parquet('$SemRefinedDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM corpus)),
       |anch AS (
       | SELECT cid, vec_id FROM (
       |  SELECT cid, vec_id,
       |   row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS r
       |  FROM assigned) t WHERE r <= $SemCap),
       |dropped AS (
       | SELECT DISTINCT y.vec_id AS b
       | FROM anch x
       | JOIN assigned y USING (cid)
       | JOIN corpus cx ON cx.vec_id = x.vec_id
       | JOIN corpus cy ON cy.vec_id = y.vec_id
       | WHERE x.vec_id < y.vec_id
       |   AND round(${cosSql("cx.embedding", "cy.embedding")}, 6) >= $SemTau)
       |SELECT a.vec_id, a.cid, (dr.b IS NULL) AS kept
       |FROM assigned a LEFT JOIN dropped dr ON dr.b = a.vec_id
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q119 incremental semantic dedup — the semantic face of the q98
  // incremental contract: a small batch of NEW vectors verdicted
  // against the persisted clustering registry (the q86 table) through
  // the FROZEN coarse quantizer (no relearn), each batch vector
  // compared only against its assigned cell's stored anchors. Batch
  // classes: every 5th-mod-1 registry-source vector re-appears at
  // id+20000 with a ±0.005 nudge (cos ≥ ~0.999 to its source — drops
  // when the source's cell anchors see it), and every 5th-mod-2 at
  // id+30000 REVERSED (an unrelated direction — survives). The oracle
  // re-derives assignment from the centroid fixture and anchors from
  // the stored clustering table, so the frozen-quantizer serving path
  // is hash-checked end to end.
  private val SemBatchNudge = 0.005

  private[graft] def semBatch(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val near = emb.filter(col("vec_id") % 5 === 1)
      .select((col("vec_id") + 20000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double")
            + when(i % 2 === 0, SemBatchNudge).otherwise(-SemBatchNudge))
            .cast("float")).as("embedding"))
    val novel = emb.filter(col("vec_id") % 5 === 2)
      .select((col("vec_id") + 30000).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    near.unionByName(novel)
  }

  def q119IncrementalSemDedup(s: SparkSession, d: String): DataFrame =
    Similarity.incrementalSemanticDedup(semBatch(s, d), semClusters(s, d),
        pqResidualCoarse(s, d).map { case (_, cid, v) => (cid, v) },
        "vec_id", "embedding", SemTau, maxCluster = SemCap)
      .orderBy("vec_id")

  val q119Sql: String =
    s"""WITH corpus AS ($neardupCorpusSql),
       |batch AS (
       | SELECT vec_id + 20000 AS vec_id,
       |  list_transform(range(0, 64),
       |    i -> CAST(CAST(embedding[i + 1] AS DOUBLE)
       |         + (CASE WHEN i % 2 = 0 THEN $SemBatchNudge
       |            ELSE -$SemBatchNudge END) AS FLOAT)) AS embedding
       | FROM embeddings WHERE vec_id % 5 = 1
       | UNION ALL
       | SELECT vec_id + 30000 AS vec_id,
       |  list_transform(range(0, 64), i -> embedding[64 - i]) AS embedding
       | FROM embeddings WHERE vec_id % 5 = 2),
       |cent AS (
       | SELECT cid, cvec
       | FROM read_parquet('$PqCoarseFixtureDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM embeddings)),
       |reg AS (
       | SELECT vec_id, cid, embedding
       | FROM read_parquet('$SemClustersDir/*/*.parquet')
       | WHERE corpus_vecs = (SELECT count(*) FROM corpus)),
       |assignedb AS (
       | SELECT vec_id, cid, embedding FROM (
       |  SELECT b.vec_id, c.cid, b.embedding,
       |   row_number() OVER (PARTITION BY b.vec_id
       |     ORDER BY ${l2Sql("b.embedding", "c.cvec")}, c.cid) AS r
       |  FROM batch b CROSS JOIN cent c) t WHERE r = 1),
       |anch AS (
       | SELECT cid, vec_id, embedding FROM (
       |  SELECT cid, vec_id, embedding,
       |   row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS r
       |  FROM reg) t WHERE r <= $SemCap),
       |best AS (
       | SELECT vec_id, anchor_id, cos FROM (
       |  SELECT a.vec_id, an.vec_id AS anchor_id,
       |   round(${cosSql("an.embedding", "a.embedding")}, 6) AS cos,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY round(${cosSql("an.embedding", "a.embedding")}, 6)
       |       DESC, an.vec_id) AS r
       |  FROM assignedb a JOIN anch an USING (cid)) t WHERE r = 1)
       |SELECT a.vec_id, a.cid,
       | CASE WHEN b.cos >= $SemTau THEN b.anchor_id END AS dup_of,
       | b.cos AS best_cos,
       | (b.cos IS NULL OR b.cos < $SemTau) AS kept
       |FROM assignedb a LEFT JOIN best b ON b.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q151: embedding-space drift between index generations — the
  // EMBEDDING modality's face of the drift family (q111 numeric
  // columns, q148 token distributions, q150 the drill-down): per
  // label, the linear-kernel MMD (= L2 distance between the two
  // snapshots' mean vectors — the standard two-sample statistic for
  // representation shift) via [[Similarity.embeddingShift]]. The new
  // snapshot is the q135/q148 deterministic derivation applied to the
  // vector table (drops, duplicate-id additions — no float arithmetic
  // in the derivation, so the perturbation is engine-exact by
  // construction). Each snapshot reduces in one scan to a labels×64
  // integer-micro summary; `mmd2_pico` is exact integer arithmetic end
  // to end, hash-checkable like js_pico.
  def q151EmbeddingShift(s: SparkSession, d: String): DataFrame = {
    val vecs = embeddings(s, d).select("vec_id", "label", "embedding")
    // the drift family's shared derivation (QueriesCorpus.derivedIds)
    // applied to the vector table: drop %29, duplicate %11 (+600000);
    // no payload edit — the embedding perturbation is id-structural
    val newSnap = QueriesCorpus.derivedIds(vecs, "vec_id", 29, 11, 600000L)
    Similarity.embeddingShift(vecs, newSnap, "label", "embedding")
      .orderBy("label")
  }

  val q151Sql: String =
    s"""WITH ns AS (${QueriesCorpus.derivedIdsSql("embeddings", "vec_id",
         Seq("label", "embedding"), 29, 11, 600000L)}),
      |so AS (SELECT label, r AS dim,
      |   CAST(sum(CAST(round(CAST(embedding[r + 1] AS DOUBLE) * 1e6)
      |     AS BIGINT)) AS BIGINT) AS so, count(*) AS no
      | FROM embeddings CROSS JOIN range(64) AS t(r)
      | GROUP BY 1, 2),
      |sn AS (SELECT label, r AS dim,
      |   CAST(sum(CAST(round(CAST(embedding[r + 1] AS DOUBLE) * 1e6)
      |     AS BIGINT)) AS BIGINT) AS sn, count(*) AS nn
      | FROM ns CROSS JOIN range(64) AS t(r)
      | GROUP BY 1, 2),
      |j AS (SELECT coalesce(so.label, sn.label) AS label,
      |   CASE WHEN no IS NOT NULL AND nn IS NOT NULL THEN
      |    CAST(round((((CAST(so AS DOUBLE) / no - CAST(sn AS DOUBLE) / nn)
      |      / 1e6) * ((CAST(so AS DOUBLE) / no - CAST(sn AS DOUBLE) / nn)
      |      / 1e6)) * 1e12) AS BIGINT)
      |   END AS pico,
      |   coalesce(no, 0) AS no, coalesce(nn, 0) AS nn
      | FROM so FULL OUTER JOIN sn
      |   ON so.label = sn.label AND so.dim = sn.dim)
      |SELECT label, no AS n_old, nn AS n_new,
      | CAST(sum(pico) AS BIGINT) AS mmd2_pico,
      | round(sqrt(CAST(sum(pico) AS BIGINT) / 1e12), 6) AS l2_shift
      |FROM j GROUP BY 1, 2, 3 ORDER BY label""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_embedding_shift" -> (q151EmbeddingShift _),
    "q117_rrf_hybrid" -> (q117RrfHybrid _),
    "q118_semdedup_refined" -> (q118SemDedupRefined _),
    "q119_incremental_semdedup" -> (q119IncrementalSemDedup _),
    "q88_sq8_encode" -> (q88Sq8Encode _),
    "q89_sq8_adc" -> (q89Sq8Adc _),
    "q90_ivfsq_topk" -> (q90IvfSqTopk _),
    "q91_ivfsq_recall" -> (q91IvfSqRecall _),
    "q92_ivfsq_refine" -> (q92IvfSqRefine _),
    "q93_ivfsq_refine_recall" -> (q93IvfSqRefineRecall _),
    "q96_filtered_ann" -> (q96FilteredAnn _),
    "q97_filtered_recall" -> (q97FilteredRecall _),
    "q99_mmr_rerank" -> (q99MmrRerank _),
    "q86_semantic_dedup" -> (q86SemanticDedup _),
    "q95_semdedup_tau_sweep" -> (q95SemDedupTauSweep _),
    "q104_index_compaction" -> (q104CompactedIvfSq _),
    "q108_tombstoned_serve" -> (q108TombstonedServe _),
    "q84_ivfpq_refine" -> (q84IvfPqRefine _),
    "q79_adc_refine" -> (q79AdcRefine _),
    "q81_refine_recall" -> (q81RefineRecall _),
    "q82_ivfpq_residual" -> (q82IvfPqResidual _),
    "q106_hard_negatives" -> (q106HardNegatives _),
    "q83_residual_recall" -> (q83ResidualRecall _),
    "q73_pq_encode" -> (q73PqEncode _),
    "q74_adc_topk" -> (q74AdcTopk _),
    "q76_ann_recall" -> (q76AnnRecall _),
    "q77_ivfpq_topk" -> (q77IvfPqTopk _),
    "q26_cosine_topk" -> (q26CosineTopk _),
    "q27_lsh_ann" -> (q27LshAnn _),
    "q28_embed_neardup" -> (q28EmbedNeardup _),
    "q36_ivf_ann" -> (q36IvfAnn _),
    "q50_neardup_components" -> (q50NeardupComponents _),
  )

  val oracle: Map[String, String] = Map(
    "q151_embedding_shift" -> q151Sql,
    "q117_rrf_hybrid" -> q117Sql,
    "q118_semdedup_refined" -> q118Sql,
    "q119_incremental_semdedup" -> q119Sql,
    "q88_sq8_encode" -> q88Sql,
    "q89_sq8_adc" -> q89Sql,
    "q90_ivfsq_topk" -> q90Sql,
    "q91_ivfsq_recall" -> q91Sql,
    "q92_ivfsq_refine" -> q92Sql,
    "q93_ivfsq_refine_recall" -> q93Sql,
    "q96_filtered_ann" -> q96Sql,
    "q97_filtered_recall" -> q97Sql,
    "q99_mmr_rerank" -> q99Sql,
    "q86_semantic_dedup" -> q86Sql,
    "q95_semdedup_tau_sweep" -> q95Sql,
    "q104_index_compaction" -> q104Sql,
    "q108_tombstoned_serve" -> q108Sql,
    "q84_ivfpq_refine" -> q84Sql,
    "q79_adc_refine" -> q79Sql,
    "q81_refine_recall" -> q81Sql,
    "q82_ivfpq_residual" -> q82Sql,
    "q106_hard_negatives" -> q106Sql,
    "q83_residual_recall" -> q83Sql,
    "q73_pq_encode" -> q73Sql,
    "q74_adc_topk" -> q74Sql,
    "q76_ann_recall" -> q76Sql,
    "q77_ivfpq_topk" -> q77Sql,
    "q26_cosine_topk" -> q26Sql,
    "q27_lsh_ann" -> q27Sql,
    "q28_embed_neardup" -> q28Sql,
    "q36_ivf_ann" -> q36Sql,
    "q50_neardup_components" -> q50Sql,
  )
}
