package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Scrub, TextStats}

/** Corpus-hygiene query batch (training-data pipeline tier, rounds
  * 4–5): test-set decontamination (single- and multi-width),
  * within-document repetition, source-balanced resampling and its
  * temperature generalization, cross-corpus boilerplate-segment dedup,
  * PII scrubbing, domain-blocklist filtering, C4-style line rules, URL
  * canonicalization, and unigram log-prob quality — the cleanup passes
  * a web-scale corpus runs between raw crawl and training, each
  * oracle-checked cell-exact against DuckDB.
  *
  * Fixtures follow the QueriesDedup pattern: the driver corpus is 100%
  * distinct word-salad, so each query deterministically injects its own
  * known positives (contaminated implants, doubled documents, shared
  * footers, synthetic PII, messy URLs) in both engines.
  */
object QueriesCorpus {
  import Tables._

  private val normSql = TextStats.normalizeSql("text")
  private val hash60Sql =
    (c: String) => s"CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** DuckDB twin of [[Dedup.wordShingles]] for width `k` over a text
    * expression `t` (distinct word k-grams; short docs clamp to one
    * truncated gram — same as the Spark native expression).
    */
  private def shinglesSql(t: String, k: Int): String = {
    val norm = TextStats.normalizeSql(t)
    s"""list_distinct(list_transform(
       |  range(1, greatest(len(string_split($norm, ' ')) - ${k - 1}, 1) + 1),
       |  i -> array_to_string((string_split($norm, ' '))[i:i+${k - 1}], ' ')))""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q55 decontamination: drop-list of train docs sharing a word 5-gram
  // with the benchmark set. Eval = doc_id % 97 == 0; train = the rest
  // plus IMPLANTS — for every eval doc, a train doc whose text embeds a
  // 10-token verbatim span of it (the contamination the filter exists to
  // catch).
  private val DecontamK = 5

  private def evalDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") % 97 === 0)

  private def trainDocs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val span = concat_ws(" ", slice(TextStats.tokens(col("text")), 2, 10))
    docs.filter(col("doc_id") % 97 =!= 0).unionByName(
      documents(s, d).filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("zqx yvw kpj "), span).as("text")))
  }

  private val trainSql =
    s"""SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       |UNION ALL
       |SELECT doc_id + 300000 AS doc_id,
       |  'zqx yvw kpj ' ||
       |    array_to_string((string_split($normSql, ' '))[2:11], ' ') AS text
       |FROM documents WHERE doc_id % 97 = 0""".stripMargin

  def q55Decontaminate(s: SparkSession, d: String): DataFrame =
    Dedup.contaminatedIds(trainDocs(s, d), evalDocs(s, d),
        "text", "doc_id", DecontamK)
      .orderBy("doc_id")

  // q103: the SAME decontamination semantics through the Bloom-prefilter
  // deployment path (eval set too large to broadcast raw at 100 TB) —
  // compact bit-array prefilter, exact confirm join. Output-identical to
  // q55 by construction (no false negatives), so it shares q55's oracle.
  def q103DecontaminateBloom(s: SparkSession, d: String): DataFrame =
    Dedup.contaminatedIdsBloom(trainDocs(s, d), evalDocs(s, d),
        "text", "doc_id", DecontamK)
      .orderBy("doc_id")

  // ---------------------------------------------------------------------
  // q134: Bloom false-positive calibration — the q131 discipline
  // applied to the decontamination prefilter: measure the ACTUAL
  // shingle- and doc-level FP rates of the q103 Bloom against exact
  // membership, in two arms. 'production' sizes the filter exactly as
  // the deployment path does (~16 bits/key from the eval cardinality);
  // 'undersized' pins 2^11 bits — the saturated regime the audit
  // exists to catch (a filter that stops fitting its key set fails
  // SILENTLY toward more exact-confirm work, never toward missed
  // contamination). No false negatives is the operator contract
  // (spec-pinned); this measures the price paid on the other side.
  //
  // The oracle needs NO bit array: "all k probe positions set" ≡ "all
  // k positions ∈ the eval probe-position SET", so DuckDB rebuilds
  // membership with the same integer double-hash arithmetic and a
  // position join — auditing the bit packing itself is BloomAnySpec's
  // job. The production m is picked from an explicit power-of-two
  // lookup (min p ≥ 16·n clamped to [2^14, 2^27]) in BOTH engines —
  // integer-exact, no float log2 at power boundaries.
  def q134BloomFpAudit(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BloomAnyExpr.bloomAny
    val probes = 7
    // each frame below feeds several passes: checked out
    // (Pipeline.withCheckouts)
    val evalSh = evalDocs(s, d)
      .select(explode(Dedup.hashedWordShingles("text", DecontamK)).as("h"))
      .distinct().localCheckpoint(eager = true)
    val tr = trainDocs(s, d)
      .select(col("doc_id"),
        Dedup.hashedWordShingles("text", DecontamK).as("shs"))
      .localCheckpoint(eager = true)
    val trSh = tr.select(explode(col("shs")).as("h")).distinct()
      .localCheckpoint(eager = true)
    // eval shingles and the confirmed-doc list are drop-list-sized by
    // the q55 contract — broadcast them; the train side never shuffles
    val docTrue = tr.select(col("doc_id"), explode(col("shs")).as("h"))
      .join(broadcast(evalSh), "h").select("doc_id").distinct()
      .withColumn("c", lit(1L))
    // r19 arm fusion: the two arms differ ONLY in filter size, so both
    // filters build in one pass over the eval shingles
    // (Dedup.bloomBitsMulti), both probe columns ride ONE pass over the
    // train shingles and ONE pass over the train docs, and the sizing
    // count doubles as n_eval_sh (it is the same count(distinct h) the
    // old evCount aggregate re-ran). Before: every one of those passes
    // ran twice — measured 36 scheduler jobs for this query at sf0.1,
    // the suite's worst. Output rows are identical.
    val nEval = evalSh.count()
    val mProd = Dedup.bloomSizedBits(nEval)
    val mUnder = 1 << 11
    val Seq(bitsProd, bitsUnder) =
      Dedup.bloomBitsMulti(evalSh, "h", probes, Seq(mProd, mUnder))
    val sh = trSh
      .join(broadcast(evalSh.withColumn("t", lit(1L))), Seq("h"), "left")
      .select(
        bloomAny(array(col("h")), bitsProd, mProd, probes)
          .cast("long").as("pp"),
        bloomAny(array(col("h")), bitsUnder, mUnder, probes)
          .cast("long").as("pu"),
        coalesce(col("t"), lit(0L)).as("tt"))
      .agg(count(lit(1)).as("n_train_sh"),
        sum("pp").as("n_sh_pos_p"), sum("pu").as("n_sh_pos_u"),
        sum("tt").as("n_sh_true"))
    val doc = tr.join(broadcast(docTrue), Seq("doc_id"), "left")
      .select(
        bloomAny(col("shs"), bitsProd, mProd, probes)
          .cast("long").as("sp"),
        bloomAny(col("shs"), bitsUnder, mUnder, probes)
          .cast("long").as("su"),
        coalesce(col("c"), lit(0L)).as("conf"))
      .agg(count(lit(1)).as("n_docs"),
        sum("sp").as("n_suspect_p"), sum("su").as("n_suspect_u"),
        sum("conf").as("n_confirmed"))
    // the 1-row fused stats explode into the two labelled arm rows —
    // one evaluation, no per-arm re-aggregation
    def armRow(label: String, mBits: Int, pos: String, sus: String) =
      struct(lit(label).as("sizing"), lit(mBits.toLong).as("m_bits"),
        col(pos).as("n_sh_pos"), col(sus).as("n_suspect"))
    sh.crossJoin(doc)
      .select(col("n_train_sh"), col("n_sh_true"), col("n_docs"),
        col("n_confirmed"),
        explode(array(
          armRow("production", mProd, "n_sh_pos_p", "n_suspect_p"),
          armRow("undersized", mUnder, "n_sh_pos_u", "n_suspect_u")))
          .as("r"))
      .select(col("r.sizing").as("sizing"), col("r.m_bits").as("m_bits"),
        lit(nEval).as("n_eval_sh"), col("n_train_sh"),
        col("r.n_sh_pos").as("n_sh_pos"), col("n_sh_true"),
        round((col("r.n_sh_pos") - col("n_sh_true")) /
          (col("n_train_sh") - col("n_sh_true")), 6).as("sh_fp_rate"),
        col("n_docs"), col("r.n_suspect").as("n_suspect"),
        col("n_confirmed"),
        round((col("r.n_suspect") - col("n_confirmed")) /
          (col("n_docs") - col("n_confirmed")), 6).as("doc_fp_rate"))
      .orderBy("sizing")
  }

  val q134Sql: String = {
    val shHash = s"""list_transform(${shinglesSql("text", DecontamK)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))""".stripMargin
    val pow2 = (14 to 27).map(i => s"(${1L << i}, $i)").mkString(", ")
    def probe(h: String) =
      s"(($h & (a.m - 1)) + i.i * ((($h >> a.lg) & (a.m - 1)) | 1)) & (a.m - 1)"
    s"""WITH train AS ($trainSql),
       |evsh AS (SELECT DISTINCT h FROM (
       |  SELECT unnest($shHash) AS h
       |  FROM documents WHERE doc_id % 97 = 0)),
       |nv AS (SELECT count(*) AS n FROM evsh),
       |p2(p, lg) AS (VALUES $pow2),
       |prod AS (SELECT coalesce(min(p), ${1L << 27}) AS m
       |  FROM p2 WHERE p >= greatest(16 * (SELECT n FROM nv), 1)),
       |arms AS (
       |  SELECT 'production' AS sizing, prod.m, p2.lg FROM prod
       |    JOIN p2 ON p2.p = prod.m
       |  UNION ALL SELECT 'undersized', 2048, 11),
       |evpos AS (SELECT DISTINCT a.sizing, ${probe("evsh.h")} AS p
       |  FROM evsh, arms a, UNNEST(range(0, 7)) AS i(i)),
       |trsh AS (SELECT DISTINCT doc_id, h FROM (
       |  SELECT doc_id, unnest($shHash) AS h FROM train)),
       |tsh AS (SELECT DISTINCT h FROM trsh),
       |shpos AS (SELECT sizing, h FROM (
       |  SELECT a.sizing, t.h, count(*) AS hits
       |  FROM tsh t, arms a, UNNEST(range(0, 7)) AS i(i)
       |  JOIN evpos e ON e.sizing = a.sizing AND e.p = ${probe("t.h")}
       |  GROUP BY 1, 2) WHERE hits = 7),
       |shtrue AS (SELECT h FROM tsh WHERE h IN (SELECT h FROM evsh)),
       |docsus AS (SELECT DISTINCT s.sizing, tr.doc_id
       |  FROM trsh tr JOIN shpos s ON s.h = tr.h),
       |doctrue AS (SELECT DISTINCT doc_id FROM trsh
       |  WHERE h IN (SELECT h FROM evsh)),
       |-- n_docs comes from the TRAIN table, not from unnested shingle
       |-- rows: a hypothetical zero-shingle doc (empty text) would have
       |-- no trsh row but IS counted by the Spark side's per-doc frame
       |agg AS (SELECT a.sizing, a.m,
       |  (SELECT n FROM nv) AS n_eval_sh,
       |  (SELECT count(*) FROM tsh) AS n_train_sh,
       |  (SELECT count(*) FROM shpos p WHERE p.sizing = a.sizing) AS n_sh_pos,
       |  (SELECT count(*) FROM shtrue) AS n_sh_true,
       |  (SELECT count(*) FROM train) AS n_docs,
       |  (SELECT count(*) FROM docsus dd WHERE dd.sizing = a.sizing) AS n_suspect,
       |  (SELECT count(*) FROM doctrue) AS n_confirmed
       | FROM arms a)
       |SELECT sizing, CAST(m AS BIGINT) AS m_bits,
       | CAST(n_eval_sh AS BIGINT) AS n_eval_sh,
       | CAST(n_train_sh AS BIGINT) AS n_train_sh,
       | CAST(n_sh_pos AS BIGINT) AS n_sh_pos,
       | CAST(n_sh_true AS BIGINT) AS n_sh_true,
       | round(CAST(n_sh_pos - n_sh_true AS DOUBLE)
       |   / (n_train_sh - n_sh_true), 6) AS sh_fp_rate,
       | CAST(n_docs AS BIGINT) AS n_docs,
       | CAST(n_suspect AS BIGINT) AS n_suspect,
       | CAST(n_confirmed AS BIGINT) AS n_confirmed,
       | round(CAST(n_suspect - n_confirmed AS DOUBLE)
       |   / (n_docs - n_confirmed), 6) AS doc_fp_rate
       |FROM agg ORDER BY sizing""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q135: snapshot diff — the corpus-versioning readout a pipeline runs
  // between ingest generations: old vs new keyed by doc_id, rows
  // classed added / removed / changed / unchanged by comparing content
  // digests, rolled up per class with id extents. The new snapshot is
  // derived deterministically (drops, additions, edits) so both
  // engines diff identical inputs. Scale shape: each snapshot is
  // scanned ONCE, digests computed map-side (only id + 32-char digest
  // shuffle — never text, the q22/q58 discipline), one full-outer
  // equi-join on the key; with both snapshots written bucketed on the
  // key (S10) the join is zero-exchange SMJ.
  def q135SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val newSnap = docs.filter(col("doc_id") % 31 =!= 0)
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      .withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val o = docs.select(col("doc_id"), md5(col("text")).as("ho"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("hn"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("ho").isNull, "added")
          .when(col("hn").isNull, "removed")
          .when(col("ho") =!= col("hn"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("status")
  }

  val q135Sql: String =
    """WITH old AS (SELECT doc_id, md5(text) AS ho FROM documents),
      |ns AS (SELECT doc_id,
      |   CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
      | FROM (SELECT doc_id, text FROM documents WHERE doc_id % 31 <> 0
      |       UNION ALL
      |       SELECT doc_id + 600000, text FROM documents
      |       WHERE doc_id % 13 = 0)),
      |nw AS (SELECT doc_id, md5(text) AS hn FROM ns),
      |j AS (SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
      |  CASE WHEN old.doc_id IS NULL THEN 'added'
      |       WHEN nw.doc_id IS NULL THEN 'removed'
      |       WHEN ho <> hn THEN 'changed'
      |       ELSE 'unchanged' END AS status
      | FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
      |SELECT status, count(*) AS n_docs,
      | min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM j GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------------
  // q136: RAG chunking — documents split into overlapping token
  // windows (W=40, stride S=30): the retrieval-corpus preparation step
  // between cleaning and embedding. Chunk starts run 0, S, 2S, …; the
  // LAST start is the smallest multiple of S reaching the tail
  // (⌈(n−W)/S⌉·S, integer arithmetic), so every token lands in ≥ 1
  // chunk and no start begins past the text; docs at or under W yield
  // exactly one whole-doc chunk. One corpus scan, the expansion is a
  // map-side explode over a computed start sequence (amplification
  // bounded by ~n/S per doc), chunk text digested immediately — the
  // emitted frame carries (ids, token count, 32-char digest), never
  // chunk text. The only shuffle is the presentation sort.
  private val ChunkW = 40
  private val ChunkS = 30

  def q136RagChunks(s: SparkSession, d: String): DataFrame = {
    // integer ceil-division for the start count — `DIV`, not `/`
    // (Spark's `/` on integrals is double division)
    val nStarts = expr(
      s"""1L + CASE WHEN size(toks) > $ChunkW
         |  THEN (CAST(size(toks) - $ChunkW + ${ChunkS - 1} AS BIGINT))
         |    DIV $ChunkS
         |  ELSE 0L END""".stripMargin)
    documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .withColumn("ci", explode(sequence(lit(0L), nStarts - 1)))
      .select(col("doc_id"), col("ci").as("chunk_idx"),
        slice(col("toks"), (col("ci") * ChunkS + 1).cast("int"),
          lit(ChunkW)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tok"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------------
  // The drift family's shared NEW-snapshot derivation — ONE definition
  // for the engine faces and one for their SQL twins, so q148/q149/q150
  // (and q151's vector-table variant in QueriesSim) are provably
  // diffing the same synthetic generation: drop ids ≡ 0 (mod dropMod),
  // re-add ids ≡ 0 (mod dupMod) shifted by idShift — all in ONE corpus
  // scan (each row emits its surviving and/or duplicated id through one
  // explode, vs the two-arm union's two scans).

  /** Engine face: `df` minus dropped ids plus shifted duplicates; the
    * id column comes out LAST (callers that also edit a payload column
    * chain a `withColumn` keyed on the derived id).
    */
  private[graft] def derivedIds(df: DataFrame, idCol: String, dropMod: Int,
                                dupMod: Int, idShift: Long): DataFrame = {
    val others = df.columns.filterNot(_ == idCol).map(col).toSeq
    df.select(others :+ explode(filter(array(
        when(col(idCol) % dropMod =!= 0, col(idCol)),
        when(col(idCol) % dupMod === 0, col(idCol) + idShift)),
      x => x.isNotNull)).as(idCol): _*)
  }

  /** SQL twin of [[derivedIds]] (DuckDB spells the same derivation as
    * the two-arm union — row identity, not plan shape, is the shared
    * contract).
    */
  private[graft] def derivedIdsSql(table: String, idCol: String,
                                   otherCols: Seq[String], dropMod: Int,
                                   dupMod: Int, idShift: Long): String = {
    val rest = otherCols.mkString(", ")
    s"""SELECT $idCol, $rest FROM $table WHERE $idCol % $dropMod <> 0
       |       UNION ALL
       |       SELECT $idCol + $idShift, $rest FROM $table
       |       WHERE $idCol % $dupMod = 0""".stripMargin
  }

  /** The documents-table instance (q148/q149/q150): moduli 31 (drop),
    * 13 (duplicate, +600000), 17 (edit — append " v2" to the surviving
    * doc's text).
    */
  private[graft] def derivedDocs(docs: DataFrame): DataFrame =
    derivedIds(docs, "doc_id", 31, 13, 600000L)
      .withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))

  private[graft] val derivedDocsSql: String =
    s"""SELECT doc_id, source,
       |   CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
       | FROM (${derivedIdsSql("documents", "doc_id",
            Seq("source", "text"), 31, 13, 600000L)})""".stripMargin

  // ---------------------------------------------------------------------
  // One tokenize pass per snapshot for the WHOLE drift family: the
  // (source, tok, cnt) unigram count frame is a deterministic,
  // summary-sized (vocab×sources rows) function of (corpus dir,
  // snapshot tag) — the ArtifactCache registry contract. q147's sketch,
  // q148's rollup, q149's CM cells and q150's movers all serve from ONE
  // materialized tokenization of each snapshot instead of five corpus
  // re-scans; the r16 100× inset found the per-token tokenize/explode
  // machinery (not the divergence math) owns the family's wall, and the
  // count frame also collapses the sketch's md5 cost from one digest
  // per TOKEN to one per distinct (source, tok) pair. Learn cost lands
  // in the bench's warm-up learning line, the deployment analogue of a
  // persisted ingest-time artifact next to each snapshot.
  private[graft] def tokenCountArtifact(s: SparkSession, d: String,
                                        snapshot: String): DataFrame = {
    def learn(): DataFrame = {
      val docs = documents(s, d).select("doc_id", "source", "text")
      val snap = if (snapshot == "new") derivedDocs(docs)
        else docs.select("source", "text")
      TextStats.tokenCounts(snap, "source", "text")
        .localCheckpoint(eager = true)
    }
    val key = s"drift-tokcounts:$d:$snapshot"
    val cached = graft.operators.ArtifactCache.getOrLearn(key)(learn())
    // a checkpointed frame is bound to the session that built it: if a
    // NEW session asks under the same key (possible across session
    // restarts in one JVM — identityHashCode keys can even recur after
    // GC), re-learn rather than serve a frame whose RDD blocks died
    // with the old session
    if (cached.sparkSession eq s) cached
    else {
      graft.operators.ArtifactCache.invalidate(key)
      graft.operators.ArtifactCache.getOrLearn(key)(learn())
    }
  }

  // ---------------------------------------------------------------------
  // q148: token-distribution shift between corpus snapshots — the
  // VOCABULARY face of drift monitoring next to q111's numeric-profile
  // face: per source, the Jensen–Shannon divergence between the old and
  // new snapshots' unigram distributions (JS over KL because it is
  // symmetric, bounded by ln 2, and defined when either side has
  // tokens the other lacks — exactly the added/removed-vocabulary case
  // a real ingest generation produces). The new snapshot is q135's
  // deterministic derivation (drops, additions, edits), so both engines
  // diff identical inputs. Float discipline is the q75/BM25 pattern:
  // each token's JS contribution is rounded to integer PICOS before the
  // per-source sum — integer summation is exact and order-independent,
  // so `js_pico` itself is cross-engine hash-stable, not just a rounded
  // projection of it. Scale shape: each snapshot's counts are one
  // map-side-combined groupBy bounded by vocab×sources (the inherent
  // exact-distribution price — the q147 CM sketch is the fixed-memory
  // stand-in when even the vocabulary is too large to shuffle); the
  // (source, tok) full-outer join joins two already-aggregated frames
  // on their own grouping key; per-source totals broadcast; text never
  // shuffles.
  def q148TokenJsShift(s: SparkSession, d: String): DataFrame =
    TextStats.tokenJsShiftFromCounts(
        tokenCountArtifact(s, d, "old"), tokenCountArtifact(s, d, "new"),
        "source")
      .orderBy("source")

  // One-sided-safe totals (the r16 ADVICE latent divergence): a source
  // present in only ONE snapshot must survive the oracle exactly as the
  // engine surfaces it at the ½·ln 2 boundary — the per-source totals
  // ride a FULL OUTER join coalesced to 0, and every division hides
  // behind a count-positive CASE (the q149 pattern; for two-sided
  // sources the double-op sequence is unchanged, so hashes are stable).
  val q148Sql: String =
    s"""WITH ns AS ($derivedDocsSql),
      |ta AS (SELECT source, tok, count(*) AS co FROM (
      |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |tb AS (SELECT source, tok, count(*) AS cn FROM (
      |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM ns)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |na AS (SELECT source, CAST(sum(co) AS BIGINT) AS n_tok_old,
      |       count(*) AS n_vocab_old FROM ta GROUP BY 1),
      |nb AS (SELECT source, CAST(sum(cn) AS BIGINT) AS n_tok_new,
      |       count(*) AS n_vocab_new FROM tb GROUP BY 1),
      |nt AS (SELECT coalesce(na.source, nb.source) AS source,
      |       CAST(coalesce(n_tok_old, 0) AS BIGINT) AS n_tok_old,
      |       CAST(coalesce(n_tok_new, 0) AS BIGINT) AS n_tok_new,
      |       CAST(coalesce(n_vocab_old, 0) AS BIGINT) AS n_vocab_old,
      |       CAST(coalesce(n_vocab_new, 0) AS BIGINT) AS n_vocab_new
      |      FROM na FULL OUTER JOIN nb ON na.source = nb.source),
      |j AS (SELECT coalesce(ta.source, tb.source) AS source, co, cn
      |      FROM ta FULL OUTER JOIN tb
      |        ON ta.source = tb.source AND ta.tok = tb.tok),
      |pq AS (SELECT j.source, co, cn,
      |   (CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old
      |    ELSE 0.0 END) AS p,
      |   (CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new
      |    ELSE 0.0 END) AS q
      | FROM j JOIN nt ON j.source = nt.source),
      |c AS (SELECT source,
      |   CAST(round((
      |     CASE WHEN co > 0 THEN
      |       0.5 * p * ln(p * 2.0 / (p + q))
      |     ELSE 0.0 END +
      |     CASE WHEN cn > 0 THEN
      |       0.5 * q * ln(q * 2.0 / (p + q))
      |     ELSE 0.0 END) * 1e12) AS BIGINT) AS pico
      | FROM pq)
      |SELECT c.source, n_tok_old, n_tok_new, n_vocab_old, n_vocab_new,
      | CAST(sum(pico) AS BIGINT) AS js_pico,
      | round(CAST(sum(pico) AS BIGINT) / 1e12, 6) AS js_div
      |FROM c JOIN nt ON c.source = nt.source
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY c.source""".stripMargin

  // ---------------------------------------------------------------------
  // q150: the drift DRILL-DOWN — q148 answers HOW MUCH each source's
  // token distribution moved; this answers WHAT moved: the top-3
  // tokens per source by JS contribution (the rows of q148's own sum,
  // so a mover's pico is exactly the mass it adds to js_pico), with
  // old/new counts. Same summary-sized plan as q148 with the rollup
  // swapped for a rank window the optimizer GROUP-LIMITS (map tasks
  // forward ≤ k rows per source).
  private val MoversK = 3

  def q150JsMovers(s: SparkSession, d: String): DataFrame =
    TextStats.tokenJsMoversFromCounts(
        tokenCountArtifact(s, d, "old"), tokenCountArtifact(s, d, "new"),
        "source", MoversK)
      .orderBy("source", "rank")

  val q150Sql: String =
    s"""WITH ns AS ($derivedDocsSql),
       |ta AS (SELECT source, tok, count(*) AS co FROM (
       |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> '' GROUP BY 1, 2),
       |tb AS (SELECT source, tok, count(*) AS cn FROM (
       |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM ns)
       |  WHERE tok <> '' GROUP BY 1, 2),
       |na AS (SELECT source, CAST(sum(co) AS BIGINT) AS n_tok_old
       |       FROM ta GROUP BY 1),
       |nb AS (SELECT source, CAST(sum(cn) AS BIGINT) AS n_tok_new
       |       FROM tb GROUP BY 1),
       |nt AS (SELECT coalesce(na.source, nb.source) AS source,
       |       CAST(coalesce(n_tok_old, 0) AS BIGINT) AS n_tok_old,
       |       CAST(coalesce(n_tok_new, 0) AS BIGINT) AS n_tok_new
       |      FROM na FULL OUTER JOIN nb ON na.source = nb.source),
       |j AS (SELECT coalesce(ta.source, tb.source) AS source,
       |       coalesce(ta.tok, tb.tok) AS tok, co, cn
       |      FROM ta FULL OUTER JOIN tb
       |        ON ta.source = tb.source AND ta.tok = tb.tok),
       |pq AS (SELECT j.source, tok, co, cn,
       |   (CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old
       |    ELSE 0.0 END) AS p,
       |   (CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new
       |    ELSE 0.0 END) AS q
       | FROM j JOIN nt ON j.source = nt.source),
       |c AS (SELECT source, tok,
       |   coalesce(co, 0) AS cnt_old, coalesce(cn, 0) AS cnt_new,
       |   CAST(round((
       |     CASE WHEN co > 0 THEN
       |       0.5 * p * ln(p * 2.0 / (p + q))
       |     ELSE 0.0 END +
       |     CASE WHEN cn > 0 THEN
       |       0.5 * q * ln(q * 2.0 / (p + q))
       |     ELSE 0.0 END) * 1e12) AS BIGINT) AS pico
       | FROM pq),
       |r AS (SELECT source, tok, cnt_old, cnt_new, pico,
       |   row_number() OVER (PARTITION BY source
       |                      ORDER BY pico DESC, tok) AS rank
       | FROM c)
       |SELECT source, tok, cnt_old, cnt_new, pico, rank
       |FROM r WHERE rank <= $MoversK
       |ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q149: q148's divergence served from Count–Min sketches
  // ([[TextStats.cmTokenJsShift]]) — the fixed-memory path for the
  // regime where even the (source, token) count frame is too large to
  // shuffle: each snapshot reduces to ONE d·w cell array per source.
  // By the data processing inequality the cell-level JS is a LOWER
  // bound on the exact token JS for every hash row; the output maxes
  // over the d rows (tightest bound). Same pico fixed-point discipline,
  // so the oracle — which recomputes the cells relationally exactly as
  // q147's does — hash-matches the bound itself, not a tolerance of it.
  // Derived knobs (r17): the hard-coded d=4/w=1021 became
  // cmKnobs-derived — d = ⌈ln(1/δ)⌉ = 4 at δ = 0.02, w = next prime
  // past min(e/ε, 2·vocab) = 1091 at ε = 0.0025 under the fixture's 4k
  // vocab estimate (a deployment passes its ingest HLL estimate). Both
  // engines interpolate the SAME derived literals.
  private val CmJs = graft.functions.CountMinSketchAgg.cmKnobs(
    vocabEstimate = 4096, eps = 0.0025, delta = 0.02)
  private val CmJsD = CmJs.d
  private val CmJsW = CmJs.w

  def q149CmJsShift(s: SparkSession, d: String): DataFrame =
    TextStats.cmTokenJsShiftFromCounts(
        tokenCountArtifact(s, d, "old"), tokenCountArtifact(s, d, "new"),
        "source", CmJsD, CmJsW)
      .orderBy("source")

  val q149Sql: String = {
    val bo = graft.functions.CountMinSketchAgg.bucketSql("tok", "r", CmJsW)
    s"""WITH ns AS ($derivedDocsSql),
       |wo AS (SELECT source, tok FROM (
       |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> ''),
       |wn AS (SELECT source, tok FROM (
       |   SELECT source, unnest(string_split(text, ' ')) AS tok FROM ns)
       |  WHERE tok <> ''),
       |no AS (SELECT source, count(*) AS n_tok_old FROM wo GROUP BY 1),
       |nn AS (SELECT source, count(*) AS n_tok_new FROM wn GROUP BY 1),
       |nt AS (SELECT coalesce(no.source, nn.source) AS source,
       |       CAST(coalesce(n_tok_old, 0) AS BIGINT) AS n_tok_old,
       |       CAST(coalesce(n_tok_new, 0) AS BIGINT) AS n_tok_new
       |      FROM no FULL OUTER JOIN nn ON no.source = nn.source),
       |co AS (SELECT source, r, $bo AS b, count(*) AS co
       |       FROM wo CROSS JOIN range($CmJsD) AS t(r) GROUP BY 1, 2, 3),
       |cn AS (SELECT source, r, $bo AS b, count(*) AS cn
       |       FROM wn CROSS JOIN range($CmJsD) AS t(r) GROUP BY 1, 2, 3),
       |j AS (SELECT coalesce(co.source, cn.source) AS source,
       |       coalesce(co.r, cn.r) AS r,
       |       coalesce(co.co, 0) AS co, coalesce(cn.cn, 0) AS cn
       |      FROM co FULL OUTER JOIN cn
       |        ON co.source = cn.source AND co.r = cn.r AND co.b = cn.b),
       |pq AS (SELECT j.source, r,
       |   CAST(round((
       |    CASE WHEN co > 0 THEN
       |     0.5 * (CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old ELSE 0.0 END)
       |      * ln((CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old ELSE 0.0 END) * 2.0
       |        / ((CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old ELSE 0.0 END)
       |           + (CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new ELSE 0.0 END)))
       |    ELSE 0.0 END +
       |    CASE WHEN cn > 0 THEN
       |     0.5 * (CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new ELSE 0.0 END)
       |      * ln((CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new ELSE 0.0 END) * 2.0
       |        / ((CASE WHEN co > 0 THEN CAST(co AS DOUBLE) / n_tok_old ELSE 0.0 END)
       |           + (CASE WHEN cn > 0 THEN CAST(cn AS DOUBLE) / n_tok_new ELSE 0.0 END)))
       |    ELSE 0.0 END) * 1e12) AS BIGINT) AS pico
       | FROM j JOIN nt ON j.source = nt.source),
       |rowjs AS (SELECT source, r, CAST(sum(pico) AS BIGINT) AS js_r
       |          FROM pq GROUP BY 1, 2),
       |m AS (SELECT source, max(js_r) AS js_cm_pico FROM rowjs GROUP BY 1)
       |SELECT m.source, n_tok_old, n_tok_new, js_cm_pico,
       | round(js_cm_pico / 1e12, 6) AS js_cm
       |FROM m JOIN nt ON m.source = nt.source
       |ORDER BY m.source""".stripMargin
  }

  val q136Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks
       |           FROM documents),
       |x AS (SELECT doc_id, len(toks) AS n, toks,
       |  unnest(range(0, 1 + CASE WHEN len(toks) > $ChunkW
       |    THEN (len(toks) - $ChunkW + ${ChunkS - 1}) // $ChunkS
       |    ELSE 0 END)) AS ci
       | FROM t)
       |SELECT doc_id, ci AS chunk_idx,
       | CAST(len(toks[ci * $ChunkS + 1 : ci * $ChunkS + $ChunkW]) AS BIGINT)
       |   AS n_tok,
       | md5(array_to_string(toks[ci * $ChunkS + 1 : ci * $ChunkS + $ChunkW],
       |   ' ')) AS chunk_md5
       |FROM x ORDER BY doc_id, chunk_idx""".stripMargin

  val q55Sql: String =
    s"""WITH train AS ($trainSql),
       |evsh AS (
       | SELECT DISTINCT h
       | FROM (SELECT unnest(list_transform(${shinglesSql("text", DecontamK)},
       |         s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       |       FROM documents WHERE doc_id % 97 = 0)),
       |trsh AS (
       | SELECT doc_id,
       |  unnest(list_transform(${shinglesSql("text", DecontamK)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       | FROM train)
       |SELECT DISTINCT doc_id FROM trsh
       |WHERE h IN (SELECT h FROM evsh)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q63 multi-k decontamination: the realistic "any verbatim hit at
  // k ∈ {8,13}" policy with per-(doc,k) containment counts, ONE train
  // scan for both widths (plan-audited). Two implant classes: a
  // 10-token verbatim span (hits k=8 only — too short for a 13-gram)
  // and a 20-token span (hits both widths).
  private val MultiKs = Seq(8, 13)

  private def multiTrain(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val toks = TextStats.tokens(col("text"))
    def implant(offset: Int, prefix: String, spanLen: Int) =
      documents(s, d).filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + offset).as("doc_id"),
          concat(lit(prefix), concat_ws(" ", slice(toks, 2, spanLen))).as("text"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .unionByName(implant(300000, "zqx yvw kpj ", 10))
      .unionByName(implant(310000, "qqz wwx ", 20))
  }

  private val multiTrainSql =
    s"""SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       |UNION ALL
       |SELECT doc_id + 300000 AS doc_id,
       |  'zqx yvw kpj ' ||
       |    array_to_string((string_split($normSql, ' '))[2:11], ' ') AS text
       |FROM documents WHERE doc_id % 97 = 0
       |UNION ALL
       |SELECT doc_id + 310000 AS doc_id,
       |  'qqz wwx ' ||
       |    array_to_string((string_split($normSql, ' '))[2:21], ' ') AS text
       |FROM documents WHERE doc_id % 97 = 0""".stripMargin

  def q63MultikDecontaminate(s: SparkSession, d: String): DataFrame =
    Dedup.contaminationStats(multiTrain(s, d), evalDocs(s, d),
        "text", "doc_id", MultiKs)
      .orderBy("doc_id", "k")

  val q63Sql: String = {
    val h60 = (e: String) => s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
    def perK(src: String, withId: Boolean) = MultiKs.map { k =>
      val id = if (withId) "doc_id, " else ""
      s"""SELECT $id$k AS k,
         |  unnest(list_transform(${shinglesSql("text", k)},
         |    s -> ${h60("s")})) AS h
         |FROM $src""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH train AS ($multiTrainSql),
       |ev AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
       |evsh AS (SELECT DISTINCT k, h FROM (${perK("ev", withId = false)})),
       |trsh AS (${perK("train", withId = true)})
       |SELECT doc_id, k, count(*) AS n_hits
       |FROM trsh JOIN evsh USING (k, h)
       |GROUP BY doc_id, k
       |ORDER BY doc_id, k""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q56 repetition ratio: fraction of repeated word 3-grams per doc
  // (Gopher-style looping signal). Injected positives: doc_id % 6 == 0
  // docs re-inserted with their text DOUBLED (ratio ≈ 0.5).
  private val RepK = 3

  private def repCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
  }

  private val repCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 400000 AS doc_id, text || ' ' || text AS text
      |FROM documents WHERE doc_id % 6 = 0""".stripMargin

  def q56Repetition(s: SparkSession, d: String): DataFrame = {
    // stage the normalized form so the regex pipeline runs once per row
    // (CollapseProject keeps a multiply-referenced non-cheap alias
    // staged); token-count filter is space arithmetic on the staged form
    val staged = repCorpus(s, d)
      .select(col("doc_id"), TextStats.normalize(col("text")).as("__norm"))
      .filter(regexp_count(col("__norm"), lit(" ")) + 1 >= RepK)
    val cols = TextStats.repetitionColumnsFromNorm(col("__norm"), RepK)
      .map { case (n, c) => c.as(n) }
    staged.select(col("doc_id") +: cols: _*)
      .orderBy("doc_id")
  }

  val q56Sql: String =
    s"""WITH corpus AS ($repCorpusSql),
       |t AS (
       | SELECT doc_id, string_split($normSql, ' ') AS toks FROM corpus),
       |g AS (
       | SELECT doc_id,
       |  len(toks) - ${RepK - 1} AS n_ngrams,
       |  len(list_distinct(list_transform(range(1, len(toks) - ${RepK - 1} + 1),
       |    i -> array_to_string(toks[i:i+${RepK - 1}], ' ')))) AS n_distinct_ngrams
       | FROM t WHERE len(toks) >= $RepK)
       |SELECT doc_id,
       | CAST(n_ngrams AS BIGINT) AS n_ngrams,
       | CAST(n_distinct_ngrams AS BIGINT) AS n_distinct_ngrams,
       | round(1.0 - CAST(n_distinct_ngrams AS DOUBLE) / n_ngrams, 6) AS rep_ratio
       |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q57 source balancing: every source downsampled to ≈ the smallest
  // source's size with an exact-integer keep threshold (data mixing).
  def q57SourceBalance(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val before = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
    val kept = Curation.balancedSample(docs, "doc_id", "source")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    before.join(kept, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept"))
      .orderBy("source")
  }

  val q57Sql: String =
    s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       |m AS (SELECT min(n) AS nmin FROM c),
       |thr AS (SELECT source, (1000000 * nmin) // n AS thr FROM c, m),
       |kept AS (
       | SELECT d.source FROM documents d JOIN thr t ON d.source = t.source
       | WHERE ${hash60Sql("doc_id")} % 1000000 < t.thr)
       |SELECT c.source, c.n AS n_before,
       | coalesce(k.n_kept, 0) AS n_kept
       |FROM c LEFT JOIN
       | (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1) k
       | USING (source)
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q58 boilerplate segments: docs carry injected shared footers on
  // newline-separated "pages"; a segment is boilerplate when its digest
  // appears in ≥ 5 distinct docs.
  private val MinDocs = 5

  private def pages(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 2 === 0,
        lit("\nall rights reserved example footer")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        lit("\nsubscribe to our newsletter today")).otherwise(lit("")))
      .as("text"))

  // no line may START with `||`: this snippet is re-embedded inside
  // q58Sql's stripMargin, which would eat one pipe
  private val pagesSql =
    """SELECT doc_id, concat(text,
      |  CASE WHEN doc_id % 2 = 0
      |    THEN chr(10) || 'all rights reserved example footer' ELSE '' END,
      |  CASE WHEN doc_id % 3 = 0
      |    THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END)
      |  AS text
      |FROM documents""".stripMargin

  def q58Boilerplate(s: SparkSession, d: String): DataFrame =
    Dedup.boilerplateStats(pages(s, d), "doc_id", "text", "\n", MinDocs)
      .orderBy("doc_id")

  val q58Sql: String = {
    val segNorm = TextStats.normalizeSql("seg")
    s"""WITH pages AS ($pagesSql),
       |segs AS (
       | SELECT doc_id, md5($segNorm) AS dig
       | FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS seg
       |       FROM pages)
       | WHERE length(trim(seg)) > 0),
       |freq AS (SELECT dig, count(DISTINCT doc_id) AS ndocs
       |         FROM segs GROUP BY 1)
       |SELECT doc_id,
       | count(*) AS n_segments,
       | CAST(sum(CASE WHEN ndocs >= $MinDocs THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_boilerplate,
       | round(CAST(sum(CASE WHEN ndocs >= $MinDocs THEN 1 ELSE 0 END) AS DOUBLE)
       |   / count(*), 6) AS boilerplate_ratio
       |FROM segs JOIN freq USING (dig)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q59 PII scrub: regexp redaction of emails / phone numbers / IPv4
  // addresses with per-doc counts (C4/RefinedWeb-style cleanup). The
  // driver corpus is digit-free word salad, so known PII is injected on
  // modular doc_id classes in both engines; the scrubbed text is
  // md5-compared cell-exact (catches any replacement divergence), and
  // clean docs double as the false-positive check.
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com soon"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit(" call 555-123-4567 today")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit(" origin 10.0.42.7 logged")).otherwise(lit("")))
      .as("text"))

  // no line may START with `||` (re-embedded inside q59Sql's stripMargin)
  private val piiCorpusSql =
    """SELECT doc_id, text ||
      |  CASE WHEN doc_id % 7 = 0
      |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com soon'
      |    ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 today' ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0 THEN ' origin 10.0.42.7 logged' ELSE '' END
      |  AS text
      |FROM documents""".stripMargin

  def q59PiiScrub(s: SparkSession, d: String): DataFrame = {
    val cols = Scrub.piiColumns(col("text")).map { case (n, c) => c.as(n) }
    piiCorpus(s, d)
      .select(col("doc_id") +: cols: _*)
      .withColumn("scrubbed_md5", md5(col("scrubbed").cast("binary")))
      .drop("scrubbed")
      .orderBy("doc_id")
  }

  val q59Sql: String = {
    val e = Scrub.EmailRe
    val p = Scrub.PhoneRe
    val ip = Scrub.Ipv4Re
    s"""WITH corpus AS ($piiCorpusSql),
       |x AS (
       | SELECT doc_id,
       |  len(regexp_extract_all(text, '$e')) AS n_emails,
       |  len(regexp_extract_all(text, '$p')) AS n_phones,
       |  len(regexp_extract_all(text, '$ip')) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$ip', '<IP>', 'g')
       |    AS scrubbed
       | FROM corpus)
       |SELECT doc_id,
       | CAST(n_emails AS BIGINT) AS n_emails,
       | CAST(n_phones AS BIGINT) AS n_phones,
       | CAST(n_ips AS BIGINT) AS n_ips,
       | CAST(n_emails + n_phones + n_ips AS BIGINT) AS n_redactions,
       | md5(scrubbed) AS scrubbed_md5
       |FROM x ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q60 domain blocklist filter: deterministic synthetic urls over the
  // documents table (every 10th doc gets a `cdn.` subdomain so the
  // suffix-chain semantics are exercised), three blocked domains,
  // per-host kept counts. Broadcast blocklist, map-side semi/anti —
  // the corpus never shuffles (q55's asymmetry).
  private val BlockedDomains =
    Seq("src3.example.com", "src7.example.com", "src12.example.com")

  // cdn modulus 7 is coprime to the source assignment's modulus, so
  // blocked domains occur under BOTH exact-host and cdn-subdomain forms;
  // modulus 9 uppercases scheme+host so the oracle exercises the
  // case-insensitive host contract too (hosts are case-insensitive)
  private def urled(s: SparkSession, d: String): DataFrame = {
    val raw = concat(lit("https://"),
      when(col("doc_id") % 7 === 0, lit("cdn.")).otherwise(lit("")),
      col("source"), lit(".example.com/doc/"))
    documents(s, d).select(col("doc_id"),
      concat(when(col("doc_id") % 9 === 0, upper(raw)).otherwise(raw),
        col("doc_id").cast("string")).as("url"))
  }

  // no line may START with `||` (re-embedded inside q60Sql's stripMargin)
  private val urledSql =
    """SELECT doc_id,
      | CASE WHEN doc_id % 9 = 0 THEN upper(raw) ELSE raw END ||
      |  CAST(doc_id AS VARCHAR) AS url
      |FROM (SELECT doc_id,
      |  'https://' || CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END ||
      |   source || '.example.com/doc/' AS raw
      | FROM documents)""".stripMargin

  def q60DomainFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val block = BlockedDomains.toDF("domain")
    Scrub.domainFilter(urled(s, d), "url", "doc_id", block)
      .select(Scrub.hostOf(col("url")).as("host"))
      .groupBy("host").agg(count(lit(1)).as("n_kept"))
      .orderBy("host")
  }

  val q60Sql: String = {
    val vals = BlockedDomains.map(b => s"('$b')").mkString(", ")
    s"""WITH u AS ($urledSql),
       |h AS (
       | SELECT doc_id,
       |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))
       |    AS host
       | FROM u),
       |b(domain) AS (VALUES $vals),
       |kept AS (
       | SELECT host FROM h WHERE NOT EXISTS (
       |   SELECT 1 FROM b
       |   WHERE h.host = b.domain OR h.host LIKE ('%.' || b.domain)))
       |SELECT host, count(*) AS n_kept
       |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q62 temperature mixing: rate ∝ n_g^(α−1) at α = 0.7 — between q57's
  // flatten-to-min (α=0) and no-op (α=1). The raw corpus has perfectly
  // uniform sources (n=25 each at sf0.01), so the fixture replicates
  // src0 ×8, src1 ×4, src2 ×2 to create real skew; output includes the
  // per-group fixed-point threshold so the pow contract itself is
  // oracle-checked, not just the kept counts.
  private val MixAlpha = 0.7

  private def skewedDocs(s: SparkSession, d: String): DataFrame = {
    val factor = when(col("source") === "src0", 8)
      .when(col("source") === "src1", 4)
      .when(col("source") === "src2", 2)
      .otherwise(1)
    documents(s, d).select(col("doc_id"), col("source"), factor.as("__f"))
      .select(col("source"),
        explode(sequence(lit(0L), col("__f").cast("long") - 1)).as("__r"),
        col("doc_id"))
      .select((col("doc_id") + col("__r") * 1000000L).as("doc_id"),
        col("source"))
  }

  private val skewedDocsSql =
    """SELECT doc_id + t.r * 1000000 AS doc_id, source
      |FROM documents, UNNEST(range(0,
      |  CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
      |       WHEN 'src2' THEN 2 ELSE 1 END)) AS t(r)""".stripMargin

  def q62TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = skewedDocs(s, d)
    val before = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
    val thr = before
      .crossJoin(broadcast(before.agg(min("n_before").as("__nmin"))))
      .select(col("source"),
        Curation.temperatureThreshold(col("n_before"), col("__nmin"), MixAlpha)
          .as("thr"))
    val kept = Curation.temperatureSample(docs, "doc_id", "source", MixAlpha)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    before.join(thr, "source")
      .join(kept, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept"))
      .orderBy("source")
  }

  val q62Sql: String = {
    // the EXACT IEEE-754 double exponent Spark computes for 1.0 − α —
    // a re-typed '0.3' could flip a rounded millionth
    val exponent = 1.0 - MixAlpha
    s"""WITH docs AS ($skewedDocsSql),
       |c AS (SELECT source, count(*) AS n FROM docs GROUP BY 1),
       |m AS (SELECT min(n) AS nmin FROM c),
       |thr AS (SELECT source, n,
       |  CAST(round(1000000 * pow(CAST(nmin AS DOUBLE) / n, $exponent)) AS BIGINT)
       |    AS thr
       | FROM c, m),
       |kept AS (
       | SELECT d.source FROM docs d JOIN thr t ON d.source = t.source
       | WHERE ${hash60Sql("doc_id")} % 1000000 < t.thr)
       |SELECT c.source, c.n AS n_before, t.thr AS thr,
       | coalesce(k.n_kept, 0) AS n_kept
       |FROM c JOIN thr t USING (source) LEFT JOIN
       | (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1) k
       | USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q64 line-rule cleanup (C4-style): drop lines with < 4 tokens or no
  // terminal punctuation. Injected line classes: a 2-token fragment
  // (token rule kills it), a nav row (enough tokens, no punctuation),
  // and a full sentence (survives). The base word-salad line has no
  // terminal punctuation, so it is dropped too — n_kept counts only
  // injected sentences; cleaned text md5-compared cell-exact.
  private val MinLineTokens = 4

  private def linedCorpus(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("\nshort line")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\nhome | products | about | contact")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        lit("\nthis sentence has enough words to survive the filter."))
        .otherwise(lit("")))
      .as("text"))

  private val linedCorpusSql =
    """SELECT doc_id, concat(text,
      |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'short line' ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0
      |    THEN chr(10) || 'home | products | about | contact' ELSE '' END,
      |  CASE WHEN doc_id % 4 = 0
      |    THEN chr(10) || 'this sentence has enough words to survive the filter.'
      |    ELSE '' END) AS text
      |FROM documents""".stripMargin

  def q64LineRules(s: SparkSession, d: String): DataFrame = {
    val cols = Scrub.lineRuleColumns(col("text"), MinLineTokens)
      .map { case (n, c) => c.as(n) }
    linedCorpus(s, d)
      .select(col("doc_id") +: cols: _*)
      .withColumn("cleaned_md5", md5(col("cleaned").cast("binary")))
      .drop("cleaned")
      .orderBy("doc_id")
  }

  val q64Sql: String =
    s"""WITH corpus AS ($linedCorpusSql),
       |x AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM corpus),
       |f AS (SELECT doc_id, len(lines) AS n_lines,
       |  list_filter(lines, l ->
       |    len(regexp_extract_all(trim(l), '\\S+')) >= $MinLineTokens
       |    AND substr(trim(l), -1, 1) IN ('.', '!', '?', '"')) AS kept
       | FROM x)
       |SELECT doc_id,
       | CAST(n_lines AS BIGINT) AS n_lines,
       | CAST(len(kept) AS BIGINT) AS n_kept_lines,
       | md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_md5
       |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q65 URL canonicalization + crawl dedup: two messy variants of every
  // doc's URL (uppercase scheme/host + default port + tracking params +
  // fragment + trailing slash vs. plain + port + fragment) must collapse
  // to ONE canonical key — the fetch-level dedup that runs before any
  // text-level dedup. n_copies == 2 for every group proves the collapse;
  // md5(canon) pins the exact canonical string cell-exact.
  private def messyUrls(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    documents(s, d).select(col("doc_id"), explode(array(
      concat(lit("HTTPS://CDN."), upper(col("source")),
        lit(".EXAMPLE.COM:443/doc/"), id,
        lit("/?UTM_Source=rss&ref=home#frag")),
      concat(lit("https://cdn."), col("source"),
        lit(".example.com:443/doc/"), id, lit("#section2"))))
      .as("url"))
  }

  // no line may START with `||` (re-embedded inside q65Sql's stripMargin)
  private val messyUrlsSql =
    """SELECT doc_id, unnest([
      |  'HTTPS://CDN.' || upper(source) || '.EXAMPLE.COM:443/doc/' ||
      |    CAST(doc_id AS VARCHAR) || '/?UTM_Source=rss&ref=home#frag',
      |  'https://cdn.' || source || '.example.com:443/doc/' ||
      |    CAST(doc_id AS VARCHAR) || '#section2']) AS url
      |FROM documents""".stripMargin

  def q65UrlCanonicalize(s: SparkSession, d: String): DataFrame =
    messyUrls(s, d)
      .select(col("doc_id"), Scrub.canonicalizeUrl(col("url")).as("canon"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))
      .select(md5(col("canon").cast("binary")).as("canon_md5"),
        col("n_copies"), col("keep_id"))
      .orderBy("keep_id")

  val q65Sql: String =
    s"""WITH u AS ($messyUrlsSql),
       |c AS (SELECT doc_id, ${Scrub.canonicalizeUrlSql("url")} AS canon FROM u)
       |SELECT md5(canon) AS canon_md5, count(*) AS n_copies,
       | min(doc_id) AS keep_id
       |FROM c GROUP BY canon ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // q67 unigram log-prob quality (the CCNet perplexity filter's cheap
  // stand-in): vocabulary = top-100 corpus tokens (count desc, token asc
  // — deterministic cutoff), per-token log10 of the add-one-smoothed
  // probability rounded to 6 decimals BEFORE averaging, OOV tokens take
  // the smoothed floor. The corpus text never shuffles: one (token,
  // count) aggregation, TakeOrdered top-V, broadcast join back.
  private val VocabSize = 100

  def q67UnigramLogprob(s: SparkSession, d: String): DataFrame =
    TextStats.unigramLogProbScores(
        documents(s, d).select("doc_id", "text"), "doc_id", "text", VocabSize)
      .orderBy("doc_id")

  val q67Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, tok FROM (
       |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
       |  FROM documents)
       | WHERE tok <> ''),
       |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
       |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT $VocabSize),
       |scored AS (
       | SELECT t.doc_id,
       |  CAST(round(log10((coalesce(v.c, 0) + 1.0)
       |    / (total.n + $VocabSize + 1.0)) * 1000000) AS BIGINT) AS lp_micro
       | FROM toks t LEFT JOIN vocab v USING (tok), total)
       |SELECT doc_id, count(*) AS n_tokens,
       | round(CAST(sum(lp_micro) AS BIGINT) / (count(*) * 1000000.0), 6)
       |   AS avg_logp
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q70 bigram LM quality (q67's CCNet step-up): each token scored by
  // its add-one-smoothed conditional probability given the previous
  // token when the (capped, broadcast) bigram table supports it,
  // backing off to q67's unigram formula otherwise. Same
  // integer-millionth exactness contract; the corpus text never
  // shuffles (pair frame = one zip-with-shifted-self projection).
  private val BigramSize = 200

  def q70BigramLogprob(s: SparkSession, d: String): DataFrame =
    TextStats.bigramLogProbScores(
        documents(s, d).select("doc_id", "text"), "doc_id", "text",
        VocabSize, BigramSize)
      .orderBy("doc_id")

  val q70Sql: String =
    s"""WITH t AS (
       | SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
       | WHERE length($normSql) > 0),
       |pairs AS (
       | SELECT doc_id, toks[u.i] AS cur,
       |  CASE WHEN u.i > 1 THEN toks[u.i - 1] END AS prev
       | FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |uni AS (SELECT cur AS tok, count(*) AS c FROM pairs GROUP BY 1),
       |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       |vocab AS (SELECT tok, c FROM uni ORDER BY c DESC, tok LIMIT $VocabSize),
       |big AS (
       | SELECT prev, cur, count(*) AS cb FROM pairs
       | WHERE prev IS NOT NULL GROUP BY 1, 2
       | ORDER BY cb DESC, prev, cur LIMIT $BigramSize),
       |scored AS (
       | SELECT p.doc_id,
       |  CASE WHEN b.cb IS NOT NULL AND vp.c IS NOT NULL
       |   THEN CAST(round(log10((b.cb + 1.0) / (vp.c + $VocabSize + 1.0))
       |     * 1000000) AS BIGINT)
       |   ELSE CAST(round(log10((coalesce(vc.c, 0) + 1.0)
       |     / (total.n + $VocabSize + 1.0)) * 1000000) AS BIGINT)
       |  END AS lp,
       |  CASE WHEN b.cb IS NOT NULL AND vp.c IS NOT NULL
       |   THEN 1 ELSE 0 END AS hit
       | FROM pairs p
       | LEFT JOIN vocab vc ON vc.tok = p.cur
       | LEFT JOIN vocab vp ON vp.tok = p.prev
       | LEFT JOIN big b ON b.prev = p.prev AND b.cur = p.cur, total)
       |SELECT doc_id, count(*) AS n_tokens,
       | CAST(sum(hit) AS BIGINT) AS n_bigram_hits,
       | round(CAST(sum(lp) AS BIGINT) / (count(*) * 1000000.0), 6)
       |   AS avg_logp_bi
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q68 document chunking (RAG/indexing): 32-token windows every 24
  // tokens (8-token overlap), last window truncating at the document
  // end. Pure explode fan-out; chunk text md5-pinned cell-exact.
  private val ChunkTokens = 32
  private val ChunkOverlap = 8

  def q68ChunkDocs(s: SparkSession, d: String): DataFrame =
    TextStats.chunkDocuments(documents(s, d).select("doc_id", "text"),
        "doc_id", "text", ChunkTokens, ChunkOverlap)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        md5(col("chunk_text").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val q68Sql: String = {
    val stride = ChunkTokens - ChunkOverlap
    s"""WITH t AS (
       | SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |c AS (
       | SELECT doc_id, toks,
       |  unnest(range(0, greatest(
       |    CAST(ceil(CAST(len(toks) - $ChunkTokens AS DOUBLE) / $stride)
       |      AS BIGINT) + 1, 1))) AS chunk_idx
       | FROM t)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       | CAST(least($ChunkTokens, len(toks) - chunk_idx * $stride) AS BIGINT)
       |   AS n_chunk_tokens,
       | md5(array_to_string(
       |   toks[chunk_idx * $stride + 1 : chunk_idx * $stride + $ChunkTokens],
       |   ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q72 exact-substring overlap (Lee et al. 2022 exact-substring dedup
  // stats): longest verbatim common token run per overlapping doc pair,
  // via positional gram hashes + diagonal gaps-and-islands — where
  // q25/q55 detect THAT documents overlap, this measures HOW MUCH.
  // Injected positives: every 10th doc gets a twin embedding a verbatim
  // span of 12 + doc_id % 7 tokens (varying lengths pin the run
  // arithmetic, not just pair detection).
  private val SpanK = 5
  private val MinRun = 10

  private def spanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val toks = TextStats.tokens(col("text"))
    docs.unionByName(
      documents(s, d).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("zzq wwy "),
            concat_ws(" ", slice(toks, lit(5), lit(12) + col("doc_id") % 7)),
            lit(" qqz")).as("text")))
  }

  // no line may START with `||` (re-embedded inside q72Sql's stripMargin)
  private val spanCorpusSql =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + 600000 AS doc_id,
       | 'zzq wwy ' ||
       |  array_to_string((string_split($normSql, ' '))[5:16 + doc_id % 7], ' ') ||
       |  ' qqz' AS text
       |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  def q72CommonSpans(s: SparkSession, d: String): DataFrame =
    Dedup.longestCommonRuns(spanCorpus(s, d), "text", "doc_id",
        SpanK, MinRun)
      .orderBy("a", "b")

  val q72Sql: String = {
    val gramHash = s"CAST(('0x' || substr(md5(array_to_string(" +
      s"toks[u.i:u.i + ${SpanK - 1}], ' ')), 1, 15)) AS BIGINT)"
    s"""WITH corpus AS ($spanCorpusSql),
       |t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM corpus),
       |g AS (
       | SELECT doc_id AS id, u.i AS i, $gramHash AS h
       | FROM t, unnest(range(1, greatest(len(toks) - ${SpanK - 1}, 1) + 1))
       |   AS u(i)),
       |m AS (
       | SELECT x.id AS a, y.id AS b, y.i - x.i AS d, x.i AS i
       | FROM g x JOIN g y USING (h) WHERE x.id < y.id),
       |isl AS (
       | SELECT a, b, d, i,
       |  i - row_number() OVER (PARTITION BY a, b, d ORDER BY i) AS grp
       | FROM m),
       |runs AS (
       | SELECT a, b, count(*) + ${SpanK - 1} AS run
       | FROM isl GROUP BY a, b, d, grp)
       |SELECT a, b, CAST(max(run) AS BIGINT) AS longest_run
       |FROM runs GROUP BY a, b HAVING max(run) >= $MinRun
       |ORDER BY a, b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q80 exact-substring CUT (the dedup ACTION behind q72's stats): every
  // >= MinRun-token verbatim common run is removed from the higher-id
  // doc of its pair (keep-lowest policy — a span three docs share
  // survives only in the lowest), overlapping spans unioned before the
  // cut. Output is md5-pinned cleaned normalized text + tokens removed,
  // one row per doc (untouched docs hash their normalized text).
  def q80CutSpans(s: SparkSession, d: String): DataFrame =
    Dedup.cutCommonRuns(spanCorpus(s, d), "text", "doc_id", SpanK, MinRun)
      .select(col("id").as("doc_id"), col("n_removed"), col("clean_md5"))
      .orderBy("doc_id")

  val q80Sql: String = {
    val gramHash = s"CAST(('0x' || substr(md5(array_to_string(" +
      s"toks[u.i:u.i + ${SpanK - 1}], ' ')), 1, 15)) AS BIGINT)"
    s"""WITH corpus AS ($spanCorpusSql),
       |t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM corpus),
       |g AS (
       | SELECT doc_id AS id, u.i AS i, $gramHash AS h
       | FROM t, unnest(range(1, greatest(len(toks) - ${SpanK - 1}, 1) + 1))
       |   AS u(i)),
       |m AS (
       | SELECT x.id AS a, y.id AS b, y.i - x.i AS d, x.i AS i
       | FROM g x JOIN g y USING (h) WHERE x.id < y.id),
       |isl AS (
       | SELECT a, b, d, i,
       |  i - row_number() OVER (PARTITION BY a, b, d ORDER BY i) AS grp
       | FROM m),
       |spans AS (
       | SELECT b AS id, CAST(min(i) + d AS BIGINT) AS s,
       |  CAST(min(i) + d + count(*) + ${SpanK - 2} AS BIGINT) AS e
       | FROM isl GROUP BY a, b, d, grp
       | HAVING count(*) + ${SpanK - 1} >= $MinRun),
       |cut AS (
       | SELECT DISTINCT id, u.tpos FROM spans, unnest(range(s, e + 1))
       |   AS u(tpos)),
       |tok AS (
       | SELECT doc_id AS id, CAST(u.tpos AS BIGINT) AS tpos, toks[u.tpos] AS tok
       | FROM t, unnest(range(1, len(toks) + 1)) AS u(tpos)),
       |kept AS (
       | SELECT k2.id, k2.tpos, k2.tok FROM tok k2
       | LEFT JOIN cut c ON c.id = k2.id AND c.tpos = k2.tpos
       | WHERE c.tpos IS NULL),
       |agg AS (
       | SELECT id, count(*) AS n_kept,
       |  string_agg(tok, ' ' ORDER BY tpos) AS clean
       | FROM kept GROUP BY id)
       |SELECT t.doc_id,
       | CAST(len(t.toks) - coalesce(a2.n_kept, 0) AS BIGINT) AS n_removed,
       | md5(coalesce(a2.clean, '')) AS clean_md5
       |FROM t LEFT JOIN agg a2 ON a2.id = t.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q85 DSIR importance weights (Xie et al. 2023): score raw docs by the
  // hashed-unigram log-likelihood ratio between a TARGET distribution and
  // the raw-corpus distribution — the data-selection pass that upsamples
  // target-like documents. Target here = the English subset (the fixture
  // corpus's stand-in for "the trusted in-domain seed set"); 1024 hash
  // buckets; selected = ratio > 0 (more target-like than corpus-average).
  private val DsirBuckets = 1024

  def q85DsirWeights(s: SparkSession, d: String): DataFrame =
    Curation.dsirWeights(documents(s, d).select("doc_id", "text", "lang"),
        "doc_id", "text", col("lang") === "en", DsirBuckets)
      .orderBy("doc_id")

  val q85Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, tgt, ${hash60Sql("tok")} % $DsirBuckets AS b
       | FROM (
       |  SELECT doc_id, lang = 'en' AS tgt,
       |   unnest(string_split($normSql, ' ')) AS tok
       |  FROM documents)
       | WHERE tok <> ''),
       |bc AS (
       | SELECT b, count(*) AS cr, count(*) FILTER (WHERE tgt) AS ct
       | FROM toks GROUP BY b),
       |tot AS (
       | SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
       | FROM bc),
       |w AS (
       | SELECT b, CAST(round((log10((ct + 1.0) / (nt + $DsirBuckets))
       |   - log10((cr + 1.0) / (nr + $DsirBuckets))) * 1000000) AS BIGINT)
       |   AS lw
       | FROM bc, tot),
       |scored AS (SELECT t.doc_id, w.lw FROM toks t JOIN w USING (b))
       |SELECT doc_id, count(*) AS n_tokens,
       | round(CAST(sum(lw) AS BIGINT) / 1000000.0, 6) AS logw,
       | round(CAST(sum(lw) AS BIGINT) / (count(*) * 1000000.0), 6) AS avg_logw,
       | (CAST(sum(lw) AS BIGINT) > 0) AS selected
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q145: ORDER-FREE SHARD FINGERPRINTS — the anti-entropy primitive
  // next to q135's snapshot diff: per shard (source), a content
  // checksum two sides can compare WITHOUT sorting, shipping, or
  // row-aligning anything — fingerprint = Σ per-row 60-bit content
  // hashes, and addition commutes, so the result is independent of
  // row order, partitioning, and merge schedule (the property a
  // cross-cluster corpus-sync check needs; a concatenated/ordered
  // digest would force a global sort first). One scan, map-side
  // hashing, |shards|-key shuffle; the sum accumulates in
  // DECIMAL(38,0) and ships as its canonical digit string (the q101
  // discipline — 2^60-sized terms overflow a signed 64-bit sum after
  // only ~8 rows, and DECIMAL hash canonicalization diverged between
  // engines once before). Collision bound: forging an equal
  // sum needs a deliberate preimage — honest divergence (a dropped,
  // duplicated, or edited row) moves the sum with probability
  // 1 − 2⁻⁶⁰.
  def q145ShardFingerprints(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        TextStats.hash60(concat_ws("|",
          col("doc_id"), col("text"), col("lang"))).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h").cast("decimal(38,0)")).as("fp"))
      .select(col("source"), col("n_docs"),
        col("fp").cast("string").as("fingerprint"))
      .orderBy("source")

  val q145Sql: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(CAST(sum(CAST(('0x' || substr(
      |   md5(concat_ws('|', doc_id, text, lang)), 1, 15)) AS BIGINT))
      |   AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // q146: GROUPED-ENTITY SNAPSHOT DIFF — the multi-row generalization
  // of q135 and the oracle face of Incremental.diffFingerprints (the
  // r15 incremental-rebuild trigger): an entity (an order here; a GEOID's
  // 19 year rows in the pipeline; a shard's documents in general) is
  // MANY rows, and its change verdict must not depend on row order —
  // CSV re-sharding reorders a group's rows without changing its
  // content. Fingerprint = q145's commutative Σ of per-row 60-bit
  // content hashes, per entity; two snapshots full-outer join on the
  // entity key and classify added / removed / changed / unchanged.
  // Scale shape: each snapshot scans once, hashes map-side, and only
  // (key, 16-byte decimal) rows cross the shuffle — never the rows
  // themselves; the rollup output is 4 rows.
  def q146EntityDiff(s: SparkSession, d: String): DataFrame = {
    val rows = lineitem(s, d).select(col("l_orderkey").as("okey"),
      col("l_linenumber").as("ln"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("q"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("p"))
    // derived second snapshot (both engines build it identically):
    // drop okey%31, duplicate okey%13 under shifted keys, then bump
    // quantity wherever the (possibly shifted) key hits %17
    val newRows = rows.filter(col("okey") % 31 =!= 0)
      .unionByName(rows.filter(col("okey") % 13 === 0)
        .withColumn("okey", col("okey") + 900000000L))
      .withColumn("q",
        when(col("okey") % 17 === 0, col("q") + 1).otherwise(col("q")))
    def fp(df: DataFrame, as: String): DataFrame = df
      .select(col("okey"), TextStats.hash60(concat_ws("|",
        col("okey"), col("ln"), col("q"), col("p"))).as("h"))
      .groupBy("okey")
      .agg(sum(col("h").cast("decimal(38,0)")).as(as))
    fp(rows, "fpo").join(fp(newRows, "fpn"), Seq("okey"), "full_outer")
      .select(col("okey"),
        when(col("fpo").isNull, "added")
          .when(col("fpn").isNull, "removed")
          .when(col("fpo") =!= col("fpn"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_entities"),
        min("okey").as("min_key"), max("okey").as("max_key"))
      .orderBy("status")
  }

  val q146Sql: String =
    """WITH rows0 AS (SELECT l_orderkey AS okey, l_linenumber AS ln,
      |  CAST(round(l_quantity) AS BIGINT) AS q,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS p FROM lineitem),
      |nr0 AS (SELECT okey, ln, q, p FROM rows0 WHERE okey % 31 <> 0
      |        UNION ALL
      |        SELECT okey + 900000000, ln, q, p FROM rows0
      |        WHERE okey % 13 = 0),
      |nr AS (SELECT okey, ln,
      |  CASE WHEN okey % 17 = 0 THEN q + 1 ELSE q END AS q, p FROM nr0),
      |fpo AS (SELECT okey, CAST(sum(CAST(('0x' || substr(
      |  md5(concat_ws('|', okey, ln, q, p)), 1, 15)) AS BIGINT))
      |  AS DECIMAL(38,0)) AS fp FROM rows0 GROUP BY okey),
      |fpn AS (SELECT okey, CAST(sum(CAST(('0x' || substr(
      |  md5(concat_ws('|', okey, ln, q, p)), 1, 15)) AS BIGINT))
      |  AS DECIMAL(38,0)) AS fp FROM nr GROUP BY okey),
      |j AS (SELECT coalesce(fpo.okey, fpn.okey) AS okey,
      |  CASE WHEN fpo.okey IS NULL THEN 'added'
      |       WHEN fpn.okey IS NULL THEN 'removed'
      |       WHEN fpo.fp <> fpn.fp THEN 'changed'
      |       ELSE 'unchanged' END AS status
      | FROM fpo FULL OUTER JOIN fpn ON fpo.okey = fpn.okey)
      |SELECT status, count(*) AS n_entities, min(okey) AS min_key,
      |  max(okey) AS max_key
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_entity_diff" -> (q146EntityDiff _),
    "q145_shard_fingerprints" -> (q145ShardFingerprints _),
    "q85_dsir_weights" -> (q85DsirWeights _),
    "q80_cut_spans" -> (q80CutSpans _),
    "q55_decontaminate" -> (q55Decontaminate _),
    "q103_decontaminate_bloom" -> (q103DecontaminateBloom _),
    "q134_bloom_fp_audit" -> (q134BloomFpAudit _),
    "q135_snapshot_diff" -> (q135SnapshotDiff _),
    "q136_rag_chunks" -> (q136RagChunks _),
    "q148_token_js_shift" -> (q148TokenJsShift _),
    "q149_cm_js_shift" -> (q149CmJsShift _),
    "q150_js_movers" -> (q150JsMovers _),
    "q56_repetition" -> (q56Repetition _),
    "q57_source_balance" -> (q57SourceBalance _),
    "q58_boilerplate" -> (q58Boilerplate _),
    "q59_pii_scrub" -> (q59PiiScrub _),
    "q60_domain_filter" -> (q60DomainFilter _),
    "q62_temperature_mix" -> (q62TemperatureMix _),
    "q63_decontaminate_multik" -> (q63MultikDecontaminate _),
    "q64_line_rules" -> (q64LineRules _),
    "q65_url_canonicalize" -> (q65UrlCanonicalize _),
    "q67_unigram_logprob" -> (q67UnigramLogprob _),
    "q68_chunk_docs" -> (q68ChunkDocs _),
    "q70_bigram_logprob" -> (q70BigramLogprob _),
    "q72_common_spans" -> (q72CommonSpans _),
  )

  val oracle: Map[String, String] = Map(
    "q146_entity_diff" -> q146Sql,
    "q145_shard_fingerprints" -> q145Sql,
    "q85_dsir_weights" -> q85Sql,
    "q80_cut_spans" -> q80Sql,
    "q55_decontaminate" -> q55Sql,
    "q103_decontaminate_bloom" -> q55Sql,
    "q134_bloom_fp_audit" -> q134Sql,
    "q135_snapshot_diff" -> q135Sql,
    "q136_rag_chunks" -> q136Sql,
    "q148_token_js_shift" -> q148Sql,
    "q149_cm_js_shift" -> q149Sql,
    "q150_js_movers" -> q150Sql,
    "q56_repetition" -> q56Sql,
    "q57_source_balance" -> q57Sql,
    "q58_boilerplate" -> q58Sql,
    "q59_pii_scrub" -> q59Sql,
    "q60_domain_filter" -> q60Sql,
    "q62_temperature_mix" -> q62Sql,
    "q63_decontaminate_multik" -> q63Sql,
    "q64_line_rules" -> q64Sql,
    "q65_url_canonicalize" -> q65Sql,
    "q67_unigram_logprob" -> q67Sql,
    "q68_chunk_docs" -> q68Sql,
    "q70_bigram_logprob" -> q70Sql,
    "q72_common_spans" -> q72Sql,
  )
}
