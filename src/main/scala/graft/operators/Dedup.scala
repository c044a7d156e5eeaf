package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline tier: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
  * SimHash, and n-gram Jaccard verification.
  *
  * Spark-first design notes (100 TB scale):
  *  - exact dedup is ONE hash aggregation keyed by the normalized-text
  *    digest — the canonical "group by hash, keep min id" shuffle; the
  *    digest (16 bytes) is what shuffles, never the document body.
  *  - MinHash signatures are a narrow per-row projection (array lambdas,
  *    codegen'd, no UDFs); LSH banding turns the quadratic all-pairs
  *    problem into an equi-join on (band, bucket) — the ONLY join is on
  *    bucket keys, so candidate generation is a standard shuffle join
  *    whose cost scales with collisions, not with |docs|².
  *  - Jaccard verification joins the (small) candidate-pair set back to
  *    per-doc shingle arrays; at scale the pair set is ≪ corpus so the
  *    shingle side can be semi-join-pruned first.
  *  - hashes default to md5-derived 60-bit longs ([[TextStats.hash60]])
  *    for bit-for-bit oracle parity; [[TextStats.HashMode.EngineXx]] is
  *    the constructor flag that swaps the whole tier onto xxhash64 at
  *    deployment (same structure — EngineHashSpec asserts it; cost
  *    difference benched as q52 vs q23).
  */
object Dedup {
  import TextStats.{hash60, normalize, tokens, HashMode}

  /** Exact dedup: group by the digest of the normalized text; per group
    * emit the surviving (minimum) id and the duplicate count. One shuffle
    * on the digest. `mode` picks the digest engine
    * ([[TextStats.HashMode]]): oracle-reproducible md5 by default,
    * xxhash64 for deployment — the grouping STRUCTURE is identical.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String,
                 mode: HashMode = HashMode.OracleMd5): DataFrame =
    df.select(TextStats.textDigest(col(textCol), mode).as("text_md5"),
        col(idCol))
      .groupBy("text_md5")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word k-gram shingles of the normalized text. */
  def wordShingles(textCol: String, k: Int): Column = {
    val toks = tokens(col(textCol))
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Distinct word k-gram shingle HASHES — the hot-path form of
    * `transform(wordShingles(...), hash60)`, computed by the native
    * [[graft.functions.WordShingleHashExpr]] in one zero-allocation
    * pass (sorted set output; every consumer is set machinery, see the
    * expression doc). Same hash values, same distinct set.
    */
  def hashedWordShingles(textCol: String, k: Int,
                         mode: HashMode = HashMode.OracleMd5): Column =
    graft.functions.WordShingleHashExpr.shingles(
      normalize(col(textCol)), k, mode == HashMode.EngineXx)

  /** Mersenne prime 2^31-1: modulus of the affine MinHash family. Keeps
    * every intermediate product under 2^61 (no 64-bit overflow in any
    * engine).
    */
  val MinhashP: Long = (1L << 31) - 1

  /** Affine-family coefficients for hash function i: multiplier in
    * [1, p-2] (never 0 mod p), offset in [0, p-1], from fixed mixing
    * constants.
    */
  def minhashCoeffs(i: Int): (Long, Long) =
    ((2654435761L * (i + 1)) % (MinhashP - 2) + 1, (40503L * (i + 7)) % MinhashP)

  /** MinHash signatures over a pre-hashed shingle array: base hash =
    * md5-derived 60-bit long per shingle (ONE md5 per shingle), then
    * hash function i is the affine mix `(a_i * (h % p) + b_i) % p` —
    * the standard universal family, reproducible in any engine with
    * 64-bit integer arithmetic. Returns columns `sig0..sig{n-1}`.
    */
  def minhashSignature(hashedShingles: Column, numHashes: Int): Seq[(String, Column)] =
    (0 until numHashes).map { i =>
      val (a, b) = minhashCoeffs(i)
      s"sig$i" -> array_min(transform(hashedShingles,
        h => (h % MinhashP * a + b) % MinhashP))
    }

  /** LSH band buckets: signature rows are cut into `bands` bands of
    * `rowsPerBand` values; each band hashes to a bucket id. Returns an
    * array<struct<band:int,bucket:string>> for exploding. `mode` picks
    * the bucket-id hash engine (values differ, banding structure
    * doesn't).
    */
  def lshBuckets(bands: Int, rowsPerBand: Int,
                 mode: HashMode = HashMode.OracleMd5): Column =
    array((0 until bands).map { b =>
      val sigCols = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      val key = concat_ws(",", sigCols: _*)
      val bucket = mode match {
        case HashMode.OracleMd5 => md5(key.cast("binary"))
        case HashMode.EngineXx => lower(hex(xxhash64(key)))
      }
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)

  /** Candidate pairs from LSH: ids sharing any (band, bucket). The join
    * is an equi-join on the bucket key — the LSH scale path — with the
    * same DETERMINISTIC bounded bucket fan-in as the embedding variant
    * ([[Similarity.lshMembership]]): at most `maxBucket` members per
    * (band, bucket), kept by ascending id, so a degenerate bucket (the
    * empty-document bucket, a boilerplate-heavy corpus) costs at most
    * maxBucket² instead of n². The cap window prunes map-side via
    * WindowGroupLimit; oracle twins replicate the identical rn cap.
    *
    * Capping is OPT-IN (default = no cap): members past the cap never
    * form candidate pairs — a deliberate recall trade a caller must
    * choose (and mirror in any oracle twin), never a silent default.
    */
  def lshCandidatePairs(withBuckets: DataFrame, idCol: String,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val exploded = withBuckets
      .select(col(idCol), explode(col("buckets")).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy(col(idCol))
    val capped =
      if (maxBucket == Int.MaxValue) exploded
      else exploded
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxBucket).drop("__rn")
    capped.as("x")
      .join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** The full MinHash→LSH→verify near-dup pipeline over ANY pre-hashed
    * shingle column — word k-grams ([[hashedWordShingles]]), byte chunk
    * shingles ([[Multimodal.byteChunkHashes]]), anything producing a
    * 60-bit hash set: affine-family signatures → banded buckets →
    * candidate equi-join (bounded fan-in, see [[lshCandidatePairs]]) →
    * exact Jaccard verify over the shingle sets, emitting
    * (a, b, jaccard) for pairs at/above `minJaccard`.
    *
    * The shingle arrays and the bucketed signatures are checked out
    * ([[graft.Pipeline.withCheckouts]]): the LSH self-join and the
    * Jaccard verify both reuse them, and without a materialization
    * barrier CollapseProject would inline the whole shingle pipeline
    * into EVERY downstream expression (observed 10x at sf0.1).
    */
  def lshNearDupPairs(shingled: DataFrame, idCol: String, shCol: String,
                      numHashes: Int, bands: Int, rowsPerBand: Int,
                      minJaccard: Double, maxBucket: Int = Int.MaxValue,
                      mode: HashMode = HashMode.OracleMd5): DataFrame = {
    require(numHashes == bands * rowsPerBand,
      s"numHashes ($numHashes) must equal bands*rowsPerBand (${bands * rowsPerBand})")
    val base = shingled.select(col(idCol), col(shCol).as("sh"))
      .localCheckpoint(eager = true)
    val withSig = minhashSignature(col("sh"), numHashes)
      .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
    val withBuckets = withSig
      .withColumn("buckets", lshBuckets(bands, rowsPerBand, mode))
      .drop((0 until numHashes).map(i => s"sig$i"): _*)
      .localCheckpoint(eager = true)
    lshCandidatePairs(withBuckets, idCol, maxBucket)
      .join(base.select(col(idCol).as("a"), col("sh").as("sa")), "a")
      .join(base.select(col(idCol).as("b"), col("sh").as("sb")), "b")
      .select(col("a"), col("b"),
        round(jaccard(col("sa"), col("sb")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** MinHash signature as ONE array<long> column — the storage form of
    * [[minhashSignature]] (identical affine family, identical values;
    * element i = sig{i}). An array column is what a persisted
    * fingerprint registry stores per document, and what the
    * signature-agreement estimator zips over.
    */
  def minhashSignatureArray(hashedShingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      val (a, b) = minhashCoeffs(i)
      array_min(transform(hashedShingles,
        h => (h % MinhashP * a + b) % MinhashP))
    }: _*)

  /** [[lshBuckets]] over the array-form signature (element_at is
    * 1-based): same band cut, same bucket hash, so registry rows built
    * from the array form land in the same buckets as the columnar
    * pipeline.
    */
  def lshBucketsFromSig(sig: Column, bands: Int, rowsPerBand: Int,
                        mode: HashMode = HashMode.OracleMd5): Column =
    array((0 until bands).map { b =>
      val key = concat_ws(",", (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*)
      val bucket = mode match {
        case HashMode.OracleMd5 => md5(key.cast("binary"))
        case HashMode.EngineXx => lower(hex(xxhash64(key)))
      }
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)

  /** Per-document fingerprint rows — (id, text_md5, sig, buckets) —
    * the PERSISTED DEDUP REGISTRY of a corpus: the exact-dup digest,
    * the MinHash signature (array form, ~numHashes·8 bytes), and the
    * LSH band buckets. This is what an incremental ingestion pipeline
    * stores per 100 TB corpus document INSTEAD of the document text:
    * new batches dedup against these fixed-width rows
    * ([[incrementalDedup]]) without ever re-reading corpus text.
    * One projection chain per document; the shingle array is staged in
    * its own Project so the numHashes array_min transforms share one
    * hashing pass (CollapseProject keeps non-cheap multi-referenced
    * expressions staged).
    */
  def fingerprintRegistry(df: DataFrame, textCol: String, idCol: String,
                          k: Int, numHashes: Int, bands: Int,
                          rowsPerBand: Int,
                          mode: HashMode = HashMode.OracleMd5): DataFrame = {
    require(numHashes == bands * rowsPerBand,
      s"numHashes ($numHashes) must equal bands*rowsPerBand (${bands * rowsPerBand})")
    df.select(col(idCol),
        TextStats.textDigest(col(textCol), mode).as("text_md5"),
        hashedWordShingles(textCol, k, mode).as("__sh"))
      .select(col(idCol), col("text_md5"),
        minhashSignatureArray(col("__sh"), numHashes).as("sig"))
      .withColumn("buckets", lshBucketsFromSig(col("sig"), bands, rowsPerBand, mode))
  }

  /** Incremental dedup: verdict a NEW BATCH of documents against a
    * persisted corpus [[fingerprintRegistry]] without touching corpus
    * text — the ingestion shape at 100 TB, where re-deduping the whole
    * corpus per arriving batch is the cost an index exists to avoid.
    * Both inputs are fingerprint frames (id, text_md5, sig, buckets).
    *
    * Per batch doc: `verdict` ∈ exact | near | unique, `dup_of` = the
    * surviving registry id (min id on exact-digest match, else the
    * best near match), `est_jaccard` = the MinHash signature-agreement
    * estimate of the best near candidate (fraction of agreeing
    * signature components — the standard estimator; the registry
    * stores signatures, not shingle sets, so verification is O(H) per
    * candidate instead of a shingle-array fetch). Near matches must
    * estimate ≥ `tau`; best = max estimate, then min registry id.
    *
    * Scale shape — the registry (corpus-sized) is never shuffled:
    *  - exact: registry scan filtered MAP-SIDE by the broadcast batch
    *    digest set; only matching rows reach the min-id aggregate.
    *  - near: registry bucket explosion filtered map-side by the
    *    broadcast batch (band, bucket) set (with the
    *    [[lshCandidatePairs]] `maxBucket` fan-in discipline on the
    *    registry side, ascending id); candidate count ∝ batch size.
    *  - the estimate join touches |candidates| registry signature
    *    rows, the final assembly only batch rows.
    *
    * Scope: by default the verdict is REGISTRY-ONLY — two identical
    * docs arriving in the same batch, both absent from the registry,
    * each come out 'unique' (each is novel w.r.t. the corpus; the
    * caller's registry append + next batch closes the window).
    * `intraBatch = true` closes it in-line: a batch-local exact pass
    * (min new_id per digest, the [[exactDedup]] rule) marks later
    * same-digest batch docs 'exact' with `dup_of` = the batch
    * survivor. Registry matches take precedence (corpus ids are
    * canonical). The pass is one batch-sized broadcast aggregate —
    * the corpus side is untouched.
    */
  def incrementalDedup(batchFp: DataFrame, registry: DataFrame,
                       idCol: String, numHashes: Int, tau: Double,
                       maxBucket: Int = Int.MaxValue,
                       intraBatch: Boolean = false): DataFrame = {
    // the batch feeds every branch below: checked out
    // ([[graft.Pipeline.withCheckouts]])
    val bfp = batchFp.select(col(idCol).as("new_id"), col("text_md5"),
      col("sig"), col("buckets")).localCheckpoint(eager = true)
    // exact: broadcast the batch digest set against the registry scan
    val exact = registry
      .join(broadcast(bfp.select("text_md5").distinct()), Seq("text_md5"))
      .groupBy("text_md5").agg(min(col(idCol)).as("exact_of"))
    // near candidates: registry bucket rows (fan-in capped by ascending
    // id) filtered by the broadcast batch bucket set
    val regBuckets = {
      val exploded = registry
        .select(col(idCol).as("reg_id"), explode(col("buckets")).as("bb"))
        .select(col("reg_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      if (maxBucket == Int.MaxValue) exploded
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket").orderBy(col("reg_id"))
        exploded.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      }
    }
    val batchBuckets = bfp
      .select(col("new_id"), explode(col("buckets")).as("bb"))
      .select(col("new_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = regBuckets.join(broadcast(batchBuckets), Seq("band", "bucket"))
      .select("new_id", "reg_id").distinct()
    // signature-agreement estimate over the candidate pairs only
    val est = cand
      .join(registry.select(col(idCol).as("reg_id"), col("sig").as("rsig")), "reg_id")
      .join(broadcast(bfp.select(col("new_id"), col("sig").as("nsig"))), "new_id")
      .select(col("new_id"), col("reg_id"),
        round(aggregate(
            zip_with(col("nsig"), col("rsig"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / numHashes, 6)
          .as("est_jaccard"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id")
      .orderBy(col("est_jaccard").desc, col("reg_id"))
    val bestNear = est.filter(col("est_jaccard") >= tau)
      .withColumn("__rn", row_number().over(wBest))
      .filter(col("__rn") === 1)
      .select(col("new_id"), col("reg_id").as("near_of"), col("est_jaccard"))
    // batch-local exact survivors (only earlier same-digest batch ids
    // count as a duplicate target — the min-id keep rule)
    val base = bfp.select("new_id", "text_md5")
      .join(broadcast(exact), Seq("text_md5"), "left")
      .join(broadcast(bestNear), Seq("new_id"), "left")
    val withBatch =
      if (intraBatch)
        base.join(
            broadcast(bfp.groupBy("text_md5")
              .agg(min(col("new_id")).as("batch_of"))),
            Seq("text_md5"), "left")
          .withColumn("batch_of",
            when(col("batch_of") < col("new_id"), col("batch_of")))
      else base.withColumn("batch_of",
        lit(null).cast(bfp.schema("new_id").dataType))
    withBatch
      .select(col("new_id"),
        when(col("exact_of").isNotNull || col("batch_of").isNotNull,
            lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("exact_of"), col("batch_of"), col("near_of"))
          .as("dup_of"),
        col("est_jaccard"))
  }

  /** Test-set decontamination: ids of `train` documents sharing at
    * least one word k-gram with ANY document in `evalDocs` — the
    * benchmark-overlap filter every training corpus runs before a model
    * sees the data (the classic formulation drops a train doc on any
    * verbatim 8–13-gram hit; k is the caller's contract).
    *
    * Scale shape: the eval side (benchmarks — thousands of docs, versus
    * a 100 TB train corpus) collapses to a DISTINCT set of 60-bit
    * shingle hashes and BROADCASTS; the train side explodes to
    * (id, shingle-hash) and left-semi joins map-side — the corpus is
    * never shuffled, only the matching ids reach the final distinct.
    * One native-expression hashing pass per side ([[hashedWordShingles]]).
    */
  def contaminatedIds(train: DataFrame, evalDocs: DataFrame,
                      textCol: String, idCol: String, k: Int,
                      mode: HashMode = HashMode.OracleMd5): DataFrame = {
    val evalSh = evalDocs
      .select(explode(hashedWordShingles(textCol, k, mode)).as("__sh"))
      .distinct()
    train
      .select(col(idCol), explode(hashedWordShingles(textCol, k, mode)).as("__sh"))
      .join(broadcast(evalSh), Seq("__sh"), "left_semi")
      .select(idCol)
      .distinct()
  }

  /** Bloom-filter decontamination — output-identical to
    * [[contaminatedIds]], built for the regime where even the eval
    * side's distinct shingle set is too large to broadcast raw (a
    * 100M-shingle benchmark union is GBs as a broadcast hash set; as a
    * Bloom filter it is `mBits/8` bytes — 16 MB at the cap — regardless
    * of eval size).
    *
    * Three stages, none of which ever shuffles the train corpus:
    *  1. BUILD (relational, one eval pass): distinct eval shingle
    *     hashes explode to their `numProbes` double-hashed bit
    *     positions ([[graft.functions.BloomAnyExpr]]'s exact
    *     arithmetic, reproduced in column form — spec-pinned), OR-fold
    *     per 64-bit word (`bit_or`), and the ≤ mBits/64 words collect
    *     into a `long[]` — a BOUNDED artifact like a quantizer
    *     codebook, sized from the measured eval cardinality
    *     (~16 bits/key, FP ≈ 0.6% at 7 probes).
    *  2. PREFILTER (map-side, codegen): one scan of the train corpus;
    *     [[graft.functions.BloomAnyExpr.bloomAny]] keeps only docs with
    *     ≥ 1 maybe-hit shingle. No false negatives by construction, so
    *     only false POSITIVES survive to stage 3.
    *  3. CONFIRM (exact): suspect docs' shingles — |suspects| ∝ true
    *     contamination + FP rate, tiny next to the corpus — BROADCAST
    *     against the eval shingle set in an equi-join; the eval set is
    *     the probe side and never moves. Ids with a real shared shingle
    *     come out distinct.
    *
    * The broadcast-set formulation ([[contaminatedIds]]) stays the
    * oracle-shaped baseline; this is its deployment twin when the eval
    * union outgrows a broadcast. `mBitsOverride` pins a tiny filter in
    * specs to force false positives through the confirm stage.
    */
  /** Relational Bloom-filter BUILD: the distinct long hashes in
    * `hashes.hashCol` explode to their double-hashed bit positions
    * ([[graft.functions.BloomAnyExpr]]'s exact arithmetic in column
    * form — spec-pinned by the no-false-negative operator tests),
    * OR-fold per 64-bit word, and collect into a bounded `long[]`
    * (≤ 16 MB at the cap, a quantizer-codebook-sized artifact however
    * large the hash set). Sized at ~16 bits/key from the measured
    * cardinality unless `mBitsOverride` pins it (specs use a tiny
    * filter to force false positives). Returns (bits, mBits).
    */
  def bloomBits(hashes: DataFrame, hashCol: String, numProbes: Int,
                mBitsOverride: Option[Int] = None): (Array[Long], Int) = {
    val mBits = mBitsOverride.getOrElse(bloomSizedBits(hashes.count()))
    (bloomBitsMulti(hashes, hashCol, numProbes, Seq(mBits)).head, mBits)
  }

  /** The production sizing rule shared by [[bloomBits]] and the q134
    * audit: min power of two ≥ 16 bits/key, clamped to [2^14, 2^27].
    */
  def bloomSizedBits(nKeys: Long): Int = {
    val want = 16L * math.max(nKeys, 1L)
    val pow2 = java.lang.Long.highestOneBit(math.max(want - 1, 1L)) << 1
    math.min(math.max(pow2, 1L << 14), 1L << 27).toInt
  }

  /** Build SEVERAL differently-sized filters over the same key set in
    * ONE pass (r19): each key explodes to (filter-index, bit-position)
    * pairs for every requested size, one grouped bit_or builds them
    * all. The q134 calibration audit needs a production-sized and a
    * deliberately-undersized filter over the identical eval shingles —
    * building them separately paid the explode + shuffle + collect
    * twice.
    */
  def bloomBitsMulti(hashes: DataFrame, hashCol: String, numProbes: Int,
                     ms: Seq[Int]): Seq[Array[Long]] = {
    val h = col(hashCol)
    val entries: Seq[Column] = ms.zipWithIndex.flatMap { case (mBits, ai) =>
      val maskL = (mBits - 1).toLong
      val logM = java.lang.Integer.numberOfTrailingZeros(mBits)
      val h1 = h.bitwiseAND(lit(maskL))
      val h2 = shiftrightunsigned(h, logM).bitwiseAND(lit(maskL))
        .bitwiseOR(lit(1L))
      (0 until numProbes).map(i =>
        struct(lit(ai).as("a"),
          ((h1 + lit(i.toLong) * h2).bitwiseAND(lit(maskL))).as("p")))
    }
    val out = ms.map(m => new Array[Long](m / 64))
    // typed collect: Tuple3 keeps the driver rows unboxed-ish and the
    // total stays ≤ Σ mBits/64 words (~32 MB per filter at the 2^27
    // cap) instead of generic Rows with boxed values (~100s of MB)
    import hashes.sparkSession.implicits._
    hashes.select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.a").as("__a"),
        shiftrightunsigned(col("__e.p"), 6).cast("int").as("__w"),
        call_function("shiftleft", lit(1L),
          col("__e.p").bitwiseAND(lit(63L)).cast("int")).as("__m"))
      .groupBy("__a", "__w")
      .agg(call_function("bit_or", col("__m")).as("__bits"))
      .as[(Int, Int, Long)]
      .collect()
      .foreach { case (a, w, m) => out(a)(w) = m }
    out
  }

  def contaminatedIdsBloom(train: DataFrame, evalDocs: DataFrame,
                           textCol: String, idCol: String, k: Int,
                           numProbes: Int = 7,
                           mBitsOverride: Option[Int] = None,
                           mode: HashMode = HashMode.OracleMd5): DataFrame = {
    // the eval shingle set sizes the filter, fills it and confirms the
    // suspects: checked out ([[graft.Pipeline.withCheckouts]])
    val evalSh = evalDocs
      .select(explode(hashedWordShingles(textCol, k, mode)).as("__sh"))
      .distinct()
      .localCheckpoint(eager = true)
    // Bounded driver-side artifact build (the quantizer-learn shape):
    // one count to size the filter, one bit_or aggregation to fill it.
    val (bits, mBits) = bloomBits(evalSh, "__sh", numProbes, mBitsOverride)
    val suspectSh = train
      .select(col(idCol), hashedWordShingles(textCol, k, mode).as("__shs"))
      .filter(graft.functions.BloomAnyExpr.bloomAny(
        col("__shs"), bits, mBits, numProbes))
      .select(col(idCol), explode(col("__shs")).as("__sh"))
    evalSh
      .join(broadcast(suspectSh), Seq("__sh"))
      .select(idCol)
      .distinct()
  }

  /** Multi-width decontamination stats: one row per (train doc, k) with
    * the count of that doc's distinct word k-grams found in the eval
    * corpus's k-gram set, for every width in `ks` — the standard
    * "any verbatim 8–13-gram hit" policy ([[contaminatedIds]] is the
    * single-k drop-list form) with doc-level containment evidence.
    * Only (doc, k) combinations with ≥ 1 hit appear.
    *
    * ONE pass over each corpus for ALL widths: a single projection
    * computes every per-k shingle array (the native expression walks
    * the normalized bytes once per width — no re-scan, no re-read),
    * tags each hash with its k, and one explode feeds one broadcast
    * LEFT-SEMI equi-join on (k, hash). The train corpus is scanned
    * once and never shuffled; the eval side collapses to a broadcast
    * distinct exactly as in [[contaminatedIds]]. Plan-audited
    * (PlanAuditSpec): exactly one scan per corpus regardless of |ks|.
    */
  def contaminationStats(train: DataFrame, evalDocs: DataFrame,
                         textCol: String, idCol: String, ks: Seq[Int],
                         mode: HashMode = HashMode.OracleMd5): DataFrame = {
    require(ks.nonEmpty, "at least one shingle width required")
    def tagged: Column =
      concat(ks.map { k =>
        transform(hashedWordShingles(textCol, k, mode),
          h => struct(lit(k).as("k"), h.as("h")))
      }: _*)
    val evalSh = evalDocs
      .select(explode(tagged).as("__kh"))
      .select(col("__kh.k").as("__k"), col("__kh.h").as("__h"))
      .distinct()
    train
      .select(col(idCol), explode(tagged).as("__kh"))
      .select(col(idCol), col("__kh.k").as("__k"), col("__kh.h").as("__h"))
      .join(broadcast(evalSh), Seq("__k", "__h"), "left_semi")
      .groupBy(col(idCol), col("__k").as("k"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-corpus segment-level dedup stats ("boilerplate removal"):
    * split each document into segments on `sep` (paragraphs, lines),
    * digest each segment, and report per document how many of its
    * segments occur in ≥ `minDocs` DISTINCT documents — the shared
    * header/footer/navigation mass a web corpus strips before training.
    *
    * Output: (id, n_segments, n_boilerplate, boilerplate_ratio).
    *
    * Scale shape: the segment TEXT never shuffles — each segment is
    * digested map-side and dropped, so both the frequency aggregation
    * and the join back move only (id, digest) pairs. The digest
    * frequency table is unbounded (distinct segments in the corpus), so
    * the join back is a digest-keyed equi-join, not a broadcast.
    *
    * `sep` is a LITERAL separator (quoted before reaching Spark's
    * regex-based `split`), matching the "split on sep: paragraphs,
    * lines" contract and any literal-split oracle twin — a caller
    * passing "." or "|" gets literal dots/pipes, not regex wildcards.
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       sep: String, minDocs: Int,
                       mode: HashMode = HashMode.OracleMd5): DataFrame = {
    val segs = df
      .select(col(idCol),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as("__seg"))
      .filter(length(trim(col("__seg"))) > 0)
      .select(col(idCol),
        TextStats.textDigest(col("__seg"), mode).as("__dig"))
    val freq = segs.groupBy("__dig")
      .agg(count_distinct(col(idCol)).as("__ndocs"))
    segs.join(freq, "__dig")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__ndocs") >= minDocs, 1L).otherwise(0L))
          .as("n_boilerplate"))
      .withColumn("boilerplate_ratio",
        round(col("n_boilerplate").cast("double") /
          col("n_segments").cast("double"), 6))
  }

  /** Jaccard similarity of two shingle-set columns. */
  def jaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")

  /** SimHash over token hashes: bit j of the result is 1 iff at least
    * half the (distinct-occurrence) tokens have bit j set in their
    * 60-bit hash. `bits` ≤ 32 keeps the result in int range for easy
    * cross-engine compare.
    */
  def simhash(textCol: String, bits: Int): Column =
    simhashFromHashes(TextStats.tokenHashes(col(textCol)), bits)

  /** SimHash voting over a PRE-COMPUTED token-hash array column — the
    * native one-pass [[graft.functions.SimHashExpr]] (bit j set iff at
    * least half the hashes have it set; empty input pins to 0). The
    * composed per-bit `filter()` formulation scanned the array once per
    * bit; its semantics are pinned by the SimHashExpr spec.
    */
  def simhashFromHashes(hashes: Column, bits: Int): Column =
    // null hash array (null text) pins to 0 like the empty doc — an
    // INTENTIONAL change from the earlier composed formulation, whose
    // when/otherwise chain propagated null for null input: a signature
    // column should be total so downstream grouping/banding never has
    // to special-case null (null and empty text are the same "no
    // content" class for dedup purposes)
    coalesce(graft.functions.SimHashExpr.simhash(hashes, bits), lit(0L))

  /** Duplicate-CLUSTER canonicalization: connected components over the
    * undirected near-dup pair graph via `rounds` of min-label
    * propagation — the step that turns pairwise near-dups (q23/q28
    * output) into "keep exactly one document per duplicate cluster".
    *
    * Each round: every node takes the minimum label among itself and
    * its neighbors — `rounds` = R reaches labels R hops away, so R ≥
    * graph diameter converges (near-dup clusters are shallow; R=3
    * covers chains of 8). The round count is FIXED, not
    * convergence-detected, so any engine running the same R computes
    * the identical labeling — the oracle unrolls the same R rounds as
    * CTEs.
    *
    * Scale: each round is one equi-join (edges ⋈ labels on node id) +
    * one min-aggregation — all shuffles on node ids, label payload is
    * one long. This is label propagation à la large-star/small-star,
    * bounded-round instead of loop-until-fixpoint (a driver-side
    * convergence loop needs an action per round; at known-shallow
    * diameter the fixed unroll is cheaper and deterministic).
    *
    * @param edges (aCol, bCol) undirected pair rows
    * @return (id, cluster, keep) per node appearing in any edge;
    *         cluster = min id reachable in `rounds` hops, keep = this
    *         node is the cluster's canonical representative
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          rounds: Int = 3): DataFrame = {
    // the final lineage references the edge list once per round (plus
    // the node seed) — without a barrier, an expensive upstream (LSH
    // candidate generation) re-executes ~2×rounds times. The edge list
    // itself is tiny (two longs per pair). It is persisted, not checked
    // out — the one exception to [[graft.Pipeline.withCheckouts]]: a
    // checkpoint's scan drops the partitioning every round rides.
    // dst-partitioned (r19, the Graph.scala discipline): every round
    // joins und on dst, so one up-front repartition lets all `rounds`
    // joins ride the cached partitioning — the edge list never moves
    // again (before: an SMJ re-shuffled the |E|-row cache every round
    // whenever the label side outgrew AQE's broadcast rewrite). The
    // seed distinct pays its src exchange once, exactly as before.
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst"))
      .cache()
    // Every round references the previous labels TWICE (the keep-own-label
    // side of the union and the neighbor join), so an unpersisted chain
    // embeds two copies of round r-1's subtree in round r's plan — the
    // seed distinct and each intermediate join/agg re-execute up to 2^R
    // times, and even a persist() leaves a plan TREE that doubles per
    // round (the analyzer and the plan string walk both references).
    // localCheckpoint (eager) cuts the lineage to a flat scan of the
    // materialized round, so both execution cost and plan size are
    // linear in `rounds`. The label payload is two longs per node, so a
    // round's footprint is tiny at any scale. Cluster caveat:
    // localCheckpoint stores on executors (an executor loss aborts the
    // job — acceptable for a seconds-per-round iteration); a deployment
    // wanting fault tolerance swaps in reliable checkpoint() with a
    // checkpoint dir, same linearity.
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val fromNbr = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("cluster"))
      labels = labels.unionByName(fromNbr)
        .groupBy("id").agg(min("cluster").as("cluster"))
        .localCheckpoint()
    }
    // the final round is resident, so the returned plan no longer
    // reaches the edge list
    und.unpersist()
    labels.withColumn("keep", col("id") === col("cluster"))
  }

  /** Exact-substring overlap statistics (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * primitive): for every document pair sharing at least one word
    * k-gram, the length in TOKENS of their LONGEST verbatim common run
    * — where the k-gram tier (q25/q55) detects that documents overlap,
    * this measures HOW MUCH, the signal exact-substring dedup cuts on.
    * Emits (a, b, longest_run) for pairs at/above `minRun` tokens.
    *
    * Algorithm — positional gram hashes + diagonal islands, all
    * relational (no suffix array, no per-pair alignment loop):
    *   1. each doc → ORDERED k-gram hash array (one zero-allocation
    *      [[graft.functions.WordShingleHashExpr]] pass, distinct=false
    *      so position i = gram starting at token i), posexploded to
    *      (id, i, h);
    *   2. equi-join on h across documents (a < b) → matched positions
    *      (i, j); a shared verbatim run of m grams lies on one DIAGONAL
    *      d = j − i as m consecutive i values;
    *   3. gaps-and-islands per (a, b, d): grp = i − row_number() over i
    *      — consecutive i's share a grp — then count per island;
    *      longest run in tokens = max island size + k − 1.
    *
    * Scale shape: the only shuffle is the gram-hash equi-join (the
    * exact-substring analogue of the LSH bucket join) plus one window
    * over (pair, diagonal) partitions — both keyed, never all-pairs.
    * Skew lives in high-document-frequency grams (boilerplate): the
    * opt-in `maxDf` cap drops grams appearing in more than `maxDf`
    * documents before the join (the standard df-prune; a dropped gram
    * can only split a run through a region every one of >maxDf docs
    * shares — callers choose the recall trade, mirrored in any oracle
    * twin, same contract as [[lshCandidatePairs]]'s maxBucket).
    */
  def longestCommonRuns(df: DataFrame, textCol: String, idCol: String,
                        k: Int, minRun: Int,
                        maxDf: Int = Int.MaxValue,
                        mode: HashMode = HashMode.OracleMd5): DataFrame = {
    require(minRun >= k, s"minRun ($minRun) must be >= k ($k)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "d").orderBy("i")
    matchedDiagonals(df, textCol, idCol, k, maxDf, mode)
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy("a", "b", "d", "grp")
      .agg((count(lit(1)) + (k - 1)).as("run"))
      .groupBy("a", "b")
      .agg(max("run").as("longest_run"))
      .filter(col("longest_run") >= minRun)
  }

  /** The shared positional-gram match frame behind [[longestCommonRuns]]
    * and [[cutCommonRuns]]: (a, b, d, i) rows with a < b, diagonal
    * d = pos(b) − pos(a), i = 0-based gram start in a.
    */
  private def matchedDiagonals(df: DataFrame, textCol: String, idCol: String,
                               k: Int, maxDf: Int,
                               mode: HashMode): DataFrame = {
    val grams = df
      .select(col(idCol).as("id"),
        posexplode(graft.functions.WordShingleHashExpr.orderedShingles(
          normalize(col(textCol)), k, mode == HashMode.EngineXx))
          .as(Seq("i", "h")))
    val pruned =
      if (maxDf == Int.MaxValue) grams
      else {
        val hot = grams.select("h", "id").distinct()
          .groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf)
          .select("h")
        grams.join(broadcast(hot), Seq("h"), "left_anti")
      }
    pruned.as("x").join(pruned.as("y"), "h")
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (col("y.i") - col("x.i")).as("d"), col("x.i").as("i"))
  }

  /** Exact-substring dedup ACTION (the cut step of Lee et al. 2022's
    * pipeline, where [[longestCommonRuns]] is the measurement): every
    * verbatim common run of at least `minRun` tokens is REMOVED from
    * the HIGHER-id document of each pair (the lower id keeps its copy —
    * the deterministic keep-one policy; a span shared by three docs
    * survives only in the lowest). Overlapping spans from different
    * partners union before the cut, so no token is double-counted.
    *
    * Token-index surgery, relational all the way:
    *   1. the [[matchedDiagonals]] islands yield cut SPANS in b's
    *      1-based token coordinates [i0+d+1, i0+d+cnt+k−1];
    *   2. spans explode to (id, tpos) cut positions, `distinct`
    *      (the union of overlapping spans);
    *   3. the normalized token frame anti-joins the cut positions and
    *      reassembles per doc in token order.
    * Both shuffles ((id, tpos) anti-join, per-id rebuild) are keyed by
    * document — corpus-scale but bounded and skew-free; nothing is
    * ever all-pairs.
    *
    * Emits one row per input doc: (id, n_removed, clean_md5) — the md5
    * of the cleaned NORMALIZED text (docs with nothing cut hash their
    * normalized text unchanged; a fully-cut doc hashes "").
    */
  def cutCommonRuns(df: DataFrame, textCol: String, idCol: String,
                    k: Int, minRun: Int,
                    maxDf: Int = Int.MaxValue,
                    mode: HashMode = HashMode.OracleMd5): DataFrame = {
    require(minRun >= k, s"minRun ($minRun) must be >= k ($k)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "d").orderBy("i")
    val spans = matchedDiagonals(df, textCol, idCol, k, maxDf, mode)
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy("a", "b", "d", "grp")
      .agg(min("i").as("i0"), count(lit(1)).as("cnt"))
      .filter(col("cnt") + lit(k - 1) >= minRun)
      .select(col("b").as("id"),
        (col("i0") + col("d") + 1).cast("long").as("s"),
        (col("i0") + col("d") + col("cnt") + lit(k - 1)).cast("long").as("e"))
    val cut = spans
      .select(col("id"), explode(sequence(col("s"), col("e"))).as("tpos"))
      .distinct()
    val toks = df
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("p", "tok")))
      .select(col("id"), (col("p") + 1).cast("long").as("tpos"), col("tok"))
    val rebuilt = toks.join(cut, Seq("id", "tpos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("tpos"), col("tok")))),
            x => x.getField("tok")), " ").as("__clean"),
        count(lit(1)).as("__n_kept"))
    df.select(col(idCol).as("id"),
        size(TextStats.tokens(col(textCol))).cast("long").as("__n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        (col("__n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("__clean"), lit(""))).as("clean_md5"))
  }
}
