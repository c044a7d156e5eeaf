package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline tier
  * (extension surface beyond the reference, SURVEY.md §7.2 M8): token
  * counting, quality scoring, language identification, and document
  * fingerprinting over the `documents` table.
  *
  * Spark-first design notes (100 TB scale):
  *  - every operator here is a narrow per-row projection built from
  *    codegen'd built-ins (`split`, `regexp_count`, `transform`,
  *    `aggregate`) — NO Scala UDFs, so the whole stage stays inside
  *    WholeStageCodegen and columnar parquet scans prune to the single
  *    `text` column.
  *  - downstream rollups (`groupBy(lang)` etc.) are standard partial+final
  *    hash aggregations; nothing here forces a shuffle by itself.
  *  - hash parity: hashes are derived from `md5` hex (first 15 nibbles →
  *    60-bit non-negative long) so an external engine (the DuckDB oracle)
  *    can reproduce them bit-for-bit; `xxhash64`/`hash` would be faster
  *    but engine-private. At true 100 TB scale swap `fingerprintHash` for
  *    `xxhash64` (documented deviation, no oracle).
  */
object TextStats {

  /** Hash engine for the dedup/fingerprint tier.
    *
    *  - [[HashMode.OracleMd5]] — md5-derived, bit-for-bit reproducible in
    *    any engine with md5 (DuckDB included): the correctness-gate mode,
    *    and the default so oracle-checked queries stay oracle-checked.
    *  - [[HashMode.EngineXx]] — xxhash64-derived: engine-private but far
    *    cheaper (one 64-bit mix vs a full md5 block per value) — the
    *    deployment mode at true scale.
    *
    * Both produce non-negative 60-bit longs, so every downstream stage
    * (affine MinHash family mod 2^31-1, band buckets, Jaccard over hash
    * sets, simhash bit votes) is mode-blind: swapping the mode changes
    * hash VALUES but preserves dedup STRUCTURE (see EngineHashSpec).
    */
  sealed trait HashMode
  object HashMode {
    case object OracleMd5 extends HashMode
    case object EngineXx extends HashMode
  }

  /** Whitespace-normalized lowercase form: the canonical text every other
    * operator keys on. trim + lower + collapse runs of whitespace.
    */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** SQL twin of [[normalize]] over expression `e` — the ONE rendering
    * every oracle query embeds (previously copied per query file, where
    * a normalization change could silently drift one oracle).
    */
  def normalizeSql(e: String): String =
    s"regexp_replace(trim(lower($e)), '\\s+', ' ', 'g')"

  /** Whitespace tokens of the normalized form. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** Ordered token-hash multiset (duplicates kept) — the native
    * one-pass form of `transform(tokens(text), t => hash60(t, mode))`,
    * the simhash voting input.
    */
  def tokenHashes(text: Column, mode: HashMode = HashMode.OracleMd5): Column =
    graft.functions.WordShingleHashExpr.tokenHashes(
      normalize(text), mode == HashMode.EngineXx)

  /** BPE-ish sub-token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (the common
    * pre-tokenizer split used before byte-pair merging).
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(normalize(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Within-document repetition signal (the Gopher-rules family): the
    * fraction of a document's word k-grams that are repeats of an
    * earlier k-gram — high values mark looping/boilerplate generation.
    * Emits (n_ngrams, n_distinct_ngrams, rep_ratio); callers should
    * filter documents shorter than k tokens (a short doc degenerates to
    * one truncated gram and a meaningless 0 ratio).
    *
    * Computed on 60-bit gram HASHES, never materialized gram strings:
    * the earlier `transform(sequence…, concat_ws(slice(toks)))` +
    * `array_distinct` formulation allocated a token array, a slice
    * array, and a concatenated string PER GRAM per row (measured ~10×
    * the cost of this whole projection). Here
    * [[graft.functions.WordShingleHashExpr]] walks the normalized
    * bytes once and `n_distinct_ngrams` is the length of its sorted
    * unique-hash output; `n_ngrams` is pure token arithmetic (space
    * count + 1). Distinct-count-by-hash equals distinct-count-by-string
    * up to per-document collisions (~n²·2⁻⁶⁴ — negligible), and the
    * hash VALUES never leave the expression (only the count is
    * emitted), so the cheap engine-private xxhash64 is used even in
    * oracle-checked queries — the oracle counts distinct gram STRINGS
    * and gets the same number. Still a narrow per-row projection: no
    * shuffle, no UDF, memory bounded by the longest single document.
    */
  def repetitionColumns(textCol: String, k: Int): Seq[(String, Column)] =
    repetitionColumnsFromNorm(normalize(col(textCol)), k)

  /** [[repetitionColumns]] over an already-[[normalize]]d column.
    * Callers staging `norm` in its own projection keep CollapseProject
    * from inlining the regex pipeline once per output column (the
    * shingle expression and the token count both consume it; plain
    * deterministic expressions DO get subexpression-eliminated inside
    * one codegen'd projection, so a single un-staged call is correct,
    * just re-normalizes under predicate pushdown of derived filters).
    */
  def repetitionColumnsFromNorm(norm: Column, k: Int): Seq[(String, Column)] = {
    // normalized form is single-spaced, so tokens = spaces + 1 (empty
    // string degenerates to one empty token — same as split semantics)
    val n = regexp_count(norm, lit(" ")) + 1
    val nGrams = greatest(n - (k - 1), lit(1))
    val nDistinct = size(
      graft.functions.WordShingleHashExpr.shingles(norm, k, engineXx = true))
    Seq(
      "n_ngrams" -> nGrams.cast("long"),
      "n_distinct_ngrams" -> nDistinct.cast("long"),
      "rep_ratio" -> round(lit(1.0) -
        nDistinct.cast("double") / nGrams.cast("double"), 6))
  }

  /** 60-bit non-negative hash of a string. Default mode is reproducible
    * in any engine with md5 (first 15 hex nibbles as a base-16 integer —
    * computed natively from the digest bytes by
    * [[graft.functions.Md5Hash60Expr]], bit-identical to
    * `conv(substring(md5(...), 1, 15), 16, 10)` without the hex
    * round-trip); [[HashMode.EngineXx]] swaps in xxhash64 (top 60 bits)
    * for the deployment-scale cost profile.
    */
  def hash60(c: Column, mode: HashMode = HashMode.OracleMd5): Column =
    mode match {
      case HashMode.OracleMd5 => graft.functions.Md5Hash60Expr.hash60(c)
      case HashMode.EngineXx => shiftrightunsigned(xxhash64(c), 4)
    }

  /** Full-text digest of the normalized form as a hex string — the
    * exact-dedup grouping key. Same mode split as [[hash60]].
    */
  def textDigest(c: Column, mode: HashMode = HashMode.OracleMd5): Column =
    mode match {
      case HashMode.OracleMd5 => md5(normalize(c).cast("binary"))
      case HashMode.EngineXx => lower(hex(xxhash64(normalize(c))))
    }

  /** Document fingerprint columns: full-text md5 plus min/max shingle
    * hash (a winnowing-style 2-value sketch). SQL-expression based so it
    * stays codegen'd; k is the shingle width in characters.
    */
  def fingerprint(textCol: String, k: Int = 8,
                  mode: HashMode = HashMode.OracleMd5): Seq[(String, Column)] = {
    val hashes = shingleHashExpr(textCol, k, mode = mode)
    Seq(
      // column is named for the default mode; under EngineXx it carries
      // the xxhash64 hex digest in the same slot (structure-compatible)
      "fp_md5" -> textDigest(col(textCol), mode),
      "fp_min" -> array_min(hashes),
      "fp_max" -> array_max(hashes))
  }

  /** Array of 60-bit k-gram shingle hashes as a single expression.
    * Pass `normalized = true` when `textCol` already holds the
    * [[normalize]]d form (normalize is idempotent, so this is purely a
    * re-regex saving — note the un-normalized form is referenced once
    * per shingle, so callers on the hot path should stage `norm`).
    */
  def shingleHashExpr(textCol: String, k: Int,
                      normalized: Boolean = false,
                      mode: HashMode = HashMode.OracleMd5): Column = {
    val norm = if (normalized) col(textCol) else normalize(col(textCol))
    // native one-pass char-window hashing (identical ordered multiset to
    // `transform(sequence(...), i -> hash60(substr(norm, i, k), mode))` —
    // spec-verified); one UTF-8 offset walk, zero per-shingle allocation
    graft.functions.CharShingleHashExpr.shingles(
      norm, k, mode == HashMode.EngineXx)
  }

  /** English-ish stopword list used by quality scoring. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "or", "be", "this", "that", "are")

  /** Count of tokens that appear in `lexicon`. */
  def lexiconHits(toks: Column, lexicon: Seq[String]): Column = {
    val lexArr = array(lexicon.map(lit): _*)
    size(filter(toks, t => array_contains(lexArr, t)))
  }

  /** Quality-score component columns over the raw text:
    * length, token count, mean token length, punctuation ratio, stopword
    * ratio, and a [0,1] composite. All plain arithmetic — reproducible
    * in the oracle.
    */
  def qualityColumns(textCol: String): Seq[(String, Column)] = {
    val norm = normalize(col(textCol))
    val toks = tokens(col(textCol))
    val nChars = length(norm).cast("double")
    val nToks = size(toks).cast("double")
    val punct = regexp_count(norm, lit("[^a-z0-9 ]")).cast("double")
    val stops = lexiconHits(toks, stopwords).cast("double")
    val meanTokLen = round((nChars - (nToks - 1)) / nToks, 6)
    val punctRatio = round(punct / nChars, 6)
    val stopRatio = round(stops / nToks, 6)
    // Composite: reward stopword presence + moderate token length,
    // penalize punctuation soup; clamp to [0,1].
    val score = round(
      least(lit(1.0), greatest(lit(0.0),
        lit(0.5) * least(stopRatio * lit(4.0), lit(1.0))
          + lit(0.5) * least(nToks / lit(50.0), lit(1.0))
          - punctRatio)), 6)
    Seq(
      "n_chars_norm" -> nChars.cast("long"),
      "n_tokens" -> nToks.cast("long"),
      "mean_token_len" -> meanTokLen,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      "quality" -> score)
  }

  /** Unigram log-probability quality score — the cheap stand-in for the
    * KenLM/CCNet perplexity filter: vocabulary = the corpus's `vocabSize`
    * most frequent tokens (ties broken by token, so the cutoff is
    * deterministic in any engine), per-token score =
    * `log10((c + 1) / (N + vocabSize + 1))` with out-of-vocabulary
    * tokens taking the smoothed floor (c = 0), per-document score = the
    * mean over its tokens. More negative = less natural relative to the
    * corpus. Cross-engine exactness: each per-token log is rounded to an
    * INTEGER count of millionths, the per-doc total is a LONG sum
    * (order-independent — a double `avg()` summed in partition order
    * diverged from the oracle in the 6th decimal at sf0.1), and the
    * single final division is one correctly-rounded double op.
    *
    * Scale shape: one token-frequency aggregation (shuffles (token,
    * count) pairs, partial-agg'd map-side), a TakeOrdered top-V, then
    * the corpus re-scores via a BROADCAST left join on the tiny vocab
    * and one per-doc mean — the corpus text never shuffles; only
    * (id, token-log) pairs move into the final aggregation. The
    * exploded (id, token) frame is CHECKED OUT for its two consumers
    * (the vocabulary count and the re-score —
    * [[graft.Pipeline.withCheckouts]]), so the corpus is tokenized ONCE:
    * at 100 TB the tokenizing projection is the single most expensive
    * per-row pass, and the lazy plan ran it twice.
    *
    * Emits (idCol, n_tokens, avg_logp); zero-token docs are excluded
    * (no tokens to average).
    */
  def unigramLogProbScores(df: DataFrame, idCol: String, textCol: String,
                           vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    // split-of-empty yields one EMPTY token: dropping it both excludes
    // empty/whitespace-only docs (no rows -> no output group, honoring
    // the zero-token contract) and keeps "" out of the vocabulary
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .localCheckpoint(eager = true)
    val counts = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum("__c").as("__n"))
    val vocab = counts
      .orderBy(col("__c").desc, col("__tok").asc)
      .limit(vocabSize)
    toks
      .join(broadcast(vocab), Seq("__tok"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(log10((coalesce(col("__c"), lit(0L)) + 1.0) /
          (col("__n") + vocabSize + 1.0)) * 1000000.0).cast("long")
          .as("__lp_micro"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("__lp_micro") / (count(lit(1)) * 1000000.0), 6)
          .as("avg_logp"))
  }

  /** Bigram language-model quality score with back-off to the unigram
    * floor — q67's CCNet step-up: where [[unigramLogProbScores]] scores
    * each token in isolation, this scores each token GIVEN its
    * predecessor when the corpus supports it, so coherent word ORDER
    * (not just common words) raises the score:
    *
    *  - position 1, an out-of-table bigram, or a predecessor outside
    *    the unigram vocabulary → the unigram score of the token
    *    (q67's exact formula: `log10((c + 1) / (N + V + 1))`, OOV at
    *    the smoothed floor);
    *  - otherwise → `log10((cb + 1) / (c_prev + V + 1))` — add-one-
    *    smoothed conditional probability of the token given its
    *    predecessor (`cb` = corpus count of the bigram, `c_prev` =
    *    unigram count of the predecessor).
    *
    * Tables are capped deterministically (vocab: top `vocabSize` by
    * count desc / token asc; bigrams: top `bigramSize` by count desc /
    * prev asc / cur asc) and BROADCAST. Same integer-millionth
    * exactness contract as q67: per-position log rounded to a micro
    * integer, LONG sum, one final division.
    *
    * Scale shape: the (id, cur, prev) pair frame is built by ONE
    * zip-with-shifted-self projection (no window function, no
    * self-join — the corpus never shuffles) and CHECKED OUT for its
    * two consumers (count tables and re-score;
    * [[graft.Pipeline.withCheckouts]]).
    * Only (token, count) / (prev, cur, count) pairs shuffle, both
    * partial-agg'd map-side.
    *
    * Emits (idCol, n_tokens, n_bigram_hits, avg_logp_bi); zero-token
    * docs are excluded.
    */
  def bigramLogProbScores(df: DataFrame, idCol: String, textCol: String,
                          vocabSize: Int, bigramSize: Int): DataFrame = {
    require(vocabSize >= 1 && bigramSize >= 1,
      "vocabSize and bigramSize must be >= 1")
    val toksCol = tokens(col(textCol))
    val staged = df
      .select(col(idCol), toksCol.as("__toks"))
      // split-of-empty yields one empty token: drop those docs entirely
      // (the zero-token contract, same as unigramLogProbScores)
      .filter(size(col("__toks")) > 0 &&
        length(element_at(col("__toks"), 1)) > 0)
    val pairs = staged
      .select(col(idCol), explode(zip_with(col("__toks"),
        concat(array(lit(null).cast("string")),
          slice(col("__toks"), lit(1), size(col("__toks")) - 1)),
        (cur, prev) => struct(cur.as("cur"), prev.as("prev")))).as("__p"))
      .select(col(idCol), col("__p.cur").as("__cur"), col("__p.prev").as("__prev"))
      .localCheckpoint(eager = true)
    val uni = pairs.groupBy("__cur").agg(count(lit(1)).as("__c"))
    val total = uni.agg(sum("__c").as("__n"))
    val vocab = uni.orderBy(col("__c").desc, col("__cur").asc).limit(vocabSize)
    val vocabC = vocab.select(col("__cur"), col("__c").as("__ccur"))
    val vocabP = vocab.select(col("__cur").as("__prev"), col("__c").as("__cprev"))
    val bigrams = pairs.filter(col("__prev").isNotNull)
      .groupBy("__prev", "__cur").agg(count(lit(1)).as("__cb"))
      .orderBy(col("__cb").desc, col("__prev").asc, col("__cur").asc)
      .limit(bigramSize)
    val hit = col("__cb").isNotNull && col("__cprev").isNotNull
    val lpBigram =
      log10((col("__cb") + 1.0) / (col("__cprev") + vocabSize + 1.0))
    val lpUnigram =
      log10((coalesce(col("__ccur"), lit(0L)) + 1.0) /
        (col("__n") + vocabSize + 1.0))
    pairs
      .join(broadcast(vocabC), Seq("__cur"), "left")
      .join(broadcast(vocabP), Seq("__prev"), "left")
      .join(broadcast(bigrams), Seq("__prev", "__cur"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(when(hit, lpBigram).otherwise(lpUnigram) * 1000000.0)
          .cast("long").as("__lp_micro"),
        when(hit, 1L).otherwise(0L).as("__hit"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("__hit").as("n_bigram_hits"),
        round(sum("__lp_micro") / (count(lit(1)) * 1000000.0), 6)
          .as("avg_logp_bi"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the standard retrieval scorer (Lucene formulation), and the
    * curation pattern behind seed-similarity filtering: score the
    * corpus against high-quality seed terms, keep the top slice.
    *
    * `score(d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * with `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`.
    *
    * Exactness contract: every input to the per-term double expression
    * is an exact integer (tf, df, dl, N) or the exact ratio avgdl
    * (long sum / long count), and the expression tree is rendered
    * identically in the SQL twin — so per-term scores are bit-equal;
    * they are then rounded to INTEGER millionths and summed as longs
    * (order-independent — the q67 lesson), one final division.
    *
    * Scale shape: one explode filtered to the (tiny) query lexicon —
    * the corpus text never shuffles; only (id, term, tf) rows for
    * MATCHING terms move. df and avgdl are broadcast scalars/rows.
    *
    * Emits (idCol, n_hits, score) for documents matching ≥1 term.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TermScores(df, idCol, textCol, queryTerms, k1, b)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        round(sum("s_micro") / 1000000.0, 6).as("score"))

  /** Per-(document, term) BM25 contributions in integer MICROS over a
    * term LEXICON — the shared single-scan core of [[bm25Scores]] and
    * the multi-query retrieval panel (q117): because each term's
    * contribution is micro-rounded BEFORE any per-query sum, scoring
    * the union lexicon once and summing per query downstream is
    * bit-identical to scoring each query separately — but tokenizes
    * the corpus ONCE instead of once per query. df/idf per term are
    * query-independent (df(t) = #docs containing t), so the lexicon
    * restriction changes which rows exist, never their values.
    * Emits (idCol, term, s_micro) for matching (doc, term) pairs.
    */
  def bm25TermScores(df: DataFrame, idCol: String, textCol: String,
                     lexicon: Seq[String],
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(lexicon.nonEmpty, "lexicon must be non-empty")
    val qArr = array(lexicon.map(lit): _*)
    val docs = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).cast("long").as("__dl"))
    val stats = docs.agg(count(lit(1)).as("__n"),
      (sum("__dl").cast("double") / count(lit(1))).as("__avgdl"))
    val hits = docs
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__t"))
      .filter(array_contains(qArr, col("__t")))
    val tf = hits.groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val sat = (col("__tf") * (k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    tf.join(broadcast(dfreq), "__t")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("__t").as("term"),
        round(idf * sat * 1000000.0).cast("long").as("s_micro"))
  }

  /** Overlapping token-window chunks of a document (the RAG/indexing
    * chunker): windows of `chunkTokens` tokens starting every
    * `chunkTokens − overlap` tokens, the last window truncating at the
    * document end; documents shorter than one window yield one chunk.
    * Returns (chunk_idx, chunk_text, n_chunk_tokens) rows via ONE
    * `explode` — a pure fan-out projection, no shuffle, no UDF. Unlike
    * the dedup tier the chunk TEXT is the deliverable here, so string
    * materialization is inherent, not a hash-tier miss.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    // the last window is the FIRST one reaching the document end — an
    // anchor-based count (`while the anchor is a real token`) emits a
    // final chunk fully contained in the previous one whenever the last
    // anchor lands inside the prior window's coverage (~1/3 of doc
    // lengths at chunk=32/stride=24), pure duplicate content in a RAG
    // index. ceil on doubles: exact for any realistic doc length and
    // the one formulation whose negative-input behavior (short docs)
    // agrees across engines (integer `//` rounds toward -inf in DuckDB
    // but toward 0 in Spark).
    val nChunks = greatest(
      ceil((n - chunkTokens).cast("double") / stride).cast("int") + 1, lit(1))
    df.select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__toks")) - col("chunk_idx") * stride)
          .cast("long").as("n_chunk_tokens"))
  }

  /** Marker lexicons for the rule-based language-ID heuristic. Scores are
    * marker-token hits per language; prediction is the argmax with a
    * fixed tie-break order (en, de, es, fr, zh). CJK detection would add
    * a codepoint-class test; the driver corpus is ASCII so the marker
    * path decides.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "los", "las", "es", "y", "que", "de", "un", "una", "por"),
    "fr" -> Seq("le", "les", "est", "et", "que", "de", "un", "une", "pour", "dans"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"))

  /** Per-language marker-hit score columns (`score_<lang>`). */
  def langScores(textCol: String): Seq[(String, Column)] =
    langScoresFromTokens(tokens(col(textCol)))

  /** All marker scores in ONE native tokenization pass
    * ([[graft.functions.LexiconScoresExpr]]) — the hot-path form of
    * [[langScoresFromTokens]]: one dictionary probe per token instead of
    * one `filter()` array scan per language. Stage the returned array
    * into its own projection, then unpack with [[langScoresFromArray]]
    * (unpacking an un-staged array would inline the scorer once per
    * language — the usual CollapseProject trap).
    */
  def langScoreArray(text: Column): Column =
    graft.functions.LexiconScoresExpr.scores(
      normalize(text), langMarkers.map(_._2))

  /** `score_<lang>` columns from a STAGED [[langScoreArray]] column. */
  def langScoresFromArray(arr: Column): Seq[(String, Column)] =
    langMarkers.zipWithIndex.map { case ((lang, _), i) =>
      s"score_$lang" -> element_at(arr, i + 1)
    }

  /** Marker-hit scores over a PRE-COMPUTED token array column. Stage the
    * tokens into their own projection first: `lexiconHits` is a filter()
    * HOF, outside subexpression elimination — inlining the tokenizer
    * here re-runs the normalize+split pipeline once per language.
    */
  def langScoresFromTokens(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      s"score_$lang" -> lexiconHits(toks, markers).cast("long")
    }

  /** Argmax prediction from already-computed score COLUMNS (cheap
    * attribute references — safe to combine in one projection).
    */
  def langPredictFromScores(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    val firstMax = scores.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, score)) =>
        when(acc.isNotNull, acc).otherwise(when(score === best, lit(lang)))
    }
    when(best === 0, lit("und")).otherwise(firstMax)
  }

  /** Predicted language: argmax of marker scores, ties broken by the
    * declared order of [[langMarkers]]; all-zero scores → "und".
    */
  def langPredict(textCol: String): Column = {
    val toks = tokens(col(textCol))
    val scored = langMarkers.map { case (lang, markers) =>
      lang -> lexiconHits(toks, markers)
    }
    val best = greatest(scored.map(_._2): _*)
    val firstMax = scored.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, score)) =>
        when(acc.isNotNull, acc).otherwise(when(score === best, lit(lang)))
    }
    when(best === 0, lit("und")).otherwise(firstMax)
  }

  /** Per-group Jensen–Shannon divergence between two corpus snapshots'
    * unigram token distributions — the VOCABULARY face of drift
    * monitoring next to `Extents.profileColumnsBy`'s numeric face (JS
    * over KL: symmetric, bounded by ln 2, defined when either snapshot
    * holds tokens the other lacks — the added/removed-vocabulary case a
    * real ingest generation produces). Output per group: old/new token
    * totals, old/new vocabulary sizes, `js_pico` (the divergence in
    * exact integer picos) and `js_div` (rounded to 6). A group present
    * in only ONE snapshot (a dropped or newly-arrived source) still
    * surfaces, at the one-KL-term extension value ½·ln 2 — the empty
    * side is the zero measure, so only the surviving side's
    * KL(·‖mid) term exists; disjoint-vocabulary groups with BOTH
    * sides populated measure the full ln 2.
    *
    * Float discipline (the BM25 pattern): each token's JS contribution
    * is rounded to integer picos BEFORE the per-group sum, so the sum
    * is exact integer arithmetic — order-independent and cross-engine
    * stable; `js_pico` itself is hash-checkable, not just a rounded
    * projection. Each snapshot tokenizes once into a (group, token)
    * count frame that checkpoints (vocab×groups rows — the bounded
    * summary) so neither corpus re-scans per consumer; the full-outer
    * vocab join and the per-group totals window both run at summary
    * size. At the regime where even the vocabulary is too large to
    * shuffle, the CM sketch ([[graft.functions.CountMinSketchAgg]]) is
    * the fixed-memory stand-in for these exact distributions.
    */
  def tokenJsShift(oldSnap: DataFrame, newSnap: DataFrame,
                   groupCol: String, textCol: String): DataFrame =
    tokenJsShiftFromCounts(
      tokenCounts(oldSnap, groupCol, textCol).localCheckpoint(),
      tokenCounts(newSnap, groupCol, textCol).localCheckpoint(), groupCol)

  /** [[tokenJsShift]] served from PRE-TOKENIZED (group, tok, cnt)
    * count frames — the drift family's shared-artifact face: a corpus
    * snapshot tokenizes ONCE into this summary (vocab×groups rows) and
    * every drift consumer (rollup, movers, CM cells) reads the frame,
    * not the text. At 100 TB the count frame is the artifact a
    * deployment persists next to each snapshot at ingest.
    */
  def tokenJsShiftFromCounts(oldCounts: DataFrame, newCounts: DataFrame,
                             groupCol: String): DataFrame =
    jsContribFromCounts(oldCounts, newCounts, groupCol)
      .groupBy(groupCol, "n_tok_old", "n_tok_new",
        "n_vocab_old", "n_vocab_new")
      .agg(sum("pico").as("js_pico"))
      .withColumn("js_div", round(col("js_pico") / 1e12, 6))

  /** The canonical (group, tok, cnt) unigram count frame of a snapshot
    * — whitespace split, empty tokens dropped; ONE definition so every
    * face of the drift family provably tokenizes identically.
    */
  def tokenCounts(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol), explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(groupCol, "tok").agg(count(lit(1)).as("cnt"))

  /** The drift DRILL-DOWN next to [[tokenJsShift]]'s rollup: the top-k
    * tokens driving each group's divergence (largest per-token JS
    * contribution, token tie-break), with their old/new counts. The
    * answer to the question a drift alert raises — WHAT changed, not
    * just how much. Same contribution frame as the rollup, so a
    * mover's `pico` sums back into the group's `js_pico` exactly; the
    * per-group top-k is a rank window the optimizer group-limits (map
    * tasks forward ≤ k rows per group).
    */
  def tokenJsMovers(oldSnap: DataFrame, newSnap: DataFrame,
                    groupCol: String, textCol: String, k: Int): DataFrame =
    tokenJsMoversFromCounts(
      tokenCounts(oldSnap, groupCol, textCol).localCheckpoint(),
      tokenCounts(newSnap, groupCol, textCol).localCheckpoint(), groupCol, k)

  /** [[tokenJsMovers]] from pre-tokenized count frames — see
    * [[tokenJsShiftFromCounts]].
    */
  def tokenJsMoversFromCounts(oldCounts: DataFrame, newCounts: DataFrame,
                              groupCol: String, k: Int): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("pico").desc, col("tok"))
    jsContribFromCounts(oldCounts, newCounts, groupCol)
      .select(col(groupCol), col("tok"),
        coalesce(col("co"), lit(0L)).as("cnt_old"),
        coalesce(col("cn"), lit(0L)).as("cnt_new"), col("pico"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** Shared core of [[tokenJsShift]]/[[tokenJsMovers]]: one row per
    * (group, token) of the joined vocab with per-token JS contribution
    * in integer picos plus the per-group totals, computed exactly as
    * documented on [[tokenJsShift]]. Consumes (group, tok, cnt) count
    * frames ([[tokenCounts]] shape) — the corpus-sized tokenize lives
    * with the frames' producer, once per snapshot.
    */
  private def jsContribFromCounts(oldCounts: DataFrame, newCounts: DataFrame,
                                  groupCol: String): DataFrame = {
    val a = oldCounts.withColumnRenamed("cnt", "co")
    val b = newCounts.withColumnRenamed("cnt", "cn")
    // per-group totals as windows over the joined vocab frame: the
    // rollup/rank that follows re-uses the same partitioning, so totals
    // cost no extra scan, join, or job
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val p = col("co").cast("double") / col("n_tok_old")
    val q = col("cn").cast("double") / col("n_tok_new")
    val termP = when(col("co").isNotNull,
      lit(0.5) * p * log(p * lit(2.0) / (coalesce(p, lit(0.0)) +
        coalesce(q, lit(0.0))))).otherwise(lit(0.0))
    val termQ = when(col("cn").isNotNull,
      lit(0.5) * q * log(q * lit(2.0) / (coalesce(p, lit(0.0)) +
        coalesce(q, lit(0.0))))).otherwise(lit(0.0))
    a.join(b, Seq(groupCol, "tok"), "full_outer")
      .select(col(groupCol), col("tok"), col("co"), col("cn"),
        sum(coalesce(col("co"), lit(0L))).over(wSrc).as("n_tok_old"),
        sum(coalesce(col("cn"), lit(0L))).over(wSrc).as("n_tok_new"),
        count(col("co")).over(wSrc).as("n_vocab_old"),
        count(col("cn")).over(wSrc).as("n_vocab_new"))
      .withColumn("pico", round((termP + termQ) * 1e12).cast("long"))
  }

  /** [[tokenJsShift]]'s fixed-memory deploy face: the same per-group
    * snapshot divergence read off Count–Min sketch cells
    * ([[graft.functions.CountMinSketchAgg]]) instead of exact token
    * counts. Each snapshot reduces to ONE d·w cell array per group —
    * nothing vocabulary-sized ever shuffles, the regime where even the
    * (group, token) count frame of the exact path is too large.
    *
    * The estimate is a LOWER bound by construction: hashing tokens into
    * buckets is a channel, and JS is an f-divergence, so the data
    * processing inequality gives JS(cells_r) ≤ JS(tokens) for every
    * row r; the output takes the MAX over the d rows — the tightest of
    * the d lower bounds. Each row's JS uses the same pico fixed-point
    * discipline as the exact path (per-bucket contributions rounded to
    * integer picos, integer-summed inside an `aggregate` fold), so
    * `js_cm_pico` is cross-engine exact. Collisions only merge
    * probability mass — the bound degrades smoothly as vocab/w grows,
    * never inverts.
    */
  def cmTokenJsShift(oldSnap: DataFrame, newSnap: DataFrame,
                     groupCol: String, textCol: String,
                     d: Int = 4, w: Int = 1021): DataFrame =
    cmTokenJsShiftFromCounts(
      tokenCounts(oldSnap, groupCol, textCol),
      tokenCounts(newSnap, groupCol, textCol), groupCol, d, w)

  /** [[cmTokenJsShift]] from pre-tokenized (group, tok, cnt) count
    * frames (see [[tokenJsShiftFromCounts]]) — the cells are IDENTICAL
    * to per-token updates because the CM buffer is weight-additive
    * (`cm(tok, cnt)` adds cnt to each of tok's d cells in one update),
    * and the md5 cost drops from one digest per TOKEN to one per
    * distinct (group, tok) pair — the r16 100× inset's measured wall.
    */
  def cmTokenJsShiftFromCounts(oldCounts: DataFrame, newCounts: DataFrame,
                               groupCol: String,
                               d: Int = 4, w: Int = 1021): DataFrame = {
    def cells(df: DataFrame, out: String): DataFrame = df
      .groupBy(groupCol)
      .agg(graft.functions.CountMinSketchAgg
        .cm(col("tok"), col("cnt"), d, w).as(out))
    // FULL outer: a group present in only one snapshot (a dropped or
    // newly-arrived source) must surface at the ln 2 boundary exactly
    // as the exact path does, not silently vanish; its missing side is
    // the all-zero sketch
    cmJsFromCells(
      cells(oldCounts, "cells_o").join(cells(newCounts, "cells_n"),
          Seq(groupCol), "full_outer")
        .withColumn("cells_o",
          coalesce(col("cells_o"), expr(s"array_repeat(0L, ${d * w})")))
        .withColumn("cells_n",
          coalesce(col("cells_n"), expr(s"array_repeat(0L, ${d * w})"))),
      groupCol, d, w)
  }

  /** The sketch-cell JS readout shared by the batch face
    * ([[cmTokenJsShiftFromCounts]]) and the streaming monitor
    * ([[graft.streaming.Streaming.cmJsShiftStream]]): given a frame
    * with `cells_o`/`cells_n` d·w arrays per group row, emit per group
    * the two token totals and the max-over-rows cell-level JS in exact
    * integer picos (the data-processing-inequality lower bound and
    * fixed-point discipline documented on [[cmTokenJsShift]]). A pure
    * stateless projection — legal after a streaming aggregation.
    */
  private[graft] def cmJsFromCells(joined: DataFrame, groupCol: String,
                                   d: Int, w: Int): DataFrame = {
    // contribution lambda shared textually with the DuckDB twin: p and
    // q spelled inline so every double op sequence matches the oracle's.
    // Each division hides behind its own count-positive CASE (a
    // positive count implies a positive side total): a one-sided group
    // has n_tok = 0 on its empty side, and ANSI mode raises on 0/0
    // where the guarded form yields the 0.0 the math wants
    def picoContrib = (co: String, cn: String) => {
      val p = s"(CASE WHEN $co > 0 THEN CAST($co AS DOUBLE) / n_tok_old" +
        " ELSE 0.0 END)"
      val q = s"(CASE WHEN $cn > 0 THEN CAST($cn AS DOUBLE) / n_tok_new" +
        " ELSE 0.0 END)"
      s"""CAST(round((
         | CASE WHEN $co > 0 THEN
         |  0.5 * $p * ln($p * 2.0 / ($p + $q))
         | ELSE 0.0 END +
         | CASE WHEN $cn > 0 THEN
         |  0.5 * $q * ln($q * 2.0 / ($p + $q))
         | ELSE 0.0 END) * 1e12) AS BIGINT)""".stripMargin
    }
    val rowJs = (r: Int) => expr(
      s"""aggregate(zip_with(
         |  slice(cells_o, ${r * w + 1}, $w), slice(cells_n, ${r * w + 1}, $w),
         |  (co, cn) -> ${picoContrib("co", "cn")}),
         | 0L, (acc, x) -> acc + x)""".stripMargin)
    joined
      .withColumn("n_tok_old",
        expr(s"aggregate(slice(cells_o, 1, $w), 0L, (acc, x) -> acc + x)"))
      .withColumn("n_tok_new",
        expr(s"aggregate(slice(cells_n, 1, $w), 0L, (acc, x) -> acc + x)"))
      .select(col(groupCol), col("n_tok_old"), col("n_tok_new"),
        greatest((0 until d).map(rowJs): _*).as("js_cm_pico"))
      .withColumn("js_cm", round(col("js_cm_pico") / 1e12, 6))
  }
}
