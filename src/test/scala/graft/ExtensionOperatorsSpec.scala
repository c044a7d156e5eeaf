package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextStats}

/** Unit tests for the extension tier: text stats, dedup sketches,
  * similarity search, multimodal plumbing.
  */
class ExtensionOperatorsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // ---------------------------------------------------------- text stats
  test("embeddingShift: identical snapshots shift by exactly zero") {
    val snap = Seq((1, Array(0.5f, -0.25f)), (1, Array(1.0f, 0.75f)),
      (2, Array(0.1f, 0.2f))).toDF("label", "embedding")
    val out = Similarity.embeddingShift(snap, snap, "label", "embedding")
      .orderBy("label")
      .select("label", "mmd2_pico", "n_old", "n_new")
      .as[(Int, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1, 0L, 2L, 2L), (2, 0L, 1L, 1L)))
  }

  test("embeddingShift matches the closed-form mean distance") {
    // old mean (0.5, 0.5), new mean (1, 0): shift^2 = 0.5, l2 ~ 0.707107
    val a = Seq((1, Array(1f, 0f)), (1, Array(0f, 1f))).toDF("label", "embedding")
    val b = Seq((1, Array(1f, 0f))).toDF("label", "embedding")
    val (mmd2, l2) = Similarity.embeddingShift(a, b, "label", "embedding")
      .select("mmd2_pico", "l2_shift").as[(Long, Double)].head()
    assert(mmd2 == 500000000000L, s"exact pico arithmetic, got $mmd2")
    assert(l2 == 0.707107)
  }

  test("embeddingShift: one-sided labels surface with a NULL shift") {
    val a = Seq((1, Array(1f, 0f)), (9, Array(0f, 2f))).toDF("label", "embedding")
    val b = Seq((1, Array(1f, 0f))).toDF("label", "embedding")
    val rows = Similarity.embeddingShift(a, b, "label", "embedding")
      .orderBy("label")
      .select("label", "n_old", "n_new", "l2_shift")
      .as[(Int, Long, Long, Option[Double])].collect()
    assert(rows.toSeq == Seq((1, 1L, 1L, Some(0.0)), (9, 1L, 0L, None)),
      "a vanished label must appear with n_new = 0 and an undefined shift")
  }

  test("normalize collapses whitespace and lowercases") {
    val out = Seq("  Hello   WORLD\tfoo ").toDF("t")
      .select(TextStats.normalize($"t")).as[String].collect()
    assert(out(0) == "hello world foo")
  }

  test("hash60 is non-negative and deterministic") {
    val out = Seq("a", "a", "b").toDF("t")
      .select(TextStats.hash60($"t")).as[Long].collect()
    assert(out(0) == out(1) && out(0) != out(2) && out.forall(_ >= 0))
  }

  test("langPredict picks marker-majority language, 'und' when none") {
    val out = Seq(
      "the cat and the dog of the house",
      "der hund und die katze ist nicht da",
      "xyzzy qwerty").toDF("text")
      .select(TextStats.langPredict("text")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("quality composite stays in [0,1]") {
    val docs = Seq("the of and a to in is it", "!!!???;;;:::", "word " * 100)
      .toDF("text")
    val q = docs.select(TextStats.qualityColumns("text").last._2)
      .as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  // --------------------------------------------------------------- dedup
  test("exactDedup groups normalization-equal texts, keeps min id") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
  }

  test("minhash signatures: identical shingle sets give identical sigs") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("id", "text")
      .withColumn("sh", transform(Dedup.wordShingles("text", 3),
        x => TextStats.hash60(x)))
    val sigs = Dedup.minhashSignature($"sh", 8)
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
      .orderBy("id").drop("text", "sh").collect()
    assert(sigs(0).toSeq.tail == sigs(1).toSeq.tail)
    assert(sigs(0).toSeq.tail != sigs(2).toSeq.tail)
  }

  test("jaccard of disjoint sets is 0, identical sets is 1") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("x", "y")))
      .toDF("s1", "s2", "s3")
    val r = df.select(Dedup.jaccard($"s1", $"s2"), Dedup.jaccard($"s1", $"s3"))
      .collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("simhash: near-identical texts are hamming-close, random ones far") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and today"),
      (3L, "completely unrelated words paper stone scissors lizard spock"))
      .toDF("id", "text")
    val hs = texts.select($"id", Dedup.simhash("text", 32).as("h"))
      .orderBy("id").as[(Long, Long)].collect().map(_._2)
    assert(hamming(hs(0), hs(1)) < hamming(hs(0), hs(2)))
  }

  test("simhash of null/empty text is pinned away from the all-ones signature") {
    val texts = Seq((1L, null: String), (2L, ""), (3L, "   "))
      .toDF("id", "text")
    val hs = texts.select($"id", Dedup.simhash("text", 32).as("h"))
      .orderBy("id").as[(Long, Long)].collect().map(_._2)
    assert(hs(0) == 0L) // null text -> 0
    // empty / whitespace-only must NOT collide at 2^32-1 (the vacuous
    // all-votes-pass fingerprint)
    assert(hs.forall(_ != (1L << 32) - 1))
  }

  // ---------------------------------------------------------- similarity
  test("cosine: self-similarity 1, orthogonal 0") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 2f))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine($"a", $"a"), Similarity.cosine($"a", $"b")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 0.0)
  }

  test("bruteForceTopK ranks by cosine desc and excludes self") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nid")).toSeq == Seq(1L, 2L))
  }

  test("signBucket maps sign patterns to distinct buckets") {
    val df = Seq(Seq(1f, 1f), Seq(-1f, 1f), Seq(1f, -1f)).toDF("v")
    val b = df.select(Similarity.signBucket($"v", Seq(0, 1))).as[Long].collect()
    assert(b.toSet.size == 3 && b(0) == 3L)
  }

  test("PQ: codebooks deterministic; encode separates blobs per subspace") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(7)
    // dim 8, m=2 subspaces of 4: first subspace has two blobs (by
    // parity), second subspace has two different blobs (by i < 20)
    val rows = (0 until 40).map { i =>
      val a = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      val b = if (i < 20) Array(0f, 0f, 1f, 0f) else Array(0f, 0f, 0f, 1f)
      (i.toLong, (a ++ b).map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb1 = Pq.learnCodebooks(df, "vec_id", "embedding", m = 2, k = 2, iters = 3)
    val cb2 = Pq.learnCodebooks(df, "vec_id", "embedding", m = 2, k = 2, iters = 3)
    assert(cb1.map { case (s, c, v) => (s, c, v.toSeq) } ==
      cb2.map { case (s, c, v) => (s, c, v.toSeq) }, "learning must be deterministic")
    val codes = Pq.encode(df, "vec_id", "embedding", cb1)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(codes.size == 40)
    // subspace 0 code must track parity; subspace 1 code must track i<20
    val parity0 = (0 until 40).filter(_ % 2 == 0).map(i => codes(i.toLong)._1).toSet
    val parity1 = (0 until 40).filter(_ % 2 == 1).map(i => codes(i.toLong)._1).toSet
    assert(parity0.size == 1 && parity1.size == 1 && parity0 != parity1)
    val low = (0 until 20).map(i => codes(i.toLong)._2).toSet
    val high = (20 until 40).map(i => codes(i.toLong)._2).toSet
    assert(low.size == 1 && high.size == 1 && low != high)
  }

  test("PQ learn: iters = t + 1 is one brute-force Lloyd step on the iters = t codebook") {
    import graft.operators.Pq
    val (m, k) = (8, 16)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // the id-ordered trainCap(k) sample the learner trains on
    val sample = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .take(Pq.trainCap(k)).map(_._2.toArray)
    val subDim = sample.head.length / m
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def l2sq(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    // assign each sample subvector to its round-6 L2² argmin (lowest
    // cid on ties), then mean each cluster in sample order; an empty
    // cluster keeps its centroid
    def lloydStep(cents: Map[(Int, Int), Array[Double]]) =
      (0 until m).flatMap { s =>
        val subs = sample.map(_.slice(s * subDim, (s + 1) * subDim))
        val owner = subs.map(v =>
          (0 until k).minBy(c => (round6(l2sq(v, cents((s, c)))), c)))
        (0 until k).map { c =>
          val members = subs.indices.filter(owner(_) == c).map(subs)
          (s, c) -> (if (members.isEmpty) cents((s, c))
            else members.foldLeft(new Array[Double](subDim))((acc, v) =>
              acc.indices.map(i => acc(i) + v(i)).toArray).map(_ / members.size))
        }
      }.toMap
    def learned(iters: Int) =
      Pq.learnCodebooks(emb, "vec_id", "embedding", m, k, iters)
        .map { case (s, c, v) => (s, c) -> v }.toMap
    def bits(cb: Map[(Int, Int), Array[Double]]) =
      cb.view.mapValues(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toMap
    for (t <- 0 to 2) {
      val prev = learned(t)
      val next = learned(t + 1)
      assert(bits(next) == bits(lloydStep(prev)), s"iters=${t + 1}")
      assert(bits(next) != bits(prev), s"iters=${t + 1} must move a centroid")
    }
  }

  test("PQ map-side encoder is bit-identical to the join+window path") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(23)
    // fully random vectors (no blob structure): every centroid boundary
    // and tie discipline is exercised, not just easy separations
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Pq.learnCodebooks(df, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2))
    val windowed = Pq.codeRows(df, "vec_id", "embedding", cb).collect().map(key)
    val mapSide = Pq.codeRowsMapSide(df, "vec_id", "embedding", cb)
      .collect().map(key)
    assert(mapSide.toSet == windowed.toSet, "map-side codes must equal window path")
    assert(mapSide.length == 240) // 120 vectors x m=2
    // and the m=1 coarse face used by residuals() agrees too
    val coarse = Pq.coarseQuantizer(df, "vec_id", "embedding", k = 3, iters = 2)
    val wCoarse = Pq.codeRows(df, "vec_id", "embedding", coarse)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val rCoarse = Pq.residuals(df, coarse, "vec_id", "embedding")
      .select("vec_id", "ccid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(rCoarse == wCoarse, "residuals' map-side coarse assignment must match")
  }

  test("PQ ADC top-k returns same-blob neighbors") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(11)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
      else Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = Pq.learnCodebooks(df, "vec_id", "embedding", m = 2, k = 2, iters = 3)
    val out = Pq.adcTopK(df, df.filter($"vec_id" < 2), "vec_id", "embedding",
        cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 10) // 2 queries x top-5
    // every returned neighbor shares the query's blob (parity)
    out.foreach { case (qid, _, nid) =>
      assert(nid % 2 == qid % 2, s"query $qid got cross-blob neighbor $nid")
    }
  }

  test("PQ refine: exact re-rank of the ADC shortlist equals brute-force L2 top-k") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(13)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
      else Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = Pq.learnCodebooks(df, "vec_id", "embedding", m = 2, k = 2, iters = 3)
    val queries = df.filter($"vec_id" < 2)
    // shortlist = whole corpus -> the refine stage IS brute-force exact:
    // its top-k must equal the direct exact ranking (rounded, id ties)
    val refined = Pq.adcRefineTopK(df, queries, "vec_id", "embedding",
        cb, shortlist = 40, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = {
      val q2 = queries.select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy($"__l2", $"vec_id")
      df.crossJoin(broadcast(q2))
        .withColumn("__l2", round(Pq.l2sqExact($"embedding", $"qvec"), 6))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"))).toSet
    }
    assert(refined == exact, "full-shortlist refine must equal exact top-k")
    // and a real (small) shortlist stays inside the ADC shortlist
    val short = Pq.adcTopK(df, queries, "vec_id", "embedding", cb, k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined10 = Pq.adcRefineTopK(df, queries, "vec_id", "embedding",
        cb, shortlist = 10, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined10.subsetOf(short), "refine must only re-rank the shortlist")
  }

  test("q96/q97 filtered ANN: neighbors satisfy the predicate; recall against the filtered ground truth") {
    val d = "/root/testdata/sf0.001"
    val res = SparkEntry.queries("q96_filtered_ann")(spark, d)
    val lab = spark.read.parquet(s"$d/embeddings.parquet")
      .select($"vec_id".as("id"), $"label")
    // the predicate is a CONTRACT on the result set, not a soft ranking
    // signal: one odd-labeled neighbor means post-filtering leaked in
    assert(res.join(lab, "id").where(!$"label".isin(0, 2, 4, 6, 8)).count() == 0,
      "every returned neighbor must satisfy the metadata predicate")
    // ranks are contiguous from 1 per query — a dried-up probe list may
    // legitimately return < k rows, but never a gapped ranking
    val ranks = res.groupBy("qid").agg(min($"rank").as("mn"),
        max($"rank").as("mx"), count(lit(1)).as("n")).collect()
    assert(ranks.nonEmpty)
    assert(ranks.forall(r => r.getAs[Int]("mn") == 1 &&
      r.getAs[Int]("mx").toLong == r.getAs[Long]("n")))
    // recall audit: bounded by RecallK and non-trivial on average (the
    // boosted probe budget exists precisely to keep filtered recall up)
    val rec = SparkEntry.queries("q97_filtered_recall")(spark, d)
      .select($"n_overlap").as[Long].collect()
    assert(rec.forall(n => n >= 0 && n <= 10))
    assert(rec.sum.toDouble / (rec.length * 10) >= 0.3,
      s"filtered recall collapsed: ${rec.mkString(",")}")
  }

  test("PQ residuals: rvec + assigned centroid reconstructs the vector; coarseProbe orders by L2") {
    import graft.operators.Pq
    val rnd = new scala.util.Random(17)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val coarse = Pq.coarseQuantizer(df, "vec_id", "embedding", k = 2, iters = 3)
    assert(coarse.map(_._1).toSet == Set(0), "coarse quantizer is one subspace")
    val centById = coarse.map { case (_, cid, v) => cid -> v }.toMap
    val resid = Pq.residuals(df, coarse, "vec_id", "embedding").collect()
    assert(resid.length == 40)
    val vecs = rows.toMap
    resid.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val c = centById(r.getAs[Int]("ccid"))
      val rv = r.getSeq[Double](r.fieldIndex("rvec"))
      rv.indices.foreach { j =>
        assert(math.abs(rv(j) + c(j) - vecs(id)(j)) < 1e-9,
          s"residual + centroid must reconstruct vector $id at $j")
      }
      // blobs sit on distinct axes, so assignment tracks parity
    }
    val byParity = resid.groupBy(_.getAs[Long]("vec_id") % 2)
      .map { case (p, rs) => p -> rs.map(_.getAs[Int]("ccid")).toSet }
    assert(byParity.values.forall(_.size == 1) &&
      byParity(0L) != byParity(1L), "coarse lists must separate the blobs")
    // probes: nProbe=2 of 2 lists -> each query probes both, nearest first
    val probes = Pq.coarseProbe(df.filter($"vec_id" < 2), coarse,
        "vec_id", "embedding", nProbe = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("ccid")))
    assert(probes.length == 4)
    // the query's own blob list must be among its probes (sanity)
    Seq(0L, 1L).foreach { q =>
      assert(probes.count(_._1 == q) == 2)
    }
  }

  test("kmeans separates two obvious clusters and assigns all points") {
    val rnd = new scala.util.Random(5)
    // two tight blobs around orthogonal axes in 4d
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.kmeans(df, "vec_id", "embedding",
      k = 2, iters = 3)
    assert(assigned.count() == 40)
    // each blob maps to a single cluster
    val byParity = assigned.withColumn("parity", $"vec_id" % 2)
      .groupBy("parity").agg(countDistinct("cid").as("k")).collect()
    assert(byParity.forall(_.getAs[Long]("k") == 1L))
    // centroids converged near the blob axes
    assert(centroids.size == 2)
    val axes = centroids.values.map(_.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1))
  }

  test("semanticDedup drops higher-id near-dups within a cluster only") {
    // two orthogonal blobs; 2/3 are exact copies of 0/1 (cos = 1); 4 is
    // a same-cluster-as-0 vector below tau; 5 sits in the other cluster
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),       // dup of 0 -> dropped
      (3L, Array(0f, 1f, 0f, 0f)),       // dup of 1 -> dropped
      (4L, Array(1f, 0.5f, 0f, 0f)),     // cluster 0, cos(0,4)=0.894 < tau
      (5L, Array(0.1f, 1f, 0f, 0f)))     // cluster 1, cos(1,5)=0.995 -> dropped
    val df = rows.toDF("vec_id", "embedding")
    val cents = Seq(0 -> Array(1.0, 0.0, 0.0, 0.0), 1 -> Array(0.0, 1.0, 0.0, 0.0))
    val out = Similarity.semanticDedup(df, cents, "vec_id", "embedding",
        tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cid"), r.getAs[Boolean]("kept"))).toMap
    assert(out.size == 6)
    assert(out(0L)._2 && out(1L)._2 && out(4L)._2, "lowest ids + sub-tau kept")
    assert(!out(2L)._2 && !out(3L)._2 && !out(5L)._2, "near-dups dropped")
    assert(out(0L)._1 == out(2L)._1 && out(1L)._1 == out(3L)._1)
    assert(out(0L)._1 != out(1L)._1, "blobs in distinct clusters")
    // cross-cluster twins are NOT compared: a copy of 0 shoved into
    // cluster 1's cell by construction would survive — cluster scoping
    // is the operator's contract (and its scale trade)
    val twin = Seq((6L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val scoped = Similarity.semanticDedup(df.unionByName(twin),
        Seq(0 -> Array(0.0, 1.0, 0.0, 0.0)), // ONE cluster: everything compared
        "vec_id", "embedding", tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .toMap
    assert(!scoped(6L), "single-cluster run compares everything")
  }

  test("semanticDedup anchor cap bounds pair work; cids keep caller labels") {
    // one cluster of 4 near-identical vectors (ids 0..3). With the cap at
    // the cluster size the paper's exact semantics hold: 1,2,3 all drop.
    // With cap=1 only id 0 anchors — 1,2,3 still drop (each has the
    // anchor as a lower-id twin); but a vector whose ONLY near-twin sits
    // beyond the anchor set must survive: 11 dups 10 (both sub-tau vs 0).
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.999f, 0.001f, 0f, 0f)),
      (2L, Array(0.998f, 0.002f, 0f, 0f)),
      (3L, Array(0.997f, 0.003f, 0f, 0f)),
      (10L, Array(0.6f, 0.8f, 0f, 0f)),   // cos(0,10)=0.6 < tau
      (11L, Array(0.6f, 0.8f, 0f, 0f)))   // exact dup of 10
    val df = rows.toDF("vec_id", "embedding")
    // non-contiguous caller cid (7): output labels must be the caller's,
    // not the argmin ordinal (which would be 0)
    val cents = Seq(7 -> Array(1.0, 0.0, 0.0, 0.0))
    val exact = Similarity.semanticDedup(df, cents, "vec_id", "embedding",
        tau = 0.95, maxCluster = 100)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cid"), r.getAs[Boolean]("kept"))).toMap
    assert(exact.values.forall(_._1 == 7), "cid must be the caller's label")
    assert(exact(0L)._2 && exact(10L)._2, "lowest ids kept")
    assert(!exact(1L)._2 && !exact(2L)._2 && !exact(3L)._2 && !exact(11L)._2)
    val capped = Similarity.semanticDedup(df, cents, "vec_id", "embedding",
        tau = 0.95, maxCluster = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("kept")).toMap
    assert(capped(0L), "the anchor itself is kept")
    assert(!capped(1L) && !capped(2L) && !capped(3L),
      "dups of the anchor still drop under the cap")
    assert(capped(10L) && capped(11L),
      "a dup pair entirely beyond the anchor set survives — the recall " +
        "trade the cap buys linear work with")
  }

  test("semanticDedupAssigned: null-vector probe row and empty frame are safe") {
    // the broadcast-bound dim probe must skip null vectors (size(null)
    // is null — the raw getInt would NPE) and fall back to a
    // conservative row cap when no dim is determinable at all
    val rows = Seq(
      (0L, 7, null.asInstanceOf[Array[Float]]), // FIRST row: null vec
      (1L, 7, Array(1f, 0f, 0f, 0f)),
      (2L, 7, Array(1f, 0f, 0f, 0f)))           // dup of 1 -> dropped
    val df = rows.toDF("vec_id", "cid", "embedding")
    val out = Similarity.semanticDedupAssigned(df, "vec_id", "embedding",
        tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .toMap
    assert(out(1L), "lowest real vector kept")
    assert(!out(2L), "dup of the real anchor drops despite the null probe row")
    // empty frame: the probe finds no dim — must not throw
    val empty = df.filter(col("vec_id") < 0)
    assert(Similarity.semanticDedupAssigned(empty, "vec_id", "embedding",
      tau = 0.95).collect().isEmpty)
  }

  test("SQ8: codes bounded 0..255, extremes pin, degenerate dim safe, ADC separates blobs") {
    import graft.operators.Sq
    // two separated blobs with per-id jitter; dim 3 CONSTANT (degenerate)
    val rows = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 1f else 10f
      (i, Array(base + i * 0.01f, base + 1f + i * 0.01f, base + 2f, 5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val r = Sq.learnRanges(df, "embedding")
    assert(r.dim == 4)
    assert(r.spans(3) == 1.0, "constant dim must clamp span to 1")
    val codes = df.select($"vec_id",
      Sq.encodeCodes($"embedding", r).as("codes")).collect()
      .map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // per-dim min element encodes to 0, max to 255 (dims 0-2); the
    // degenerate dim encodes 0 everywhere
    assert(codes(0L)(0) == 0 && codes(19L)(0) == 255)
    assert(codes.values.forall(_(3) == 0))
    // ADC: an even-blob query's top-8 are the other even (same-blob) ids
    val codesDf = df.select($"vec_id", Sq.encodeCodes($"embedding", r).as("codes"))
    val out = Sq.adcTopK(codesDf, df.filter($"vec_id" === 0L),
        "vec_id", "codes", "vec_id", "embedding", r, k = 8)
      .collect()
    assert(out.length == 8)
    assert(out.forall(_.getLong(2) % 2 == 0), "same-blob neighbors first")
    // reconstruction error bounded by half a step: span/255/2 per dim
    val recon = df.select($"vec_id",
        Sq.reconstruct(Sq.encodeCodes($"embedding", r), r).as("rv"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
    for ((id, v) <- rows; j <- 0 until 3)
      assert(math.abs(recon(id)(j) - v(j)) <= r.spans(j) / 255.0 / 2 + 1e-9)
  }

  test("SQ8 encode clamps out-of-range inputs to [0, 255]") {
    import graft.operators.Sq
    // ranges frozen on [0, 10] per dim; encode vectors that fall OUTSIDE
    // the learned range — the streaming case (new arrivals vs a frozen
    // quantizer). Codes must clamp, not run negative / past 255.
    val r = Sq.Ranges(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val df = Seq(
      (0L, Array(-5f, 15f)),   // below min / above max
      (1L, Array(0f, 10f)),    // exact endpoints
      (2L, Array(5f, -0.01f))  // tiny underflow
    ).toDF("vec_id", "embedding")
    val codes = df.select($"vec_id", Sq.encodeCodes($"embedding", r).as("codes"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    assert(codes(0L) == Seq(0, 255), "out-of-range clamps to the endpoints")
    assert(codes(1L) == Seq(0, 255), "endpoints unchanged by the clamp")
    assert(codes(2L)(1) == 0, "fractional underflow clamps to 0")
  }

  // ---------------------------------------------------------- multimodal
  private def fmtMedia(n: Int) = {
    val docs = spark.range(0, n).select(
      $"id".as("doc_id"),
      concat(lit("doc body text number "), $"id".cast("string")).as("text"),
      ($"id" % 97 + 20).cast("int").as("n_chars"))
    Multimodal.syntheticFormatMedia(docs).as[Multimodal.MediaRow]
  }

  test("real decode: PPM/WAV containers parse, batching-invariant") {
    val media = fmtMedia(99)
    val out1 = Multimodal.decodeMedia(media, batchSize = 7)
    val out2 = Multimodal.decodeMedia(media, batchSize = 64)
    assert(out1.count() == 99)
    // batch size must not affect results
    assert(out1.orderBy("media_id").collect().toSeq ==
      out2.orderBy("media_id").collect().toSeq)
    val rows = out1.collect().map(r => r.media_id -> r).toMap
    val src = media.collect().map(m => m.media_id -> m).toMap
    for ((id, dec) <- rows) {
      val m = src(id)
      m.kind match {
        case "audio" =>
          assert(dec.sample_rate == Multimodal.WavSampleRate)
          assert(dec.n_content == Multimodal.WavSamples)
        case "image" =>
          // decoded dims come from the CONTAINER header, and match the
          // builder's metadata by construction
          assert(dec.px_w == m.width && dec.px_h == m.height)
          assert(dec.n_frames == 1)
          assert(dec.n_content == m.width * m.height * 3)
        case "video" =>
          assert(dec.px_w == m.width && dec.px_h == m.height)
          assert(dec.n_frames == m.duration_ms / 1000)
          assert(dec.n_content == dec.n_frames * m.width * m.height * 3)
      }
      assert(dec.content_sum >= 0 &&
        dec.content_sum <= 255L * dec.n_content)
    }
  }

  test("decoders fail loudly on malformed containers; comments parse") {
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodePpmFrames("P5\n2 2\n255\nxxxx".getBytes)
    }
    intercept[IllegalArgumentException] { // truncated pixel data
      Multimodal.decodePpmFrames("P6\n4 4\n255\nab".getBytes)
    }
    intercept[IllegalArgumentException] { // not a WAVE
      Multimodal.decodeWav("RIFFxxxxNOPE".getBytes)
    }
    // comments + multi-digit fields parse per the PPM spec
    val px = Array.tabulate(12 * 3)(_.toByte)
    val ok = Multimodal.decodePpmFrames(
      "P6\n# a comment\n12 1\n255\n".getBytes ++ px)
    assert(ok.size == 1 && ok.head._1 == 12 && ok.head._2 == 1 &&
      ok.head._3.toSeq == px.toSeq)
  }

  test("repartitionByPayload sizes partitions from a sample, small tables exactly") {
    val media = spark.range(0, 2000).select(
      $"id".as("media_id"),
      lit(new Array[Byte](1000)).as("bytes")) // ~2 MB total
    // sample-estimated: ~2MB / 500KB target -> ~4 partitions (estimate
    // tolerance: the 1% sample is hash-deterministic, so the count is
    // stable run-to-run; assert the right magnitude, not an exact value)
    val parts = Multimodal.repartitionByPayload(media, "bytes", 500000, 0.05)
      .rdd.getNumPartitions
    assert(parts >= 2 && parts <= 8, s"got $parts")
    // tiny table: empty sample falls back to the exact sum -> 1 partition
    val tiny = Seq((1L, Array[Byte](1, 2))).toDF("media_id", "bytes")
    assert(Multimodal.repartitionByPayload(tiny, "bytes", 1L << 20, 0.0001)
      .rdd.getNumPartitions == 1)
  }

  test("real PPM resize: aspect-preserving fit, never upscales, re-decodable") {
    // 8x4 image, distinctive pixels: value = x coordinate
    val px = Array.tabulate(8 * 4 * 3)(i => ((i / 3) % 8).toByte)
    val img = Multimodal.encodePpm(8, 4, px)
    val frames = Multimodal.decodePpmFrames(
      Multimodal.resizePpmNearest(img, 4, 4))
    assert(frames.size == 1)
    val (w, h, opx) = frames.head
    assert((w, h) == ((4, 2)), "8x4 fits a 4-box as 4x2")
    // nearest-neighbor: output pixels are a subset of input values
    assert(opx.forall(b => b >= 0 && b < 8))
    // already-smaller input passes through byte-identical
    assert(Multimodal.resizePpmNearest(img, 100, 100).toSeq == img.toSeq)
    // a 2-frame stream resizes frame-by-frame and stays a valid stream
    val rs = Multimodal.decodePpmFrames(
      Multimodal.resizePpmNearest(img ++ img, 4, 4))
    assert(rs.size == 2 && rs.forall(f => (f._1, f._2) == ((4, 2))))
    // Dataset-level op re-stamps metadata from the decoded container
    val resized = Multimodal.resizeMedia(fmtMedia(30), 3, 3).collect()
    for (m <- resized; if m.kind != "audio")
      assert(m.width <= 3 && m.height <= 3)
  }

  test("writePartitionedParquet: partition pruning on read (scale sink)") {
    val df = Seq(("00", "g1", 1.0), ("00", "g2", 2.0), ("10", "g3", 3.0))
      .toDF("decade", "GEOID", "v")
    val out = java.nio.file.Files.createTempDirectory("pq").toString + "/t"
    graft.sources.Sources.writePartitionedParquet(df, out, Seq("decade"), "GEOID")
    assert(new java.io.File(s"$out/decade=00").exists)
    val read = spark.read.parquet(out).filter($"decade" === "10")
    assert(read.count() == 1)
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(decade"),
      "decade filter must prune partitions at the scan")
  }

  test("sampleFrames fans out video by stride, passes others through") {
    val media = Seq(
      (1L, "video", Array[Byte](1), 0, 0, 2000),
      (2L, "image", Array[Byte](1), 0, 0, 0))
      .toDF("media_id", "kind", "bytes", "width", "height", "duration_ms")
    val out = Multimodal.sampleFrames(media, everyMs = 500)
      .groupBy("media_id").count().orderBy("media_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 4L), (2L, 1L)))
  }

  // ------------------------------------------------- connected components
  test("connectedComponents labels a chain, keeps one canonical per cluster") {
    // chain 5-3-9-7 (diameter 3) + separate pair (20, 12) + edge order
    // and direction must not matter
    val edges = Seq((5L, 3L), (9L, 3L), (7L, 9L), (20L, 12L))
      .toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b", rounds = 3)
      .orderBy("id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (3L, 3L, true), (5L, 3L, false), (7L, 3L, false), (9L, 3L, false),
      (12L, 12L, true), (20L, 12L, false)))
    // exactly one canonical per cluster
    assert(out.count(_._3) == 2)
  }

  // -------------------------------------------------------------------
  // MMR diversified re-rank

  private def mmrShortlist(rows: Seq[(Long, Long, Double, Array[Float])]) =
    rows.toDF("qid", "nid", "rel", "nvec")

  test("mmrRerank with lambdaTenths=10 is plain top-k by relevance") {
    val v = Array(1f, 0f, 0f)
    val short = mmrShortlist(Seq(
      (1L, 11L, 0.9, v), (1L, 12L, 0.8, v), (1L, 13L, 0.7, v), (1L, 14L, 0.6, v)))
    val out = Similarity.mmrRerank(short, lambdaTenths = 10, k = 3)
      .orderBy("step").as[(Long, Int, Long, Long)].collect().toSeq
    assert(out.map(_._3) == Seq(11L, 12L, 13L),
      s"pure-relevance MMR = top-k: $out")
    assert(out.map(_._4) == Seq(9000000L, 8000000L, 7000000L))
  }

  test("mmrRerank penalizes near-duplicates of already-selected hits") {
    // candidate 12 is an exact duplicate direction of top hit 11
    // (cos = 1.0); candidate 13 is orthogonal with lower relevance.
    // Pure relevance picks 11 then 12; MMR at lambda 0.5 must pick the
    // diverse 13 at step 2: score(12) = 5*.85 - 5*1.0 < score(13) =
    // 5*.60 - 5*0.
    val a = Array(1f, 0f, 0f)
    val b = Array(0f, 1f, 0f)
    val short = mmrShortlist(Seq(
      (1L, 11L, 0.90, a), (1L, 12L, 0.85, a), (1L, 13L, 0.60, b)))
    val out = Similarity.mmrRerank(short, lambdaTenths = 5, k = 3)
      .orderBy("step").as[(Long, Int, Long, Long)].collect().toSeq
    assert(out.map(_._3) == Seq(11L, 13L, 12L), out.toString)
    // step-2 score: 5*600000 - 5*0 (13 orthogonal to 11)
    assert(out(1)._4 == 3000000L, out.toString)
    // step-3 score: 5*850000 - 5*1000000 (12 parallel to selected 11)
    assert(out(2)._4 == -750000L, out.toString)
  }

  test("mmrRerank emits min(k, shortlist) steps with score ties on min nid") {
    val v = Array(1f, 1f, 0f)
    val short = mmrShortlist(Seq((1L, 22L, 0.5, v), (1L, 21L, 0.5, v)))
    val out = Similarity.mmrRerank(short, lambdaTenths = 7, k = 5)
      .orderBy("step").as[(Long, Int, Long, Long)].collect().toSeq
    assert(out.length == 2)
    // equal relevance: step 1 takes the lower nid
    assert(out.head._3 == 21L, out.toString)
  }

  // --------------------------------------------------------- RRF fusion
  test("rrfFuse sums micro-exact reciprocal ranks and counts legs") {
    val sparse = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "id", "rank")
    val dense = Seq((1L, 20L, 1), (1L, 30L, 4)).toDF("qid", "id", "rank")
    val out = graft.operators.Retrieval
      .rrfFuse(Seq(sparse, dense), "qid", "id", rrfK = 60, topK = 10)
      .orderBy("rrf_rank")
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    // micro-int contributions: 1/61→16393, 1/62→16129, 1/64→15625
    assert(out == Seq(
      (1L, 1, 20L, 0.032522, 2L), // 16393 + 16129
      (1L, 2, 10L, 0.016393, 1L),
      (1L, 3, 30L, 0.015625, 1L)))
  }

  test("rrfFuse truncates at topK and breaks score ties on lower id") {
    val run = Seq((1L, 9L, 1), (1L, 2L, 1), (1L, 5L, 2), (1L, 7L, 3))
      .toDF("qid", "id", "rank")
    val out = graft.operators.Retrieval
      .rrfFuse(Seq(run), "qid", "id", rrfK = 60, topK = 3)
      .orderBy("rrf_rank")
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    assert(out.map(_._3) == Seq(2L, 9L, 5L)) // tie at rank 1: lower id first
    assert(out.length == 3)
  }

  // ------------------------------------------------- sub-cluster refine
  private def subFixture = {
    // cell 0: 40 members in two well-separated blobs (20 near the
    // origin, 20 near 100·1̄) — must split and split CLEANLY; cell 1:
    // 10 members (≤ targetOcc — must NOT split); cell 2: a singleton
    def blob(cid: Int, base: Float, ids: Range) = ids.map { i =>
      (i.toLong, cid.toLong,
        Array(base + (i % 5) * 0.1f, base - (i % 3) * 0.1f, base))
    }
    (blob(0, 0f, 0 until 20) ++ blob(0, 100f, 20 until 40) ++
      blob(1, 50f, 100 until 110) ++ blob(2, -7f, 200 until 201))
      .toDF("vec_id", "cid", "embedding")
  }

  test("subClusterAssignment: membership, split bounds, unsplit small cells") {
    val out = Similarity.subClusterAssignment(
      subFixture, "vec_id", "embedding", targetOcc = 16)
    val rows = out.as[(Long, Long, Array[Float])].collect()
    val in = subFixture.as[(Long, Long, Array[Float])].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.length == in.size)
    rows.foreach { case (id, cid2, v) =>
      // coarse membership and the vector itself are preserved
      assert(cid2 >> 20 == in(id)._2, s"id $id left its coarse cell")
      assert(v.sameElements(in(id)._3))
    }
    val subsPerCell = rows.groupBy(_._2 >> 20)
      .view.mapValues(_.map(_._2).distinct.length).toMap
    // ceil(40/16) = 3 is the BOUND; Lloyd may leave a seed cell empty
    assert(subsPerCell(0L) >= 2 && subsPerCell(0L) <= 3)
    assert(subsPerCell(1L) == 1 && subsPerCell(2L) == 1)
    // unsplit cells keep sub index 0 (cid2 is exactly cid·2^20)
    assert(rows.filter(_._2 >> 20 == 1L).forall(r => (r._2 & 0xFFFFF) == 0))
  }

  test("subClusterAssignment separates distant blobs and is deterministic") {
    val run1 = Similarity.subClusterAssignment(
      subFixture, "vec_id", "embedding", targetOcc = 16)
      .as[(Long, Long, Array[Float])].collect().map(r => r._1 -> r._2).toMap
    val run2 = Similarity.subClusterAssignment(
      subFixture, "vec_id", "embedding", targetOcc = 16)
      .as[(Long, Long, Array[Float])].collect().map(r => r._1 -> r._2).toMap
    assert(run1 == run2)
    // the two blobs of cell 0 never share a sub-cell
    val blobA = (0 until 20).map(i => run1(i.toLong)).toSet
    val blobB = (20 until 40).map(i => run1(i.toLong)).toSet
    assert(blobA.intersect(blobB).isEmpty, s"$blobA vs $blobB")
  }

  // -------------------------------------------- incremental SemDeDup
  test("incrementalSemanticDedup: cap, no-anchor cell, tie to lowest anchor") {
    // registry: one cell (cid 1) with three members; maxCluster = 2
    // makes ids 1,2 the anchors and id 3 (the z axis) BEYOND the cap
    val registry = Seq(
      (1L, 1, Array(1f, 0f, 0f)),
      (2L, 1, Array(0f, 1f, 0f)),
      (3L, 1, Array(0f, 0f, 1f)))
      .toDF("vec_id", "cid", "embedding")
    val centroids = Seq(1 -> Array(1.0, 0.0, 0.0), 2 -> Array(-1.0, 0.0, 0.0))
    val batch = Seq(
      (100L, Array(0.9f, 0.1f, 0f)),  // near anchor 1 -> dup_of 1
      (101L, Array(0.5f, 0f, 0.87f)), // best cos ~.498 < tau -> kept
      (102L, Array(0.1f, 0f, 1f)),    // twin of BEYOND-CAP id 3 -> kept
      (103L, Array(-1f, 0f, 0f)),     // cell 2: registry empty -> kept
      (104L, Array(1f, 1f, 0f)))      // cos-tie anchors 1,2 -> dup_of 1
      .toDF("vec_id", "embedding")
    val out = Similarity.incrementalSemanticDedup(batch, registry,
        centroids, "vec_id", "embedding", tau = 0.5, maxCluster = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap
    assert(out.size == 5)
    assert(out(100L)._1 == 1 && out(100L)._2 == Some(1L) && !out(100L)._4)
    assert(math.abs(out(100L)._3.get - 0.993884) < 1e-6)
    assert(out(101L)._2.isEmpty && out(101L)._4)
    assert(out(101L)._3.get < 0.5)
    // the registry twin sits past the anchor cap: NOT consulted
    assert(out(102L)._2.isEmpty && out(102L)._4 && out(102L)._3.get < 0.2)
    // untouched cell: no anchors at all -> null best_cos, kept
    assert(out(103L)._1 == 2 && out(103L)._2.isEmpty &&
      out(103L)._3.isEmpty && out(103L)._4)
    // equal rounded cosine to both anchors: lowest anchor id wins
    assert(out(104L)._2 == Some(1L) && !out(104L)._4)
    assert(math.abs(out(104L)._3.get - 0.707107) < 1e-6)
  }
}
