package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, Extents, Shape, Windows}

/** Unit tests for the reference-parity core: pivot last-wins, defaults,
  * rename-drop, extents NaN handling, as-of join, per-group top-k
  * (SURVEY.md §5 test strategy items 2-3).
  */
class CoreOperatorsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("pivotWide: duplicate (id, year) rows resolve last-wins by ord") {
    val long = Seq(
      ("g1", "00", 1.0, 1L), // overwritten by ord=3
      ("g1", "00", 9.0, 3L),
      ("g1", "01", 2.0, 2L),
      ("g2", "00", 5.0, 4L)
    ).toDF("id", "yy", "v", "ord")
    val wide = Shape.pivotWide(long, "id", Nil, "yy",
      Seq("v"), Seq("00", "01"), "ord")
    val rows = wide.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("g1", "g2")) // sorted
    assert(rows(0).getDouble(1) == 9.0) // last-wins, not 1.0
    assert(rows(0).getDouble(2) == 2.0)
    assert(rows(1).getDouble(1) == 5.0)
    assert(rows(1).isNullAt(2)) // missing (g2, 01) cell is null
  }

  test("pivotWide: column set is declared metrics x years, not data-derived") {
    val long = Seq(("g1", "00", 1.0, 1L)).toDF("id", "yy", "v", "ord")
    val wide = Shape.pivotWide(long, "id", Nil, "yy",
      Seq("v"), Seq("00", "01", "02"), "ord")
    assert(wide.columns.toSeq == Seq("id", "v-00", "v-01", "v-02"))
  }

  test("renameColumns drops unmapped columns (shape-data.js:33)") {
    val df = Seq((1, "x", 9.9)).toDF("a", "b", "junk")
    val out = Shape.renameColumns(df, Seq("a" -> "aa", "b" -> "bb"))
    assert(out.columns.toSeq == Seq("aa", "bb"))
  }

  test("defaultParentLocation fills null with United States") {
    val df = Seq(Some("Texas"), None).toDF("pl")
    val out = df.select(Shape.defaultParentLocation($"pl", "United States"))
      .as[String].collect()
    assert(out.toSeq == Seq("Texas", "United States"))
  }

  test("extents: empty/NaN cells are ignored; min<=q1<=q99<=max") {
    val df = Seq(
      (1.0, Double.NaN), (2.0, 1.0), (3.0, 2.0), (100.0, Double.NaN)
    ).toDF("a", "b")
    val ext = Extents.extents(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ext("b").getDouble(1) == 1.0) // NaN ignored in min
    assert(ext("b").getDouble(2) == 2.0)
    for (r <- ext.values) {
      assert(r.getDouble(1) <= r.getDouble(3)) // min <= q1
      assert(r.getDouble(3) <= r.getDouble(4)) // q1 <= q99
      assert(r.getDouble(4) <= r.getDouble(2)) // q99 <= max
    }
  }

  test("an extents action leaves no persisted RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("a")
    Extents.extents(df, Seq("a")).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      "an extents action must leave no persisted RDD behind")
  }

  test("extents plans that are never run leave no cache behind") {
    // a built plan must not register a cache entry: an explain or a plan
    // audit builds plans it never runs, and a stale entry would be
    // adopted by the next identical plan. The exact rank kernels run
    // their count pass when called over a checkout, never a cache:
    // extents, extentsBy and quantileBins release it before they return,
    // and cdfTransform's frame holds it until it is released
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val df = Seq(("g1", 1.0, 2.0), ("g1", 3.0, 2.0), ("g2", 5.0, 7.0))
      .toDF("g", "a", "b")
    val plans = Seq(Extents.extents(df, Seq("a", "b")),
      Extents.extentsBy(df, "g", Seq("a", "b")),
      Extents.quantileBins(df, Seq("a", "b"), 2),
      Extents.extents(df, Seq("a", "b"), approximate = true))
    plans.foreach(_.queryExecution.executedPlan)
    assert(cm.isEmpty, "building an extents plan must not register a cache")
    assert(persisted == before, "building an extents plan must not persist an RDD")
    val cdf = Extents.cdfTransform(df, Seq("a", "b"))
    cdf.queryExecution.executedPlan
    assert(cm.isEmpty, "building a cdfTransform plan must not register a cache")
    assert(persisted.diff(before).size == 1,
      "a cdfTransform frame holds exactly its histogram checkout")
    Pipeline.releaseCheckpoint(cdf)
    assert(persisted == before, "releasing the cdfTransform frame drops its checkout")
  }

  test("extents kernel: infinite, overflowing and single-value spans") {
    // ±Infinity cells survive the numeric filter; NaN, junk and empty
    // ones do not. A ±1e308 pair overflows the bucket width to ∞ and a
    // single-value group has a zero width: every value then lands in
    // one bucket, and the ranks stay exact
    val df = Seq(("g1", "5", "1"), ("g1", "5", "Infinity"), ("g1", "5", "-3"),
      ("g2", "5", "2"), ("g2", "x", ""), ("g2", "7", "-Infinity"),
      ("g1", "5", "NaN"), ("g2", "1e308", "2"), ("g2", "-1e308", "2"))
      .toDF("g", "a", "b")
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect().mkString(" ")
    assert(rows(Extents.extents(df, Seq("a", "b"))) ==
      "[a,-1.0E308,1.0E308,-9.3E307,9.299999999999997E307] " +
      "[b,-Infinity,Infinity,NaN,Infinity]")
    assert(rows(Extents.extentsBy(df, "g", Seq("a", "b"))) ==
      "[g1,a,5.0,5.0,5.0,5.0] [g1,b,-3.0,Infinity,-2.92,Infinity] " +
      "[g2,a,-1.0E308,1.0E308,-9.7E307,9.699999999999998E307] " +
      "[g2,b,-Infinity,2.0,NaN,2.0]")
    assert(rows(Extents.quantileBins(df, Seq("a", "b"), 3)) ==
      "[a,0,6,-1.0E308,5.0] [a,2,2,7.0,1.0E308] [b,0,3,-Infinity,1.0] " +
      "[b,1,3,2.0,2.0] [b,2,1,Infinity,Infinity]")
    assert(rows(Extents.cdfTransform(df, Seq("a", "b"))) ==
      "[a,-1.0E308,1,0.0625] [a,5.0,5,0.4375] [a,7.0,1,0.8125] " +
      "[a,1.0E308,1,0.9375] [b,-Infinity,1,0.071429] [b,-3.0,1,0.214286] " +
      "[b,1.0,1,0.357143] [b,2.0,3,0.642857] [b,Infinity,1,0.928571]")
  }

  test("extents quantile is R-7 (d3.quantile parity)") {
    // d3.quantile([1,2,3,4], 0.01) = 1 + 0.03*(2-1) = 1.03
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("a")
    val ext = Extents.extents(df, Seq("a")).collect()(0)
    assert(math.abs(ext.getDouble(3) - 1.03) < 1e-9)
    assert(math.abs(ext.getDouble(4) - 3.97) < 1e-9)
  }

  test("asofBackward: latest right row at or before each left ts") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, "r@10"), (1L, 15L, "r@15"), (2L, 6L, "r@6"))
      .toDF("k", "ts", "payload")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("payload"))
      .orderBy("tag").collect()
    assert(out(0).getAs[String]("payload") == "r@10") // inclusive <=
    assert(out(1).getAs[String]("payload") == "r@15") // latest prior
    assert(out(2).isNullAt(out(2).fieldIndex("payload"))) // none at ts<=5
  }

  test("asofBackward payload is atomic: no torn rows when latest has nulls") {
    val left = Seq((1L, 3L, "p")).toDF("k", "ts", "tag")
    val right = Seq((1L, 1L, Some(1L), Some(5.0)), (1L, 2L, Some(2L), None))
      .toDF("k", "ts", "eid", "v")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("eid", "v"))
      .collect()(0)
    // latest right row is (eid=2, v=null) — v must NOT leak 5.0 from eid=1
    assert(out.getAs[Long]("eid") == 2L)
    assert(out.isNullAt(out.fieldIndex("v")))
  }

  test("asofBackward ties on (key, ts) resolve deterministically (greatest payload)") {
    val left = Seq((1L, 10L, "p")).toDF("k", "ts", "tag")
    // three right rows at the SAME (k, ts): the greatest payload struct
    // must win, run after run
    val right = Seq((1L, 10L, "alpha"), (1L, 10L, "zulu"), (1L, 10L, "mike"))
      .toDF("k", "ts", "payload")
    (1 to 3).foreach { _ =>
      val out = AsOfJoin.asofBackward(left, right.repartition(4), "k", "ts",
        Seq("payload")).collect()(0)
      assert(out.getAs[String]("payload") == "zulu")
    }
  }

  test("asofBackward internal columns don't collide with user __side/__payload") {
    val left = Seq((1L, 10L, "x")).toDF("k", "ts", "__graft_asof_side")
    val right = Seq((1L, 5L, "r")).toDF("k", "ts", "payload")
    val out = AsOfJoin.asofBackward(left, right, "k", "ts", Seq("payload"))
      .collect()(0)
    assert(out.getAs[String]("__graft_asof_side") == "x")
    assert(out.getAs[String]("payload") == "r")
  }

  test("histogram excludes null values instead of counting them in bucket 0") {
    val df = Seq(Some(10.0), None, None, Some(95.0)).toDF("v")
    val h = graft.operators.Curation.histogram(df, "v", 0.0, 100.0, 10)
      .orderBy("bucket").collect()
    assert(h.map(_.getAs[Long]("n")).sum == 2) // only the non-null rows
    assert(h.map(r => (r.getInt(0), r.getAs[Long]("n"))).toSeq ==
      Seq((1, 1L), (9, 1L)))
  }

  test("topKPerGroup keeps k rows per group in priority order") {
    val df = Seq(("g", 1), ("g", 3), ("g", 2), ("h", 9)).toDF("grp", "v")
    val out = Windows.topKPerGroup(df, Seq("grp"), $"v".desc, $"v", 2)
      .orderBy("grp", "rank").collect()
    assert(out.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("g", 3), ("g", 2), ("h", 9)))
  }

  test("saltedJoin equals the plain join (skew-spread, same rows)") {
    val big = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "payload")
    val small = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).orderBy("payload").collect()
    val salted = graft.operators.Joins.saltedJoin(big, small, "k", "payload", 4)
      .orderBy("payload").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("cdfTransform: midrank CDF, ties share a position, mean is 1/2") {
    import graft.operators.Extents
    // values 1,2,2,3 → cdfs: 1→0.125, 2→(1+1)/4=0.5 (both ties), 3→0.875
    val df = Seq(1.0, 2.0, 2.0, 3.0).toDF("a")
    val got = Extents.cdfTransform(df, Seq("a")).collect()
      .map(r => (r.getDouble(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1.0, 1L, 0.125), (2.0, 2L, 0.5), (3.0, 1L, 0.875)),
      s"midrank mapping: ${got.toSeq}")
    // the midrank construction's invariant: the cnt-weighted mean cdf
    // is exactly 1/2 whatever the distribution
    val wmean = got.map { case (_, n, c) => n * c }.sum / got.map(_._2).sum
    assert(math.abs(wmean - 0.5) < 1e-12, s"weighted mean cdf $wmean")
  }

  test("skewAwareJoin: hot key salts, uniform key doesn't, rows identical") {
    import graft.operators.Joins
    // hot fixture: one key carries half the rows — the q130 profile
    // must trip the salt decision, and the salted rows must equal the
    // plain join's exactly (the decision is latency-only)
    val hot = (1 to 400).map(i =>
      (if (i % 2 == 0) 1L else (i % 50).toLong, s"p$i")).toDF("k", "payload")
    val uniform = (1 to 400).map(i => ((i % 100).toLong, s"p$i"))
      .toDF("k", "payload")
    val small = (0L to 100L).map(k => (k, s"d$k")).toDF("k", "dim")
    val plain = hot.join(small, Seq("k")).orderBy("payload").collect()
    val auto = Joins.skewAwareJoin(hot, small, "k", "payload", 4)
      .orderBy("payload").collect()
    assert(Joins.lastSkewVerdict.get().salt,
      s"half-mass key must trip the verdict: ${Joins.lastSkewVerdict.get()}")
    assert(auto.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq,
      "salted decision must not change the joined rows")
    Joins.skewAwareJoin(uniform, small, "k", "payload", 4).collect()
    assert(!Joins.lastSkewVerdict.get().salt,
      s"uniform keys must not salt: ${Joins.lastSkewVerdict.get()}")
  }

  test("attributeJoin: broadcast hint is size-gated by the optimizer estimate") {
    import graft.operators.Joins
    val feats = spark.range(100)
      .selectExpr("CAST(id AS STRING) AS GEOID", "id AS lon").toDF
    // small attrs: the hint fires — attrs are ALWAYS the build side
    val small = spark.range(100)
      .selectExpr("CAST(id AS STRING) AS GEOID", "id * 2 AS v").toDF
    val pSmall = Joins.attributeJoin(feats, small, "GEOID")
      .queryExecution.executedPlan.toString
    assert(pSmall.contains("BroadcastHashJoin") && pSmall.contains("BuildRight"),
      s"regional attrs must broadcast:\n$pSmall")
    // attrs whose Catalyst estimate exceeds the budget (20M rows ≈
    // 160+ MB) must NOT be forced to build — the r15 PipeScale OOM
    val big = spark.range(20000000L)
      .selectExpr("CAST(id AS STRING) AS GEOID", "repeat('x', 100) AS v").toDF
    val pBig = Joins.attributeJoin(feats, big, "GEOID")
      .queryExecution.executedPlan.toString
    assert(!pBig.contains("BuildRight"),
      s"a national-scale slice must not be hinted onto the build side:\n$pBig")
  }

  test("derivedSaltFactor: sized from max/mean, pow2, capped at shuffle partitions") {
    import graft.operators.Joins.derivedSaltFactor
    // mild skew → next power of two above max/mean
    assert(derivedSaltFactor(3.0, 32) == 4)
    assert(derivedSaltFactor(8.0, 32) == 8)
    assert(derivedSaltFactor(9.0, 32) == 16)
    // the r14 hot fixture (max/mean ≈ 900) caps at the partition count
    assert(derivedSaltFactor(900.0, 32) == 32)
    // floor of 2 even for a degenerate profile (only reached when the
    // verdict already fired)
    assert(derivedSaltFactor(1.0, 32) == 2)
    // cap never below 2
    assert(derivedSaltFactor(900.0, 1) == 2)
  }

  test("skewAwareJoin default factor derives from the profile, rows identical") {
    import graft.operators.Joins
    val hot = (1 to 400).map(i =>
      (if (i % 2 == 0) 1L else (i % 50).toLong, s"p$i")).toDF("k", "payload")
    val small = (0L to 100L).map(k => (k, s"d$k")).toDF("k", "dim")
    val plain = hot.join(small, Seq("k")).orderBy("payload").collect()
    // no factor passed: the fan-out comes from the measured max/mean
    val auto = Joins.skewAwareJoin(hot, small, "k", "payload")
      .orderBy("payload").collect()
    assert(Joins.lastSkewVerdict.get().salt)
    assert(auto.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq,
      "derived-factor salting must not change the joined rows")
  }

  test("rangeJoin matches the naive inequality join across bucket edges") {
    val left = Seq((1L, 100L), (1L, 1000L), (2L, 500L)).toDF("k", "lts")
    val right = Seq((1L, 100L), (1L, 150L), (1L, 1099L), (1L, 1101L), (2L, 400L))
      .toDF("k", "rts")
    val out = graft.operators.Joins.rangeJoin(left, right, "k", "lts", "rts", 100L)
      .select("k", "lts", "rts").orderBy("k", "lts", "rts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (1,100): rts 100,150 in [100,200]; (1,1000): 1099 yes (edge-adjacent
    // bucket), 1101 no; (2,500): 400 before window -> excluded
    assert(out == Seq((1L, 100L, 100L), (1L, 100L, 150L), (1L, 1000L, 1099L)))
  }

  test("fuzzyKeyJoin: identical keys score 1.0; df-prune gates candidates") {
    val cat = Seq("red widget", "blue anvil", "hot gear").toDF("name")
    val feed = Seq("red widget", "red widgt", "cold plate").toDF("fname")
    val out = graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 50)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Double]("jaccard"))).toSet
    assert(out.exists { case (l, r2, j) =>
      l == "red widget" && r2 == "red widget" && j == 1.0 },
      s"exact duplicate must score 1.0: $out")
    assert(out.exists { case (l, r2, j) =>
      l == "red widget" && r2 == "red widgt" && j >= 0.5 },
      s"one-char drop must survive tau: $out")
    assert(!out.exists(_._2 == "cold plate"),
      "unrelated key must not match")
    // maxDf = 1 makes EVERY gram hot (each appears in ≥ 2 of catalog ∪
    // feed or is unique — unique grams have df 1 ≤ 1... use maxDf such
    // that shared grams are hot): with maxDf = 1 the shared grams of
    // the exact-duplicate pair (df = 2) are all pruned, so no candidate
    // survives — the documented recall trade of the prune
    val pruned = graft.operators.Joins
      .fuzzyKeyJoin(cat, feed.where($"fname" === "red widget"),
        "name", "fname", 3, 0.5, 1)
      .collect()
    assert(pruned.isEmpty,
      "all-shared-grams-hot pair must be pruned (recall contract)")
  }

  test("fuzzyKeyJoinEdit verifies candidates with exact Levenshtein") {
    val cat = Seq("red widget", "blue anvil").toDF("name")
    val feed = Seq("red widget", "red widgt", "rd wdget", "hot plate")
      .toDF("fname")
    val out = graft.operators.Joins
      .fuzzyKeyJoinEdit(cat, feed, "name", "fname", 3, 2, 50)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Int]("dist"))).toSet
    assert(out.contains(("red widget", "red widget", 0)))
    assert(out.contains(("red widget", "red widgt", 1)))
    assert(out.contains(("red widget", "rd wdget", 2)))
    assert(!out.exists(_._2 == "hot plate"), "unrelated key must not match")
  }

  test("fuzzy join prefix filter is result-neutral and prunes candidates") {
    // suffixed-name corpus (the q113 shape, denser): shared adjective/
    // noun vocabulary ensures heavy cross-key gram collisions, numeric
    // suffixes keep keys distinct; the feed drops one deterministic char
    val adjs = Seq("red", "blue", "hot", "cold", "dim", "pale")
    val nouns = Seq("widget", "anvil", "gear", "plate", "crate", "spool")
    val names = for (a <- adjs; b <- nouns; i <- 0 until 14)
      yield s"$a $b $i"
    val cat = names.toDF("name")
    val feed = names.zipWithIndex.collect { case (n, i) if i % 3 == 0 =>
      val p = i % 5 + 2
      n.substring(0, p) + n.substring(p + 1)
    }.toDF("fname")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))
    // Jaccard face: prefix on/off and broadcast/shuffle df all agree
    val jOn = rows(graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 50))
    val jOff = rows(graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 50,
        usePrefix = false))
    val jShuf = rows(graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 50,
        broadcastDf = false))
    assert(jOn.nonEmpty, "fixture must produce matches")
    assert(jOn == jOff, "prefix filter must be result-neutral (Jaccard)")
    assert(jOn == jShuf, "shuffle-df fallback must be result-neutral")
    // edit face
    val eOn = rows(graft.operators.Joins
      .fuzzyKeyJoinEdit(cat, feed, "name", "fname", 3, 2, 50))
    val eOff = rows(graft.operators.Joins
      .fuzzyKeyJoinEdit(cat, feed, "name", "fname", 3, 2, 50,
        usePrefix = false))
    assert(eOn.nonEmpty && eOn == eOff,
      "prefix filter must be result-neutral (edit distance)")
    // and the point of the filter: the candidate pair table SHRINKS.
    // Measured with maxDf slack (1e5 ≈ no hot-gram prune) because that
    // is the regime where the prefix is the ONLY pruner — at tight
    // maxDf the df-prune leaves fewer grams per key than the prefix
    // budget and there is nothing left to cut (the scale case is the
    // slack one: a production maxDf is large relative to most grams).
    val pfx: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      n => (floor(lit(0.5 + 1e-6) * n) + 1).cast("int")
    val on = graft.operators.Joins
      .fuzzyCandidates(cat, feed, "name", "fname", 3, 100000, pfx)
    val off = graft.operators.Joins
      .fuzzyCandidates(cat, feed, "name", "fname", 3, 100000, pfx,
        usePrefix = false)
    val nOn = on.cand.count(); val nOff = off.cand.count()
    assert(nOn < nOff,
      s"prefix must prune candidates: $nOn !< $nOff")
    // the equi-join INPUT (the quadratic-risk stage) shrinks harder
    // than the distinct pair table — assert it too
    val gOn = on.prunedL.count() + on.prunedR.count()
    val gOff = off.prunedL.count() + off.prunedR.count()
    assert(gOn < gOff,
      s"prefix must prune probing grams: $gOn !< $gOff")
    // neutrality must also hold in the slack-maxDf regime where the
    // prefix actually drops grams (the tight-maxDf checks above pass
    // trivially when the prefix is inert)
    val jOnBig = rows(graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 100000))
    val jOffBig = rows(graft.operators.Joins
      .fuzzyKeyJoin(cat, feed, "name", "fname", 3, 0.5, 100000,
        usePrefix = false))
    assert(jOnBig.nonEmpty && jOnBig == jOffBig,
      "prefix must be result-neutral when actively pruning (Jaccard)")
    val eOnBig = rows(graft.operators.Joins
      .fuzzyKeyJoinEdit(cat, feed, "name", "fname", 3, 2, 100000))
    val eOffBig = rows(graft.operators.Joins
      .fuzzyKeyJoinEdit(cat, feed, "name", "fname", 3, 2, 100000,
        usePrefix = false))
    assert(eOnBig.nonEmpty && eOnBig == eOffBig,
      "prefix must be result-neutral when actively pruning (edit)")
  }

  test("histogram quantile matches direct R-7 on random duplicated multisets") {
    // the exact path is a distributed histogram + interpolation, not a
    // value-multiset buffer — it must agree with naive R-7 bit-for-bit
    // (modulo 1e-12) on arbitrary data, including heavy duplication,
    // n=1, and negative values
    def r7(sorted: IndexedSeq[Double], p: Double): Double = {
      val n = sorted.length
      val h = (n - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, n - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }
    val rnd = new scala.util.Random(42)
    val cases = Seq(1, 2, 3, 17, 100, 257).map { n =>
      Seq.fill(n)((rnd.nextInt(41) - 20).toDouble / (1 + rnd.nextInt(4)))
    }
    for (vals <- cases) {
      val df = vals.toDF("a")
      val row = Extents.extents(df, Seq("a")).collect()(0)
      val sorted = vals.sorted.toIndexedSeq
      assert(row.getAs[Double]("vmin") == sorted.head)
      assert(row.getAs[Double]("vmax") == sorted.last)
      assert(math.abs(row.getAs[Double]("q1") - r7(sorted, 0.01)) < 1e-12,
        s"q1 n=${vals.length}")
      assert(math.abs(row.getAs[Double]("q99") - r7(sorted, 0.99)) < 1e-12,
        s"q99 n=${vals.length}")
    }
  }

  test("quantileBins: near-equal bins, ties in one bin, ranges partition") {
    // 1000 distinct values → 8 bins of exactly 125 rows
    val df = (1 to 1000).map(_.toDouble).toDF("a")
    val bins = Extents.quantileBins(df, Seq("a"), 8).collect()
    assert(bins.length == 8)
    assert(bins.forall(_.getAs[Long]("n_rows") == 125L))
    // bin value-ranges are disjoint and ordered
    val sorted = bins.sortBy(_.getAs[Int]("bin"))
    sorted.sliding(2).foreach { case Array(x, y) =>
      assert(x.getAs[Double]("hi") < y.getAs[Double]("lo"))
    }
    // heavy tie: one value holding 60% of rows lands in ONE bin (a
    // discretizer must map equal values equally — row-ntile would
    // split them across bins)
    val tied = (Seq.fill(600)(5.0) ++ (1 to 400).map(_.toDouble + 1000))
      .toDF("a")
    val tb = Extents.quantileBins(tied, Seq("a"), 4).collect()
    assert(tb.count(r => r.getAs[Double]("lo") <= 5.0 &&
      5.0 <= r.getAs[Double]("hi")) == 1, "tied value must occupy one bin")
    assert(tb.map(_.getAs[Long]("n_rows")).sum == 1000L)
  }

  test("approxBinCuts: bins over GK cuts honor the exact path's contract") {
    val k = 8
    val accuracy = 10000 // GK ε = 1e-4
    // the contract for the bins of column c of df
    def honorsContract(df: DataFrame, c: String): Unit = {
      val groups = df.groupBy(c).count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val n = groups.values.sum
      val bins = Extents.binByCuts(df, Seq(c),
          Extents.approxBinCuts(df, Seq(c), k, accuracy))
        .collect().sortBy(_.getAs[Int]("bin"))
      // bins are disjoint, ordered, exhaustive: 0..m contiguous, value
      // ranges strictly increasing, counts sum to n
      assert(bins.map(_.getAs[Int]("bin")).toSeq == (0 until bins.length),
        s"$c: bin ids must be contiguous from 0")
      assert(bins.map(_.getAs[Long]("n_rows")).sum == n, c)
      bins.sliding(2).foreach {
        case Array(x, y) =>
          assert(x.getAs[Double]("hi") < y.getAs[Double]("lo"),
            s"$c: bin value-ranges must be disjoint and ordered")
        case _ =>
      }
      // ties in one bin: every distinct value's range containment is
      // unique (bin is a pure function of the value)
      for (v <- groups.keys)
        assert(bins.count(r => r.getAs[Double]("lo") <= v &&
          v <= r.getAs[Double]("hi")) == 1, s"$c: value $v split across bins")
      // per-bin balance: |count − n/k| ≤ 2ε·n + tie mass. Each bin has
      // two cuts; each cut's rank error is ≤ ε·n and ties at a cut value
      // move that value's whole mass to one side — bound the tie term by
      // the heaviest value's multiplicity per cut.
      val maxTie = groups.values.max
      val slack = math.ceil(2 * n / accuracy.toDouble).toLong + 2 * maxTie
      for (b <- bins) {
        val cnt = b.getAs[Long]("n_rows")
        assert(math.abs(cnt - n / k) <= slack,
          s"$c: bin ${b.getAs[Int]("bin")} count $cnt vs n/k=${n / k} slack $slack")
      }
    }
    // duplicated random multiset — ties are the hard part of the
    // contract. 400 distinct values, each repeated 1..80 times (seeded).
    val rnd = new scala.util.Random(7)
    val vals = (0 until 400).map { _ =>
      ((rnd.nextInt(4000) - 2000).toDouble / 7, 1 + rnd.nextInt(80))
    }.toMap // Map dedups colliding draws — (value -> count) histogram
      .toSeq.flatMap { case (v, c) => Seq.fill(c)(v) }
    honorsContract(scala.util.Random.shuffle(vals).toDF("a"), "a")
    // real columns with heavy ties: sf0.001 lineitem's 6,000 rows hold
    // 50 distinct quantities and 11 distinct discounts
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    for (c <- Seq("l_quantity", "l_discount")) honorsContract(li.select(c), c)
    // agreement with the exact path: on a tie-free uniform multiset the
    // ε=1e-4 sketch is rank-exact at this n, so the two paths must
    // produce the SAME bins (count and value range, bit-for-bit)
    val uni = (1 to 1000).map(_.toDouble).toDF("a")
    val ex = Extents.quantileBins(uni, Seq("a"), k).collect()
      .map(r => (r.getAs[Int]("bin"),
        (r.getAs[Long]("n_rows"), r.getAs[Double]("lo"), r.getAs[Double]("hi"))))
    val ap = Extents.binByCuts(uni, Seq("a"),
        Extents.approxBinCuts(uni, Seq("a"), k, accuracy)).collect()
      .map(r => (r.getAs[Int]("bin"),
        (r.getAs[Long]("n_rows"), r.getAs[Double]("lo"), r.getAs[Double]("hi"))))
    assert(ap.toMap == ex.toMap,
      "tie-free small-n bins must agree with the exact path")
  }

  test("approximate extents stay within 2% of exact quantiles") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 5000).map(_ => rnd.nextDouble() * 1000).toDF("a")
    val exact = Extents.extents(df, Seq("a")).collect()(0)
    val approx = Extents.extents(df, Seq("a"), approximate = true).collect()(0)
    for (i <- Seq(3, 4)) // q1, q99
      assert(math.abs(approx.getDouble(i) - exact.getDouble(i)) <=
        0.02 * math.max(1.0, math.abs(exact.getDouble(i))))
  }

  test("approximate grouped extents stay within 2% of exact quantiles") {
    val rnd = new scala.util.Random(13)
    val df = (0 until 5000)
      .map(i => (if (i % 2 == 0) "g1" else "g2", rnd.nextDouble() * 1000))
      .toDF("grp", "a")
    val exact = Extents.extentsBy(df, "grp", Seq("a")).collect()
    val approx = Extents.extentsBy(df, "grp", Seq("a"), approximate = true)
      .collect()
    assert(exact.length == 2 && approx.length == 2)
    // percentile_approx returns a member value (no R-7 interpolation),
    // so bound the error relative to the group's value RANGE — the
    // scale that matters for choropleth breaks — not the quantile value
    // itself (q1 ~ 10 here, below the ~0.4 inter-value spacing).
    // output layout: (grp, id, vmin, vmax, q1, q99)
    for ((e, a) <- exact.zip(approx); i <- Seq(4, 5)) { // q1, q99 per group
      val range = e.getDouble(3) - e.getDouble(2) // vmax - vmin
      assert(math.abs(a.getDouble(i) - e.getDouble(i)) <= 0.01 * range)
    }
  }

  test("GEOID stays string: leading zeros survive the pivot round-trip") {
    val long = Seq(("01234", "00", 1.0, 1L)).toDF("id", "yy", "v", "ord")
    val wide = Shape.pivotWide(long, "id", Nil, "yy", Seq("v"), Seq("00"), "ord")
    assert(wide.collect()(0).getString(0) == "01234")
  }

  test("events loader: wall-clock preserved and hour windows align under NTZ") {
    // the testdata's ts encoding has drifted across rounds (INT64 nanos
    // → TIMESTAMP_NTZ micros); this pins the loader's contract against
    // whichever generation is on disk. The risk being guarded: an
    // instant-vs-naive interpretation shift silently moving a row
    // across a window/as-of/RANGE boundary.
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
    // one normalized output type, whatever the file stored
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // wall-clock identity for a known fixture row (min event_id): the
    // loaded ts formats to the same second the file stores. For the NTZ
    // generation date_format over the RAW column is timezone-free — an
    // independent ground truth for the loader's cast.
    val raw = spark.read.parquet(s"$d/events.parquet")
    val rawFmt = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd HH:mm:ss")
      case _ => date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
    }
    val expected = raw.orderBy("event_id").limit(1)
      .select(rawFmt.as("f")).head().getString(0)
    val got = ev.orderBy("event_id").limit(1)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("f"))
      .head().getString(0)
    assert(got == expected, s"loader shifted the wall clock: $got != $expected")
    // q06's tumbling window must start at the row's truncated hour and
    // contain the row — micro-aligned to the epoch hour grid
    val r = ev.orderBy("event_id").limit(1)
      .select(unix_micros(col("ts")).as("t"),
        unix_micros(window(col("ts"), "1 hour").getField("start")).as("ws"),
        unix_micros(date_trunc("hour", col("ts"))).as("tr"))
      .head()
    val (t, ws, tr) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(ws == tr, "window start must equal date_trunc('hour')")
    assert(ws % 3600000000L == 0, "window start must sit on the hour grid")
    assert(t >= ws && t < ws + 3600000000L, "row must fall inside its window")
  }

  test("profileColumns: nulls counted, distinct excludes null, integer-micro mean") {
    val df = Seq(
      (Some(1.5), Some(10.0)),
      (Some(1.5), None),
      (Some(2.5), Some(30.0)),
      (None, None)
    ).toDF("a", "b")
    val out = Extents.profileColumns(df, Seq("a", "b"))
      .orderBy("col_name").collect()
    val a = out(0); val b = out(1)
    assert(a.getString(0) == "a" && b.getString(0) == "b")
    // a: 4 rows, 1 null, 2 distinct, mean = (1.5+1.5+2.5)/3 = 1833333 micro
    assert((a.getLong(1), a.getLong(2), a.getLong(3)) == ((4L, 1L, 2L)))
    assert(a.getDouble(4) == 1.5 && a.getDouble(5) == 2.5)
    // sum_micro rides a DECIMAL(38,0) accumulator (a corpus-scale key
    // column overflows BIGINT) and is emitted as its canonical digit
    // string — the one type whose driver hash canonicalization
    // diverged between engines (r9 q101)
    assert(a.getString(6) == "5500000" && a.getLong(7) == 1833333L)
    // b: 2 nulls, 2 distinct, mean = 20000000 micro exactly
    assert((b.getLong(1), b.getLong(2), b.getLong(3)) == ((4L, 2L, 2L)))
    assert(b.getLong(7) == 20000000L)
  }

  test("profileColumns: negative mean truncates toward zero (both engines)") {
    // sum = -7.0 over 2 non-null rows → -7000000 div 2 = -3500000
    // exactly; sum = -7.0 over 3 rows (third = 0) → -7000000/3 =
    // -2333333.33 → Spark `div` and DuckDB integer `//` BOTH truncate
    // toward zero (verified: -7//2 = -3 in DuckDB), so -2333333, not
    // floor's -2333334
    val out = Extents.profileColumns(
        Seq(-3.5, -3.5, 0.0).toDF("a"), Seq("a"))
      .collect().head
    assert(out.getString(6) == "-7000000", "negative sum digit string")
    assert(out.getLong(7) == -2333333L,
      "negative mean must truncate toward zero, matching DuckDB //")
  }

  test("profileColumns: an all-null column yields null mean, zero distinct") {
    val out = Extents.profileColumns(
        Seq((Option.empty[Double], 1.0), (None, 2.0)).toDF("a", "b"),
        Seq("a"))
      .collect().head
    assert(out.getLong(2) == 2L && out.getLong(3) == 0L)
    assert(out.isNullAt(7), "mean over zero non-null rows must be null")
  }
}
