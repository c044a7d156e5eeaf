package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Extents, Shape}

/** Seeded-random property tests for the Spark operators (SURVEY.md §5
  * item 3): pivot/unpivot invariants and extents ordering over generated
  * long tables.
  */
class PivotPropertiesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def randomLong(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val years = Seq("00", "01", "02")
    val rows = for {
      id <- (0 until 30).map(i => f"${rnd.nextInt(20)}%05d")
      y <- years if rnd.nextBoolean()
    } yield (id, y, rnd.nextDouble() * 100, rnd.nextLong(1000000))
    rows.toDF("id", "yy", "v", "ord")
  }

  test("pivot row count == distinct ids; cells match max_by oracle (seeds)") {
    for (seed <- Seq(1, 7, 42)) {
      val long = randomLong(seed).cache()
      val wide = Shape.pivotWide(long, "id", Nil, "yy", Seq("v"),
        Seq("00", "01", "02"), "ord")
      assert(wide.count() == long.select("id").distinct().count())
      // unpivot(pivot) == last-wins-reduced original
      val back = wide.selectExpr("id",
        "stack(3, '00', `v-00`, '01', `v-01`, '02', `v-02`) as (yy, v)")
        .filter($"v".isNotNull)
      val reduced = long.groupBy("id", "yy").agg(max_by($"v", $"ord").as("v"))
      assert(back.except(reduced).count() == 0)
      assert(reduced.except(back).count() == 0)
      long.unpersist()
    }
  }

  test("extents invariants hold for random numeric tables (seeds)") {
    for (seed <- Seq(3, 9)) {
      val rnd = new scala.util.Random(seed)
      val df = (0 until 200).map(_ => (rnd.nextDouble() * 1000 - 500,
        rnd.nextGaussian())).toDF("a", "b")
      val rows = Extents.extents(df, Seq("a", "b")).collect()
      assert(rows.length == 2)
      for (r <- rows) {
        val (mn, mx, q1, q99) = (r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))
        assert(mn <= q1 && q1 <= q99 && q99 <= mx)
      }
    }
  }

  /** Runs `body` with 4 shuffle partitions that AQE does not coalesce,
    * so the folds see several range partitions on tiny inputs.
    */
  private def withRangeSplits[A](body: => A): A = {
    val confs = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("pivot fold equals a driver last-wins recompute across range partitions") {
    for (seed <- Seq(5, 17, 23)) withRangeSplits {
      val rnd = new scala.util.Random(seed)
      val years = Seq("00", "01", "02")
      def row(i: Int) = (Option.when(i % 37 != 5)(f"${rnd.nextInt(12)}%03d"),
        years(rnd.nextInt(3)), s"c$i", Option.when(rnd.nextInt(5) > 0)(rnd.nextDouble()),
        Option.when(rnd.nextInt(9) > 0)(rnd.nextLong(1000000L)))
      val first = (0 until 60).map(row)
      // the same (id, year) keys again, in the last of three input
      // partitions: every duplicate straddles input partitions
      val rows = first ++ (60 until 90).map(row) ++ first.take(30).zipWithIndex.map {
        case ((id, yy, _, _, _), i) =>
          (id, yy, s"d$i", Some(rnd.nextDouble()), Some(rnd.nextLong(1000000L)))
      } ++ Seq( // a year, and an id, whose only rows have a null ord
        (Some("n01"), "00", "a", Some(5.0), Some(10L)), (Some("n01"), "01", "b", Some(6.0), None),
        (Some("n02"), "02", "c", Some(7.0), None))
      val long = spark.sparkContext.parallelize(rows, 3).toDF("id", "yy", "c", "v", "ord")
      val wide = Shape.pivotWide(long, "id", Seq("c"), "yy", Seq("v"), years, "ord")
      assert(wide.rdd.getNumPartitions >= 3, "the pivot must span several range partitions")
      val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rs) =>
        val live = rs.filter(_._5.isDefined).sortBy(_._5.get)
        (id +: live.lastOption.map(_._3) +: years.map(y =>
          live.filter(_._2 == y).lastOption.flatMap(_._4))).mkString("|")
      }
      val got = wide.collect().map(r => (Option(r.getString(0)) +:
        Option(r.getString(1)) +: (2 to 4).map(i =>
          Option.when(!r.isNullAt(i))(r.getDouble(i)))).mkString("|")).toSeq
      assert(got == expected, s"seed $seed")
    }
  }

  test("rank folds equal a driver recompute: R-7, ties in one bin, midrank cdf") {
    // a small value pool makes ties, including at partition edges; ±∞
    // values survive the numeric filter, NaN does not; g3 holds one
    // value per metric and g4 none at all
    val pool = Seq(Double.NegativeInfinity, -3.5, -1.0, 0.0, 0.25, 1.0, 2.0,
      7.0, 1e6, Double.PositiveInfinity, Double.NaN)
    for (seed <- Seq(2, 31)) withRangeSplits {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map { _ =>
        val g = s"g${rnd.nextInt(3)}"
        (g, pool(rnd.nextInt(pool.size)), if (rnd.nextBoolean()) rnd.nextInt(40).toDouble
          else pool(rnd.nextInt(pool.size)))
      } ++ Seq(("g3", 4.0, 4.0), ("g4", Double.NaN, Double.NaN))
      val df = rows.toDF("g", "a", "b")
      val split = Extents.rangedHist(Extents.numericLong(df, Seq("a", "b")), Seq("id"))
        .groupBy("id").agg(countDistinct("pid").as("p")).collect()
      assert(split.exists(_.getLong(1) >= 3), "a metric must span >= 3 range partitions")

      def cells(keep: ((String, Double, Double)) => Boolean) = Seq("a" -> rows.filter(keep)
        .map(_._2), "b" -> rows.filter(keep).map(_._3)).map { case (m, vs) =>
        m -> vs.filterNot(_.isNaN).sorted }.filter(_._2.nonEmpty)
      def r7(s: Seq[Double], p: Double): Double = {
        val h = (s.size - 1) * p
        val lo = math.floor(h).toInt
        s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
      }
      def ext(vs: Seq[(String, Seq[Double])], lo: Double, hi: Double) =
        vs.map { case (m, s) => Seq(m, s.head, s.last, r7(s, lo), r7(s, hi)) }
      // compared as text, so NaN (−∞ + ∞ in an R-7 step) equals NaN
      def show(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.mkString("|")).toSeq
      def text(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|"))

      assert(show(Extents.extents(df, Seq("b", "a"))) == text(ext(cells(_ => true), 0.01, 0.99)))
      val groups = rows.map(_._1).distinct.sorted
      assert(show(Extents.extentsBy(df, "g", Seq("a", "b"), lo = 0.5, hi = 0.9)) ==
        text(groups.flatMap(g => ext(cells(_._1 == g), 0.5, 0.9).map(g +: _))))

      // distinct values of a metric with their count and the rows below
      def hist(s: Seq[Double]) = s.distinct.map(v => (v, s.count(_ == v).toLong,
        s.count(_ < v).toLong))
      for (k <- Seq(1, 3, 8)) {
        val bins = cells(_ => true).flatMap { case (m, s) =>
          hist(s).groupBy { case (_, _, before) =>
            math.min(k - 1L, before * k / s.size).toInt }.toSeq.sortBy(_._1).map {
            case (bin, hs) => Seq(m, bin, hs.map(_._2).sum, hs.map(_._1).min, hs.map(_._1).max)
          }
        }
        assert(show(Extents.quantileBins(df, Seq("a", "b"), k)) == text(bins), s"k = $k")
      }
      val cdf = Extents.cdfTransform(df, Seq("b", "a"))
      assert(show(cdf) == text(cells(_ => true).flatMap { case (m, s) =>
        hist(s).map { case (v, c, before) => Seq(m, v, c,
          BigDecimal((before + c * 0.5) / s.size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble) }
      }))
      graft.Pipeline.releaseCheckpoint(cdf)
    }
  }

  test("rename is a bijection on mapped columns (no collisions, order kept)") {
    val mapping = Seq("a" -> "x", "b" -> "y", "c" -> "z")
    val df = Seq((1, 2, 3, 4)).toDF("a", "b", "c", "unmapped")
    val out = Shape.renameColumns(df, mapping)
    assert(out.columns.toSeq == Seq("x", "y", "z"))
    assert(mapping.map(_._2).distinct.length == mapping.length)
  }
}
