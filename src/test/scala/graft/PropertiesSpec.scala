package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.Tiling
import graft.sinks.Mvt

/** ScalaCheck properties over the pure kernels (SURVEY.md §5 item 3). */
object TilingProperties extends Properties("tiling") {

  private val coord = Gen.choose(-1000.0, 1000.0)
  private val pointGen = Gen.zip(coord, coord)
  private val ringGen = for {
    n <- Gen.choose(3, 12)
    pts <- Gen.listOfN(n, pointGen)
  } yield pts

  property("simplify keeps endpoints and is a subsequence") =
    forAll(ringGen, Gen.choose(0.0, 50.0)) { (line, tol) =>
      val out = Tiling.simplify(line, tol)
      out.head == line.head && out.last == line.last &&
        out.forall(line.contains) && out.length <= line.length
    }

  property("simplify with tolerance 0 is identity") =
    forAll(ringGen) { line => Tiling.simplify(line, 0.0) == line }

  property("centroid of a convex quad lies inside it") =
    forAll(Gen.choose(1.0, 100.0), Gen.choose(1.0, 100.0)) { (w, h) =>
      val rect = Seq((0.0, 0.0), (w, 0.0), (w, h), (0.0, h), (0.0, 0.0))
      val (cx, cy) = Tiling.centroid(rect)
      cx > 0 && cx < w && cy > 0 && cy < h
    }

  property("polylabel of a rectangle is its center (max inscribed circle)") =
    forAll(Gen.choose(2.0, 50.0), Gen.choose(2.0, 50.0)) { (w, h) =>
      val rect = Seq((0.0, 0.0), (w, 0.0), (w, h), (0.0, h), (0.0, 0.0))
      val (px, py) = Tiling.polylabel(rect, 1e-3)
      // distance to edge at the pole == min(w,h)/2 within precision
      math.abs(Tiling.signedDist(px, py, rect) - math.min(w, h) / 2) < 0.05
    }

  property("signedDist is positive inside, negative outside") =
    forAll(Gen.choose(1.0, 50.0)) { s =>
      val sq = Seq((0.0, 0.0), (s, 0.0), (s, s), (0.0, s), (0.0, 0.0))
      Tiling.signedDist(s / 2, s / 2, sq) > 0 &&
        Tiling.signedDist(-1.0, -1.0, sq) < 0
    }

  property("clipRing output stays inside the clip rect") =
    forAll(ringGen, Gen.choose(-500.0, 0.0), Gen.choose(-500.0, 0.0),
      Gen.choose(1.0, 800.0), Gen.choose(1.0, 800.0)) { (ring, x0, y0, w, h) =>
      val out = graft.operators.Geometry.clipRing(ring, x0, y0, x0 + w, y0 + h)
      out.forall { case (x, y) =>
        x >= x0 - 1e-9 && x <= x0 + w + 1e-9 &&
          y >= y0 - 1e-9 && y <= y0 + h + 1e-9
      }
    }

  property("clipRing is identity (minus closing dup) for contained rings") =
    forAll(ringGen) { ring =>
      val closed = ring :+ ring.head
      val out = graft.operators.Geometry.clipRing(closed,
        -1001.0, -1001.0, 1001.0, 1001.0)
      out == ring
    }

  property("quantizeRing coords land on the [0, extent] grid") =
    forAll(ringGen) { ring =>
      graft.operators.Geometry.quantizeRing(ring, -500.0, -500.0, 4096)
        .forall { case (x, y) => x >= 0 && x <= 4096 && y >= 0 && y <= 4096 }
    }

  property("MVT point geometry roundtrips through zigzag deltas") =
    forAll(Gen.listOfN(5, Gen.zip(Gen.choose(0, 4095), Gen.choose(0, 4095)))) {
      pts =>
        val cmds = Mvt.encodeGeometry(Mvt.PointGeom,
          pts.flatMap(p => Seq(p._1, p._2)).toArray, Array(pts.length))
        def unzig(v: Long): Long = (v >>> 1) ^ -(v & 1)
        val decoded = cmds.tail.grouped(2).scanLeft((0L, 0L)) {
          case ((x, y), Seq(dx, dy)) => (x + unzig(dx), y + unzig(dy))
        }.drop(1).toSeq
        decoded == pts.map(p => (p._1.toLong, p._2.toLong))
    }
}

/** Properties of the banded-LSH scale rule (Similarity.lshKnobs). */
object LshKnobProperties extends Properties("lshKnobs") {
  import graft.operators.Similarity

  private val nGen = Gen.choose(1L, 1L << 40)
  private val dimGen = Gen.choose(8, 4096)

  property("bucket count is monotone nondecreasing in corpus size") =
    forAll(nGen, nGen, dimGen) { (n1, n2, dim) =>
      val (lo, hi) = if (n1 <= n2) (n1, n2) else (n2, n1)
      Similarity.lshKnobs(lo, dim).bucketsPerBand <=
        Similarity.lshKnobs(hi, dim).bucketsPerBand
    }

  property("bits never exceed what the axis-aligned family supports") =
    forAll(nGen, dimGen, Gen.choose(1, 8)) { (n, dim, bands) =>
      val k = Similarity.lshKnobs(n, dim, bands = bands)
      k.bitsPerBand >= 1 && k.bitsPerBand * bands <= dim
    }

  property("fan-in cap bounds skew above the target occupancy") =
    forAll(nGen, Gen.choose(1, 64)) { (n, target) =>
      val k = Similarity.lshKnobs(n, 64, targetBucket = target)
      k.maxBucket >= target && k.maxBucket <= 64 * target
    }

  property("verify-fixture anchor: 500 x 64-dim resolves to 4x8 bits, cap 64") =
    Prop(Similarity.lshKnobs(500, 64) == Similarity.LshKnobs(4, 8, 64))
}

/** Properties of the SQ8 quantization arithmetic (operators/Sq) — the
  * scalar mirror of the Column expressions (identical association:
  * code = round(((x−mn)/span)·255), recon = mn + (code·span)/255;
  * ExtensionOperatorsSpec covers the Spark wiring itself).
  */
object SqProperties extends Properties("sq8") {

  private val rangeGen = for {
    mn <- Gen.choose(-1000.0, 1000.0)
    w <- Gen.choose(1e-6, 2000.0)
  } yield (mn, mn + w)

  private def code(x: Double, mn: Double, span: Double): Long =
    math.round(((x - mn) / span) * 255.0)

  property("codes stay in [0, 255] for in-range values") =
    forAll(rangeGen, Gen.choose(0.0, 1.0)) { case ((mn, mx), t) =>
      val x = mn + (mx - mn) * t
      val c = code(x, mn, mx - mn)
      c >= 0 && c <= 255
    }

  property("range endpoints pin to code 0 and 255") =
    forAll(rangeGen) { case (mn, mx) =>
      code(mn, mn, mx - mn) == 0 && code(mx, mn, mx - mn) == 255
    }

  property("reconstruction error is at most half a quantization step") =
    forAll(rangeGen, Gen.choose(0.0, 1.0)) { case ((mn, mx), t) =>
      val span = mx - mn
      val x = mn + span * t
      val recon = mn + (code(x, mn, span) * span) / 255.0
      math.abs(recon - x) <= span / 255.0 / 2.0 + math.ulp(span) * 4
    }

  property("quantization is monotone: x1 <= x2 gives code(x1) <= code(x2)") =
    forAll(rangeGen, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) {
      case ((mn, mx), t1, t2) =>
        val span = mx - mn
        val (lo, hi) = if (t1 <= t2) (t1, t2) else (t2, t1)
        code(mn + span * lo, mn, span) <= code(mn + span * hi, mn, span)
    }
}
