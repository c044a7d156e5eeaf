package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's stdout contract against the driver's ~2000-char
  * tail capture: every emitted line stays well under the window, the
  * WHOLE footprint (all per-query part lines + the final total line)
  * fits in the tail at once, and every registered query's timing is
  * recoverable from the emitted text. Uses the real SparkEntry query
  * catalog so a new query that would overflow the tail fails here
  * before a round loses its bench — plus a 170-query synthetic
  * catalog, so the NEXT ~25 additions are pre-cleared (the r15 round's
  * ask: spend the tail lever before the catalog grows, not after).
  */
class BenchFormatSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val fake = names.zipWithIndex.map { case (n, i) =>
    n -> (i * 1.234 + 0.056)
  }
  private val sf = "/root/testdata/sf0.1"
  private val lines = BenchFormat.perQueryLines(fake)
  private val total = BenchFormat.totalLine(fake.map(_._2).sum, sf)
  // the canary line lives in the same tail window — budget it with the
  // rest (4 probes incl. r16's mcpu, worst-case 2-digit seconds)
  private val canary = BenchFormat.canaryLine(
    Canary.names.map(_ -> 99.999), sf)

  test("compact numeric keys are unique across the whole catalog") {
    val keys = names.map(BenchFormat.compactKey)
    assert(keys.distinct.size == keys.size)
    assert(names.forall(_.matches("q\\d+_.*")),
      "every catalog entry must carry a qNN_ prefix")
    assert(keys.forall(_.matches("\\d+")),
      "compact keys are the bare digits (the r16 tail lever)")
  }

  test("every emitted line is <= 900 chars; the total line is short") {
    for (l <- lines) assert(l.length <= 900, s"line too long (${l.length}): $l")
    assert(total.length <= 150)
  }

  test("all part lines + canary + total fit the 2000-char driver tail") {
    val footprint = (lines :+ canary :+ total).map(_.length + 1).sum
    assert(footprint <= 1900,
      s"bench stdout footprint $footprint would overflow the driver tail — " +
        "shrink keys or drop precision before adding more queries")
  }

  test("a 170-query catalog still fits the tail (headroom for future rounds)") {
    // conservative synthetic values: up to ~37 s per query (4-digit
    // centiseconds) — an order past the real suite's worst entry
    def synthAt(n: Int) = (1 to n).map(i =>
      f"q$i%02d_synthetic" -> ((i % 30) * 1.234 + 0.056))
    // at 160 queries EVERYTHING — parts, canary, total — co-exists
    val s160 = synthAt(160)
    val f160 = (BenchFormat.perQueryLines(s160) :+ canary :+
      BenchFormat.totalLine(s160.map(_._2).sum, sf))
      .map(_.length + 1).sum
    assert(f160 <= 1900,
      s"160 synthetic queries + canary overflow at $f160 — next lever needed")
    // at 170 the HARD requirement (per-query parts + total) still fits;
    // the canary is the designed first casualty of tail pressure — the
    // bench prints it to stderr too, so the calibration record survives
    // in the driver log even after the stdout copy scrolls out
    val synth = synthAt(170)
    val sLines = BenchFormat.perQueryLines(synth)
    val sTotal = BenchFormat.totalLine(synth.map(_._2).sum, sf)
    val footprint = (sLines :+ sTotal).map(_.length + 1).sum
    assert(footprint <= 1900,
      s"170 synthetic queries overflow at $footprint — next lever needed")
    // and every timing still recovers
    val entry = """"(\d+)":(\d+)""".r
    val got = sLines.flatMap(l => entry.findAllMatchIn(l)
      .map(m => m.group(1))).toSet
    assert(got == synth.map(s => BenchFormat.compactKey(s._1)).toSet)
  }

  test("every query's timing is regex-recoverable from the emitted lines") {
    val entry = """"(\d+)":(\d+)""".r
    val got = lines.flatMap(l => entry.findAllMatchIn(l)
      .map(m => m.group(1) -> m.group(2).toLong)).toMap
    assert(got.keySet == names.map(BenchFormat.compactKey).toSet)
    for ((n, v) <- fake) // centiseconds, declared "unit":"cs" per line
      assert(math.abs(got(BenchFormat.compactKey(n)) - v * 100) <= 0.5 + 1e-9)
  }

  test("per-query lines declare the centisecond unit in the metric name") {
    for (l <- lines) assert(l.contains(""""metric":"per_query_cs""""), l)
  }

  test("every line is valid standalone JSON with the per_query_cs marker") {
    // no JSON lib on the unmanaged classpath — structural smoke checks
    for (l <- lines) {
      assert(l.startsWith("""{"metric":"per_query_cs","q":{"""))
      assert(l.endsWith("}}"))
      assert(l.count(_ == '{') == l.count(_ == '}'))
    }
    assert(total.startsWith("""{"metric":"total","value":"""))
    assert(""""(\w+)":""".r.findAllMatchIn(total).map(_.group(1)).toSeq ==
      Seq("metric", "value", "unit", "sf"), total)
  }
}
