package graft

/** Renders the bench's stdout lines under the driver's capture
  * constraint: only the LAST ~2000 characters of stdout survive (the
  * driver tails the process), so the per-query timing map must fit —
  * together with the final total line — inside that window, and no
  * single line may be long enough to push the others out.
  *
  * Two levers (BENCH_r04–r08 history: full map on one line = truncated,
  * "parsed": null):
  *  - COMPACT KEYS: "01" not "q01_pricing_summary" — the digits are
  *    unique across the catalog (spec-pinned) and join back to the
  *    full name via CORRECTNESS_r{N}.json.
  *  - CHUNKED LINES: the map is split across several part lines, each
  *    under `maxLine` chars, so every part plus the short total line
  *    co-exists in the tail.
  */
object BenchFormat {

  /** "q01_pricing_summary" → "01" (names without an underscore pass
    * through minus the prefix). The leading "q" was dropped as the r16
    * tail lever — the digits alone are unique across the catalog
    * (spec-pinned) and join back to full names via
    * CORRECTNESS_r{N}.json's qNN prefixes; at 145+ queries that one
    * character per entry is ~150 chars of the ~2000-char window.
    */
  def compactKey(name: String): String =
    name.takeWhile(_ != '_').stripPrefix("q")

  def ms3(v: Double): String = f"$v%.3f"

  /** Per-query entries are INTEGER CENTISECONDS, declared per line
    * ("unit":"cs"): at 135 registered queries even 2-decimal seconds
    * overflowed the 2 KB tail (the guard spec's history: 3-decimal
    * broke at 127, 2-decimal at 135). Integers drop the fixed ".xx"
    * cost — sub-second queries (most of the suite) go from 4 chars to
    * 2 — and 10 ms resolution is noise-level against the ≥10% ambient
    * drift the canary documents. The total and canary lines keep
    * 3-decimal seconds (few chars; the canary's ~0.15 s probes need
    * them).
    */
  def cs(v: Double): String = math.round(v * 100).toString

  /** "/root/testdata/sf0.1" → "sf0.1" — used by the canary line; the
    * per-query part lines carry no sf at all anymore (one bench run is
    * one sf, the total line has the full dir — every repeated char was
    * tail-budget cost).
    */
  def sfTag(sf: String): String = sf.split('/').last

  /** The per-query timing map as 1..n JSON lines, each ≤ `maxLine`
    * chars. Every line is self-describing — the metric name
    * `per_query_cs` declares the unit, and each line is standalone
    * JSON — so the driver can regex-recover all entries from the tail
    * without needing one parseable super-line. The r14 tail levers
    * (the catalog crossed the previous skeleton's budget at 144
    * queries): the `part` label is gone (the driver never consumed
    * it — lines are position-independent), and the per-line unit
    * field folded into the metric name.
    */
  def perQueryLines(results: Seq[(String, Double)],
                    maxLine: Int = 900): Seq[String] = {
    val keys = results.map(r => compactKey(r._1))
    require(keys.distinct.size == keys.size,
      s"compact bench keys must be unique, got collisions: " +
        keys.diff(keys.distinct).distinct.mkString(","))
    val entries = results.map { case (k, v) =>
      "\"" + compactKey(k) + "\":" + cs(v)
    }
    // "q" not "queries": the map label is repeated once per part line —
    // the other half of the r16 tail lever
    val overhead =
      s"""{"metric":"per_query_cs","q":{}}""".length
    val budget = math.max(maxLine - overhead, 40)
    val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
      val cur = acc.last
      val curLen = cur.map(_.length + 1).sum
      if (cur.nonEmpty && curLen + e.length > budget)
        acc :+ Vector(e)
      else acc.init :+ (cur :+ e)
    }
    chunks.map { c =>
      s"""{"metric":"per_query_cs","q":{${c.mkString(",")}}}"""
    }
  }

  /** The host-speed context line ([[Canary]]): one short JSON line
    * carrying each probe's minimum over the bracket's two samples,
    * placed directly before the per-query parts and the total line so
    * it survives inside the 2 KB stdout tail with them (≈85 chars,
    * budgeted in the same ~2 KB window the part lines are chunked for).
    */
  def canaryLine(probes: Seq[(String, Double)], sf: String): String = {
    val entries = probes
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString(",")
    // "p" not "probes": every repeated char in a fixed line is budget
    s"""{"metric":"canary","sf":"${sfTag(sf)}","p":{$entries}}"""
  }

  /** The final total-only line: the raw sum of the reported per-query
    * seconds. SHORT by construction so the tail always holds it in
    * full; it must stay the last stdout line.
    */
  def totalLine(total: Double, sf: String): String =
    s"""{"metric":"total","value":${ms3(total)},"unit":"sec","sf":"$sf"}"""
}
