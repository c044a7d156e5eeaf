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
    * through minus the prefix): the digits alone are unique across the
    * catalog (spec-pinned), and each char per entry is ~150 chars of the
    * tail.
    */
  def compactKey(name: String): String =
    name.takeWhile(_ != '_').stripPrefix("q")

  def ms3(v: Double): String = f"$v%.3f"

  /** Per-query entries are INTEGER CENTISECONDS, declared per line
    * ("unit":"cs"): 2-decimal seconds overflowed the 2 KB tail at 135
    * queries, and 10 ms resolution is noise-level against the ≥10%
    * ambient drift the canary documents. The total line keeps 3-decimal
    * seconds.
    */
  def cs(v: Double): String = math.round(v * 100).toString

  /** The per-query timing map as 1..n JSON lines, each ≤ `maxLine`
    * chars. Every line is self-describing — the metric name
    * `per_query_cs` declares the unit, and each line is standalone
    * JSON — so the driver can regex-recover all entries from the tail
    * without needing one parseable super-line.
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

  /** The final total-only line: the raw sum of the reported per-query
    * seconds. SHORT by construction so the tail always holds it in
    * full; it must stay the last stdout line.
    */
  def totalLine(total: Double, sf: String): String =
    s"""{"metric":"total","value":${ms3(total)},"unit":"sec","sf":"$sf"}"""
}
