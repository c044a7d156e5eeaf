package graft

/** The bench protocol's decisions as pure functions, so the spec
  * (BenchProtocolSpec) can pin them without running a suite:
  * whether a second timed pass fits the wall budget, which samples a
  * query's reported time is taken from, and the spacer that keeps a
  * completed run's stdout tail free of provisional values. [[Bench]]
  * runs the queries and prints; this object only decides.
  */
object BenchProtocol {

  /** Safety factor on the pass-time estimate: an estimate taken in a
    * fast window must not green-light a pass that a slightly slower
    * window pushes past the budget.
    */
  val Margin = 1.2

  /** Run another timed pass? (Pass 1 always runs; this gates pass 2.)
    * The estimate is the wall of the latest completed pass, so a
    * throttled host that doubles pass time halves the sample count
    * instead of overrunning the budget.
    */
  def nextPassFits(elapsedS: Double, budgetS: Double,
                   estPassS: Double): Boolean =
    elapsedS + estPassS * Margin <= budgetS

  /** One query's wall time in one pass, and whether it succeeded. */
  final case class Sample(query: String, seconds: Double, ok: Boolean)

  /** Each query's reported time: its minimum over the passes in which
    * it succeeded, in the order the passes ran the queries. A failed sample's time is how
    * long the query took to fail (near 0 for an immediate throw, the
    * deadline for a watchdog kill), not a measurement, so it never
    * counts; a query that failed in every pass is left out.
    */
  def minOverSuccesses(passes: Seq[Seq[Sample]]): Seq[(String, Double)] = {
    val all = passes.flatten
    val best = all.filter(_.ok).groupMapReduce(_.query)(_.seconds)(math.min)
    all.map(_.query).distinct.flatMap(q => best.get(q).map(q -> _))
  }

  /** The tail-safety spacer printed immediately before the final
    * block: only the last ~2 KB of stdout is kept, and the
    * provisional blocks streamed after each pass use the same line
    * format as the final block — without the spacer, a surviving
    * provisional `per_query_cs` fragment (a single-pass sample, not
    * the min) could alias into the tail reader's position-independent entry
    * recovery. 2 KB of padding guarantees the tail window contains
    * only final-block lines (plus inert padding).
    */
  def spacerLine(width: Int = 2000): String =
    """{"metric":"spacer","pad":"""" + ("." * math.max(0, width - 28)) +
      "\"}"
}
