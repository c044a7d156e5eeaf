package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.BpeTable

/** ScalaCheck properties for the BPE oracle protocol's load-bearing
  * claim: the priority encoder ([[BpeTable.encodeWord]] — merge the
  * leftmost occurrence of the lowest-rank adjacent pair, repeat) is
  * EQUIVALENT to applying each merge exhaustively in rank order with a
  * greedy left-to-right fold — which is what both the distributed
  * learner and the DuckDB recursive-CTE oracle do. BpeSpec pins it on
  * fixtures; these properties pin it on randomized corpora over a
  * 3-letter alphabet (short words, heavy repetition — the overlap-
  * greedy edge territory: runs like "aaab" where a merged symbol could
  * re-pair with its neighbor).
  *
  * The learner here is a PURE independent reimplementation of
  * `Bpe.learnMerges`'s contract (same vocabulary cap, same pair
  * weighting, same count-desc/left-asc/right-asc tie-break, same
  * min-pair-count stop) — a test oracle, deliberately not sharing code
  * with the operator; BpeSpec checks the learner against it.
  */
object BpeProperties extends Properties("bpe") {

  private val wordGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
  } yield cs.mkString

  private val corpusGen: Gen[List[String]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, wordGen))

  /** Greedy left-to-right application of one merge — the learner/oracle
    * fold semantics.
    */
  private def foldApply(syms: List[String], l: String, r: String): List[String] =
    syms.foldLeft(List.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
      else acc :+ s
    }

  /** UTF-8 byte order (Spark's string order) as a String key. */
  private def bytes(s: String): String =
    new String(s.getBytes("UTF-8"), "ISO-8859-1")

  /** `learnMerges` over a (word → cnt) table: vocabulary capped to the
    * `maxVocab` words by (cnt desc, word asc); each step merges the
    * pair of highest cnt-weighted count (ties: left asc, right asc),
    * folded greedily left to right; stops below `minPairCount`.
    */
  private[graft] def pureLearn(counts: Map[String, Long], numMerges: Int,
      maxVocab: Int = Int.MaxValue, minPairCount: Long = 2L)
      : List[(String, String)] = {
    var vocab: Seq[(Long, List[String])] = counts.toSeq
      .sortBy { case (w, c) => (-c, bytes(w)) }.take(maxVocab)
      .map { case (w, c) =>
        (c, w.codePoints().toArray.map(cp => new String(Array(cp), 0, 1)).toList)
      }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var stop = false
    for (_ <- 1 to numMerges if !stop) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((c, s) <- vocab; Seq(a, b) <- s.sliding(2) if s.length >= 2)
        pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0L) + c
      if (pairCounts.isEmpty) stop = true
      else {
        val ((l, r), c) = pairCounts.minBy { case ((l, r), c) =>
          (-c, bytes(l), bytes(r)) }
        if (c < minPairCount) stop = true
        else {
          out += ((l, r))
          vocab = vocab.map { case (c, s) => (c, foldApply(s, l, r)) }
        }
      }
    }
    out.toList
  }

  private def pureLearn(words: List[String], numMerges: Int): List[(String, String)] =
    pureLearn(words.groupBy(identity).view.mapValues(_.size.toLong).toMap, numMerges)

  property("priority encoder == rank-order exhaustive fold on every learned word") =
    forAll(corpusGen) { words =>
      val merges = pureLearn(words, 10)
      val table = new BpeTable(merges)
      words.distinct.forall { w =>
        var syms = w.map(_.toString).toList
        merges.foreach { case (l, r) => syms = foldApply(syms, l, r) }
        table.encodeWord(w).toList == syms
      }
    }

  property("tokens concatenate back to the word") =
    forAll(corpusGen) { words =>
      val table = new BpeTable(pureLearn(words, 10))
      words.forall(w => table.encodeWord(w).mkString == w)
    }

  property("every emitted token is a learned symbol or a single char") =
    forAll(corpusGen) { words =>
      val merges = pureLearn(words, 10)
      val products = merges.map { case (l, r) => l + r }.toSet
      val table = new BpeTable(merges)
      words.forall(w => table.encodeWord(w)
        .forall(t => t.length == 1 || products.contains(t)))
    }
}
