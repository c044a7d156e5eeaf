package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BpeTable
import graft.operators.Bpe

/** BPE tokenizer tier (q69): merge learning determinism, the hand-
  * checkable classic case, and the learner/encoder equivalence that
  * the oracle protocol rests on (exhaustive-in-rank-order application
  * == priority encoding).
  */
class BpeSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("learnMerges: hand-checkable merges on a one-word corpus") {
    // "aaab" x3: pairs (a,a)x2w=6, (a,b)w=3 -> merge1 (a,a)
    // [aa,a,b]: (aa,a)=3, (a,b)=3 tie -> left asc -> merge2 (a,b)
    // [aa,ab]: (aa,ab)=3 -> merge3
    // [aaab]: no pairs -> stop at 3 merges even though 5 requested
    val wc = corpus((1L, "aaab aaab aaab"))
    val merges = Bpe.learnMerges(Bpe.wordCounts(wc, "text"), numMerges = 5)
    assert(merges.map(m => (m.rank, m.left, m.right)) ==
      Seq((1, "a", "a"), (2, "a", "b"), (3, "aa", "ab")))
  }

  test("learnMerges is deterministic (same corpus -> byte-identical table)") {
    val docs = corpus((1L, "low lower lowest news newest"),
      (2L, "newest newest wide widest low low"),
      (3L, "the newest news of the widest lows"))
    val a = Bpe.learnMerges(Bpe.wordCounts(docs, "text"), 12)
    val b = Bpe.learnMerges(Bpe.wordCounts(docs, "text"), 12)
    assert(a == b)
    assert(a.nonEmpty && a.map(_.rank) == (1 to a.length))
  }

  test("learnMerges == a brute-force recompute, step by step (hand corpus, sf0.001)") {
    def check(wc: org.apache.spark.sql.DataFrame, numMerges: Int,
              maxVocab: Int = 65536, minPairCount: Long = 2L)
        : List[(String, String)] = {
      val counts = wc.select("word", "cnt").as[(String, Long)].collect().toMap
      val want = BpeProperties.pureLearn(counts, numMerges, maxVocab, minPairCount)
      val got = Bpe.learnMerges(wc, numMerges, maxVocab, minPairCount)
      assert(got.map(m => (m.left, m.right)) == want)
      assert(got.map(_.rank) == (1 to got.size))
      want
    }
    // the cap keeps aaab/abab (cnt 4, word asc) and drops baba/bbbb/cab
    val hand = Seq(("aaab", 4L), ("abab", 4L), ("baba", 4L), ("bbbb", 1L),
      ("cab", 2L)).toDF("word", "cnt")
    // (a,b)=12 → [a,a,ab],[ab,ab]: (a,a)=(a,ab)=(ab,ab)=4, right asc
    // picks (a,a) → [aa,ab],[ab,ab] → (aa,ab) → (ab,ab) → no pairs
    assert(check(hand, 10, maxVocab = 2) ==
      List(("a", "b"), ("a", "a"), ("aa", "ab"), ("ab", "ab")))
    assert(check(hand, 10, maxVocab = 2, minPairCount = 5) == List(("a", "b")))
    assert(check(hand, 10).nonEmpty) // uncapped: all five words
    val docs = Bpe.wordCounts(Tables.documents(spark, "/root/testdata/sf0.001"), "text")
    assert(check(docs, QueriesBpe.NumMerges).size == QueriesBpe.NumMerges)
    assert(check(docs, 12, maxVocab = 40).nonEmpty)
  }

  test("encoder == learner final state on every vocabulary word") {
    // the equivalence the oracle protocol rests on: the priority
    // encoder (leftmost lowest-rank pair repeatedly) must reproduce
    // the learner's exhaustive-in-rank-order fold for every word it
    // learned from
    val docs = corpus(
      (1L, "sparking sparked sparks spark parking parked parks park"),
      (2L, "mark marking marked marks spark spark sparking parked"),
      (3L, "the parks the marks the sparks are sparking and parking"))
    val wc = Bpe.wordCounts(docs, "text")
    val merges = Bpe.learnMerges(wc, numMerges = 15)
    assert(merges.size == 15) // corpus is rich enough to exhaust the budget
    // learner final state: re-run the fold chain over the vocab
    var syms = wc
      .select(col("word"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
    merges.foreach { m =>
      syms = syms.withColumn("syms", Bpe.applyMerge(col("syms"), m.left, m.right))
    }
    val folded = syms.as[(String, Seq[String])].collect().toMap
    val table = new BpeTable(merges.map(m => (m.left, m.right)))
    folded.foreach { case (word, want) =>
      val got = table.encodeWord(word).toSeq
      assert(got == want, s"word '$word': encoder $got vs learner $want")
    }
  }

  test("Bpe.encode flattens words in order and round-trips the text") {
    val docs = corpus((1L, "aaab aab b"))
    val merges = Bpe.learnMerges(Bpe.wordCounts(docs, "text"), 3)
    val toks = docs
      .select(Bpe.encode(graft.operators.TextStats.normalize(col("text")),
        merges).as("t"))
      .as[Seq[String]].head()
    // concatenating tokens inside each word reconstructs the document
    assert(toks.mkString("") == "aaabaabb")
    // aaab collapsed by the learned merges (it dominates the corpus)
    assert(toks.contains("aaab") || toks.contains("aa"))
  }

  test("empty merge table degrades to character tokens; empty word to none") {
    val table = new BpeTable(Seq.empty)
    assert(table.encodeWord("abc").toSeq == Seq("a", "b", "c"))
    assert(table.encodeWord("").isEmpty)
  }

  test("memoized doc encoding equals per-word encoding") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val table = new BpeTable(merges)
    val doc = org.apache.spark.unsafe.types.UTF8String
      .fromString("abc abc xabcx ab")
    val got = (0 until table.encodeDoc(doc).numElements())
      .map(i => table.encodeDoc(doc).getUTF8String(i).toString)
    assert(got == Seq("abc", "abc", "x", "abc", "x", "ab"))
  }
}
