package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.codec.digest.DigestUtils
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArtifactCache

/** The persisted-model-registry contract: learned artifacts (BPE merge
  * table, PQ codebooks) written as parquet fixtures must SERVE a
  * cold-cache consumer — the cross-JVM read path — with zero learning
  * jobs, and the loaded artifact must drive results identical to the
  * learned one (learning is deterministic, so load ≡ learn). Each
  * fixture dir's `_key` sidecar is what every access checks, so a
  * same-count overwrite — from this JVM or another — is always seen,
  * and a failed publish never touches the live dir.
  */
class ArtifactRegistrySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** A fixture publish as [[ArtifactCache.fixture]] makes one: `write`
    * the rows into the staged dir, add `_key` last, swap it in.
    */
  private def publish(live: Path, key: String)(write: Path => Unit): Unit =
    Pipeline.staged(fs, live) { tmp =>
      write(tmp)
      Files.write(new File(tmp.toString, "_key").toPath, key.getBytes("UTF-8"))
    }

  test("fixture-present cold cache serves q69/q73 without learning; load == learn") {
    val d = "/root/testdata/sf0.001"
    // pass 1: learns (or loads a prior round's fixture) and guarantees
    // the fixtures exist on disk for this corpus size
    val r69a = SparkEntry.queries("q69_bpe_tokenize")(spark, d).collect()
    val r73a = SparkEntry.queries("q73_pq_encode")(spark, d).collect()
    // simulate a fresh JVM: in-memory cache emptied, fixtures persist
    ArtifactCache.clear()
    val learnsBefore = ArtifactCache.learnCount
    val r69b = SparkEntry.queries("q69_bpe_tokenize")(spark, d).collect()
    val r73b = SparkEntry.queries("q73_pq_encode")(spark, d).collect()
    assert(ArtifactCache.learnCount == learnsBefore,
      "a fixture-served cold call must not run any learn body")
    assert(r69a.toSeq == r69b.toSeq, "BPE load path must equal learn path")
    assert(r73a.toSeq == r73b.toSeq, "PQ load path must equal learn path")
  }

  test("residual coarse + codebook fixtures serve q83 cold too") {
    val d = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q83_residual_recall")(spark, d).collect()
    ArtifactCache.clear()
    // r19: q83's exact ground truth is an in-JVM derived frame served
    // by the registry (deterministic recompute, NOT a disk fixture) —
    // rebuild it outside the counted window so the zero-learn assertion
    // keeps pinning the codebook FIXTURES alone
    QueriesSim.sharedExactTopK(spark, d).count()
    val learnsBefore = ArtifactCache.learnCount
    val b = SparkEntry.queries("q83_residual_recall")(spark, d).collect()
    assert(ArtifactCache.learnCount == learnsBefore,
      "coarse + residual codebooks must both load from their fixtures")
    assert(a.toSeq == b.toSeq)
  }

  test("the SemDeDup clustering table serves q86 cold (r8 registry artifact)") {
    val d = "/root/testdata/sf0.001"
    // pass 1 builds (or loads) the clustering table fixture
    val a = SparkEntry.queries("q86_semantic_dedup")(spark, d).collect()
    ArtifactCache.clear()
    val learnsBefore = ArtifactCache.learnCount
    val b = SparkEntry.queries("q86_semantic_dedup")(spark, d).collect()
    assert(ArtifactCache.learnCount == learnsBefore,
      "a persisted clustering table must serve q86 with zero assignment learns")
    assert(a.toSeq == b.toSeq, "table-served dedup must equal the built one")
  }

  /** Two lineitem copies with IDENTICAL row counts but different
    * content/dirs: their count-keyed fixture dirs collide on disk.
    */
  private def sameCountCorpora(): (String, String) = {
    val base = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dirA = Files.createTempDirectory("aba_a").toString
    val dirB = Files.createTempDirectory("aba_b").toString
    base.write.mode("overwrite").parquet(s"$dirA/lineitem.parquet")
    base.withColumn("l_quantity", col("l_quantity") + 1.0)
      .write.mode("overwrite").parquet(s"$dirB/lineitem.parquet")
    (dirA, dirB)
  }

  private val BinCutsDir = s"${ArtifactCache.FixtureRoot}/gk_bin_cuts"

  test("a same-rowcount corpus alternation re-learns instead of serving stale memory") {
    // after B's learn overwrites A's fixture, A's next access must
    // notice the sidecar mismatch and restore its own fixture (the
    // oracle globs the fixture by count and would otherwise read B's)
    val (dirA, dirB) = sameCountCorpora()
    val q = SparkEntry.queries("q116_quantile_bins_approx")
    val a1 = q(spark, dirA).collect().toSeq
    val learnsAfterA = ArtifactCache.learnCount
    // same-dir re-access: memory hit, zero learns
    assert(q(spark, dirA).collect().toSeq == a1)
    assert(ArtifactCache.learnCount == learnsAfterA,
      "a same-dir re-access must serve from memory without learning")
    // B learns (same row count, different dir) and overwrites the fixture
    val b1 = q(spark, dirB).collect().toSeq
    assert(b1 != a1, "the nudged corpus must bin differently")
    // A again: the sidecar mismatch must force a re-learn that restores
    // A's fixture — identical output, learnCount strictly up
    val learnsBeforeA2 = ArtifactCache.learnCount
    val a2 = q(spark, dirA).collect().toSeq
    assert(a2 == a1, "restored artifact must reproduce A's bins")
    assert(ArtifactCache.learnCount > learnsBeforeA2,
      "the foreign overwrite must invalidate A's memory hit")
  }

  test("a foreign-JVM overwrite of the fixture dir is seen on the next memory hit") {
    val (dirA, dirB) = sameCountCorpora()
    val n = spark.read.parquet(s"$dirA/lineitem.parquet").count()
    val live = new File(s"$BinCutsDir/$n")
    // what the DuckDB oracle reads for a corpus of n rows
    def oracleCuts(): Seq[String] =
      spark.read.parquet(s"$BinCutsDir/*/*.parquet")
        .where(col("corpus_rows") === n)
        .select(col("metric"), col("cuts").cast("string"))
        .collect().map(r => s"${r.getString(0)}:${r.getString(1)}").sorted.toSeq
    val q = SparkEntry.queries("q116_quantile_bins_approx")
    q(spark, dirB).collect()
    val cutsB = oracleCuts()
    val copyB = Files.createTempDirectory("fixture_b").toFile
    FileUtils.copyDirectory(live, copyB)
    ArtifactCache.clear()
    val a1 = q(spark, dirA).collect().toSeq
    val cutsA = oracleCuts()
    assert(cutsA != cutsB, "A and B must learn different cuts")
    // another JVM republishes B's fixture behind this cache's back
    FileUtils.deleteDirectory(live)
    FileUtils.copyDirectory(copyB, live)
    assert(q(spark, dirA).collect().toSeq == a1)
    assert(oracleCuts() == cutsA,
      "serving A must leave A's cuts where the oracle reads them")
  }

  test("a foreign write into one key's fixture dir re-learns that key only") {
    val fx = s"${ArtifactCache.FixtureRoot}/spec_${System.nanoTime()}"
    var gen = 0
    def access(key: String, n: Long): String =
      ArtifactCache.fixture(spark, fx, key, "n", n)(
          dir => spark.read.parquet(dir).head().getString(0)) {
        gen += 1
        Seq(s"$key-g$gen").toDF("v").coalesce(1)
      }
    try {
      val k1 = access("K1", 1)
      val k2 = access("K2", 2)
      val learns = ArtifactCache.learnCount
      assert(access("K1", 1) == k1 && access("K2", 2) == k2)
      assert(ArtifactCache.learnCount == learns, "steady state serves from memory")
      // another JVM publishes a different artifact into K2's dir
      publish(new Path(s"$fx/2"), "foreign") { tmp =>
        Seq("foreign").toDF("v").write.parquet(tmp.toString)
      }
      assert(access("K1", 1) == k1)
      assert(ArtifactCache.learnCount == learns, "K1's dir is untouched: no learn")
      val k2b = access("K2", 2)
      assert(k2b != k2 && k2b.startsWith("K2-"), "K2 must re-learn its own artifact")
      assert(ArtifactCache.learnCount == learns + 1)
    } finally FileUtils.deleteDirectory(new File(fx))
  }

  test("a publish whose build throws mid-write leaves the live fixture and no staging sibling") {
    val root = Files.createTempDirectory("fixture_root").toFile
    val live = new Path(s"$root/art/7")
    def md5s(dir: File): Map[String, String] =
      dir.listFiles().map(f => f.getName ->
        DigestUtils.md5Hex(Files.readAllBytes(f.toPath))).toMap
    publish(live, "k1") { tmp =>
      spark.range(0, 100, 1, 4).write.parquet(tmp.toString)
    }
    val before = md5s(new File(live.toString))
    assert(before.contains("_key"))
    val boom = udf((i: Long) => if (i == 77) throw new IllegalStateException("boom") else i)
    intercept[Exception] {
      publish(live, "k2") { tmp =>
        spark.range(0, 100, 1, 4).select(boom(col("id")).as("id"))
          .write.parquet(tmp.toString)
      }
    }
    assert(md5s(new File(live.toString)) == before)
    assert(new File(s"$root/art").list().toSeq == Seq("7"),
      "no .7.*.staging or .7.*.old sibling may survive")
    FileUtils.deleteDirectory(root)
  }

  test("the GK extent/bin-cut fixtures serve q94/q116 cold (r14 registry artifacts)") {
    val d = "/root/testdata/sf0.001"
    // pass 1 learns the sketch artifacts (or loads a prior round's)
    val a94 = SparkEntry.queries("q94_extents_approx")(spark, d).collect()
    val a116 = SparkEntry.queries("q116_quantile_bins_approx")(spark, d).collect()
    ArtifactCache.clear()
    val learnsBefore = ArtifactCache.learnCount
    val b94 = SparkEntry.queries("q94_extents_approx")(spark, d).collect()
    val b116 = SparkEntry.queries("q116_quantile_bins_approx")(spark, d).collect()
    assert(ArtifactCache.learnCount == learnsBefore,
      "persisted GK quantiles/cuts must serve both queries with zero " +
        "sketch learns — the oracle applies the same fixtures")
    assert(a94.toSeq == b94.toSeq, "extent serve must equal learn pass")
    assert(a116.toSeq == b116.toSeq, "bin serve must equal learn pass")
  }

  test("the SQ8 ranges + code table serve q88/q90 cold (r9 registry artifacts)") {
    val d = "/root/testdata/sf0.001"
    // pass 1 builds (or loads) the ranges fixture and the code table
    val a88 = SparkEntry.queries("q88_sq8_encode")(spark, d).collect()
    val a90 = SparkEntry.queries("q90_ivfsq_topk")(spark, d).collect()
    ArtifactCache.clear()
    val learnsBefore = ArtifactCache.learnCount
    val b88 = SparkEntry.queries("q88_sq8_encode")(spark, d).collect()
    val b90 = SparkEntry.queries("q90_ivfsq_topk")(spark, d).collect()
    assert(ArtifactCache.learnCount == learnsBefore,
      "ranges + code table + coarse + residual codes must all load from " +
        "their fixtures — q90 serving runs zero learn/encode jobs")
    assert(a88.toSeq == b88.toSeq, "stored codes must equal a re-encode")
    assert(a90.toSeq == b90.toSeq, "table-served IVF-SQ must equal built")
  }
}
