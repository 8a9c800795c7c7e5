package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Empty-but-valid input pins (r20 hunt): an empty corpus is a real
 * pipeline bootstrap state, not a degenerate one — the first refresh
 * cycle of a new store, a partition with every document filtered out.
 * The hunt that produced these found ConnectedComponents.run NPE-ing
 * on empty edges (pinned in ConnectedComponentsSpec); everything here
 * already handled empty cleanly and is pinned so it stays that way:
 * all three artifact indexes build-and-serve an empty store, and the
 * shared helpers (TopKPerKey, HotColdFreq routing, the two-phase
 * near-dup verify) return empty frames instead of throwing. */
class EmptyInputSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private def emptyCorpusDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_empty_corpus").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("sig index on empty corpus") {
    val d = emptyCorpusDir()
    try assert(graft.sources.MinHashSigIndex.sigs(spark, d).count() == 0)
    finally {
      val st = graft.sources.MinHashSigIndex.artifactDir(d)
      graft.queries.Q.deleteRecursively(java.nio.file.Paths.get(d))
      graft.queries.Q.deleteRecursively(st)
    }
  }

  test("pair index on empty corpus") {
    val d = emptyCorpusDir()
    try assert(graft.sources.NeardupPairsIndex.pairs(spark, d).count() == 0)
    finally {
      val st = graft.sources.NeardupPairsIndex.artifactDir(d)
      graft.queries.Q.deleteRecursively(java.nio.file.Paths.get(d))
      graft.queries.Q.deleteRecursively(st)
    }
  }

  test("edge index on empty embeddings") {
    val d = emptyCorpusDir()
    try assert(graft.sources.KnnGraphIndex.edges(spark, d).count() == 0)
    finally {
      val st = graft.sources.KnnGraphIndex.artifactDir(d)
      graft.queries.Q.deleteRecursively(java.nio.file.Paths.get(d))
      graft.queries.Q.deleteRecursively(st)
    }
  }

  test("TopK.perKey on empty frame") {
    val e = Seq.empty[(String, Long)].toDF("k", "v")
    assert(graft.plans.TopK.perKey(e, Seq("k"), Seq(col("v").asc), 5).count() == 0)
  }

  test("HotColdFreq.withFreq on empty stream") {
    val e = Seq.empty[(Long, Long)].toDF("doc_id", "h")
    assert(graft.plans.HotColdFreq.withFreq(
      e, "h", "freq", lit(1L), col("doc_id")).count() == 0)
  }

  test("neardupPairsFast on empty shingled docs") {
    val e = Seq.empty[(Long, Seq[String])].toDF("doc_id", "sh")
    assert(graft.queries.LlmOps.neardupPairsFast(e, 0.5)(df => df).count() == 0)
  }
}
