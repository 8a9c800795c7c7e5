package graft

import org.scalatest.funsuite.AnyFunSuite

/** A [[graft.queries.QueryDef.sql]] entry binds the core tables its text
 * reads — found in its parsed plan, not in its words — as views of the
 * caller's session, afresh on every call. */
class QueryDefSqlSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def rows(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("an entry runs over a dir that holds only the tables it reads") {
    // aliases (c, o, t) and CTE names (e, c, n, d) bind no file
    val dir = java.nio.file.Files.createTempDirectory(
      graft.sources.ArtifactStore.root, "graft-test-only-read").toString
    try {
      for ((name, tables) <- Seq(
          "q_scan_filter" -> Seq("lineitem"),
          "q_lateral_topn" -> Seq("customer", "orders"),
          "q_ks_drift" -> Seq("events"))) {
        for (t <- tables if !java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, s"$t.parquet")))
          spark.read.parquet(s"$sf/$t.parquet")
            .write.parquet(s"$dir/$t.parquet")
        val want = rows(name, sf)
        assert(want.nonEmpty, name)
        assert(rows(name, dir) == want, name)
      }
    } finally graft.queries.Q.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("views are rebound per call; a returned frame keeps its own rows") {
    val q = SparkEntry.queries("q_scan_filter")
    val full = q(spark, sf)
    val want = full.collect().toSeq
    assert(want.nonEmpty)
    assert(q(spark, DegenerateInputSpec.emptyDir).count() == 0L)
    assert(full.collect().toSeq == want)
    assert(q(spark, sf).collect().toSeq == want)
  }
}
