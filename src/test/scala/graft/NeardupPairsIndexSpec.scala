package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NeardupPairsIndex

/** Pins the persisted near-dup pair table (round 12; incremental since
 * round 13): the artifact equals a fresh candidates+verify run exactly,
 * reuse is content-stamped (zero file churn), and a corpus change
 * REFRESHES incrementally — carried pairs really carry (tamper probe),
 * removed/re-texted endpoints really drop, and incremental ≡ rebuild
 * unconditionally — the MinHashSigIndexSpec posture for the second
 * corpus dedup artifact. */
class NeardupPairsIndexSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def row(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))

  private def fileState(p: java.nio.file.Path): Map[String, Long] = {
    if (!Files.isDirectory(p)) return Map.empty
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally w.close()
  }

  private def gen(lo: Int, hi: Int, cloneEvery: Int) = {
    import org.apache.spark.sql.functions._
    val base = spark.range(lo, hi).selectExpr("id AS doc_id",
      "concat_ws(' ', 'alpha', 'beta', CAST(id AS STRING), 'gamma', " +
        "CAST(id % 5 AS STRING), 'delta', 'epsilon', 'zeta') AS text")
    // planted near-dups: every cloneEvery-th doc re-keyed with one
    // appended token (jaccard just under 1, far above 0.5). Clone ids
    // offset far past ANY batch's base range — `+ hi` would collide
    // with a later appended batch's base ids (gen(0,400).clones hit
    // 400.. which gen(400,500) then reuses), silently merging two
    // texts' shingles under one doc_id in the signature build
    base.union(base.filter(col("doc_id") % cloneEvery === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
  }

  private def sweep(dir: String): Unit = {
    val tag = graft.sources.ArtifactStore.dirTag(dir)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val l = Files.list(tmp)
    try l.iterator().asScala.toVector
      .filter(_.getFileName.toString
        .startsWith(s"graft_neardup_pairs_v4_t0p5_${tag}_"))
      .foreach(graft.queries.Q.deleteRecursively)
    finally l.close()
    // the scenario corpus also built a signature index; sweep it
    graft.queries.Q.deleteRecursively(
      graft.sources.MinHashSigIndex.artifactDir(dir))
  }

  test("threshold labels are lossless: distinct thresholds never share an artifact") {
    // two generations of integer labels collided thresholds onto one
    // artifact ((0.58*100).toInt = 57 truncation; round still merged
    // 0.585 with 0.58) — the wrong pair set served silently; and a
    // rounded v2 label would have let post-fix 0.57 resolve a PRE-fix
    // 0.58 artifact published under the truncated t57, hence the v3
    // bump; v4 moved the corpus tag to the md5 dirTag
    def label(t: Double) = NeardupPairsIndex.artifactDir("x", t)
      .getFileName.toString
    assert(label(0.5).contains("_v4_t0p5_"), label(0.5))
    assert(label(0.58).contains("_t0p58_"), label(0.58))
    val all = Seq(0.5, 0.57, 0.58, 0.585, 0.5849).map(label)
    assert(all.distinct.size == all.size,
      s"distinct thresholds must never share an artifact: $all")
  }

  test("persisted pairs equal the build plan; reuse is stamped, zero file churn") {
    val got = NeardupPairsIndex.pairs(spark, sf)
      .collect().map(row).sortBy(p => (p._1, p._2)).toSeq
    val want = NeardupPairsIndex.buildPlan(spark, sf)
      .collect().map(row).sortBy(p => (p._1, p._2)).toSeq
    assert(got == want, "persisted pair table diverged from the build plan")
    assert(got.nonEmpty, "testdata plants near-dup pairs; none surfaced")
    assert(got.forall(p => p._1 < p._2), "pairs must be a_id < b_id")
    // unchanged corpus → second call touches NO file anywhere in tmp
    // for this artifact's stamp
    val idx = NeardupPairsIndex.artifactDir(sf)
    assert(Files.isDirectory(idx), "artifact dir must exist after a serve")
    val before = fileState(idx)
    NeardupPairsIndex.pairs(spark, sf).count()
    assert(fileState(idx) == before,
      "pair table churned files for unchanged content")
  }

  test("incremental refresh: tampered base pairs carry over; result ≡ rebuild plus the tamper; stale stamp swept") {
    val dir = Files.createTempDirectory("graft_pairsidx").toString
    try {
      gen(0, 400, 20).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val p1 = NeardupPairsIndex.pairs(spark, dir)
        .collect().map(row).toSet
      assert(p1.nonEmpty, "planted clones must pair")
      val idx1 = NeardupPairsIndex.artifactDir(dir)
      assert(Files.exists(idx1.resolve("cover").resolve("_SUCCESS")),
        "v2 artifact must carry its cover table")
      // tamper the BASE pair table: inject a sentinel pair between ids
      // that exist in NO corpus state. Its endpoints are never in the
      // removed set, so a refresh that actually RUNS the carry path
      // keeps it — a silent full rebuild would erase it.
      val sentinel = (900000001L, 900000002L, 0.987)
      val pairsDir = idx1.resolve("pairs").toString
      val existing = spark.read.schema(NeardupPairsIndex.schema)
        .parquet(pairsDir).collect().toSeq
      import spark.implicits._
      (existing.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) :+
          sentinel)
        .toDF("a_id", "b_id", "jaccard").repartition(1)
        .write.mode("overwrite").parquet(pairsDir)
      // grow the corpus: stamp moves, base survives long enough to be
      // the incremental base (post-publish sweep), result must be the
      // fresh rebuild PLUS the carried sentinel
      gen(400, 500, 20).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      val p2 = NeardupPairsIndex.pairs(spark, dir)
        .collect().map(row).toSet
      val want = NeardupPairsIndex.buildPlan(spark, dir)
        .collect().map(row).toSet
      val sentinelRow = (sentinel._1, sentinel._2,
        math.round(sentinel._3 * 1e9))
      assert(p2.contains(sentinelRow),
        "refresh rebuilt from scratch — the carry path never ran")
      assert(p2 - sentinelRow == want,
        "incremental refresh diverged from a full rebuild")
      assert((p2 - sentinelRow).exists(p => p._1 >= 400L || p._2 >= 400L),
        "the appended batch plants new pairs — the fresh path is vacuous")
      assert(p1.subsetOf(p2),
        "append-only growth must keep every base pair")
      assert(!Files.exists(idx1), "stale-stamp artifact must be swept")
    } finally {
      graft.queries.Q.deleteRecursively(Paths.get(dir))
      sweep(dir)
    }
  }

  test("a second refresh from a refreshed base still equals a rebuild") {
    // The single-cycle tests refresh from a FRESH-built base, so they
    // never exercise the refreshed artifact as an incremental base —
    // in particular its republished COVER table, the (doc_id,
    // text_hash) identity refresh N+1 keys delta detection on. A wrong
    // refreshed cover (carried doc missing, stale hash) would pass
    // cycle 1's pairs ≡ rebuild check and only misclassify in cycle 2.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_pairsidx").toString
    try {
      gen(0, 300, 20).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      NeardupPairsIndex.pairs(spark, dir).count() // cycle 0: full build
      gen(300, 400, 20).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      NeardupPairsIndex.pairs(spark, dir).count() // cycle 1: refresh
      val idx2 = NeardupPairsIndex.artifactDir(dir)
      // sentinel into the REFRESHED pair table: cycle 2 keeping it
      // proves the carry path ran from the refreshed artifact, not a
      // silent rebuild
      val sentinel = (900000001L, 900000002L, 0.987)
      val pairsDir = idx2.resolve("pairs").toString
      val existing = spark.read.schema(NeardupPairsIndex.schema)
        .parquet(pairsDir).collect().toSeq
      import spark.implicits._
      (existing.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) :+
          sentinel)
        .toDF("a_id", "b_id", "jaccard").repartition(1)
        .write.mode("overwrite").parquet(pairsDir)
      // cycle 2: append batch (400,500) AND re-text doc 40 — a FIRST-
      // batch doc whose clone pair (40, 1000040) was carried through
      // cycle 1; dropping it now depends on cycle 1's cover being right
      gen(0, 500, 20)
        .withColumn("text", when(col("doc_id") === 40L,
          lit("totally different words now here")).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val p3 = NeardupPairsIndex.pairs(spark, dir)
        .collect().map(row).toSet
      val want = NeardupPairsIndex.buildPlan(spark, dir)
        .collect().map(row).toSet
      val sentinelRow = (sentinel._1, sentinel._2,
        math.round(sentinel._3 * 1e9))
      assert(p3.contains(sentinelRow),
        "cycle 2 rebuilt from scratch — the carry path never ran")
      assert(p3 - sentinelRow == want,
        "second refresh from a refreshed base diverged from a rebuild")
      assert(!p3.exists(p => p._1 == 40L && p._2 == 1000040L),
        "a doc re-texted in cycle 2 kept its carried cycle-1 pair — " +
          "the refreshed cover misidentified it")
      assert((p3 - sentinelRow).exists(p => p._1 >= 400L || p._2 >= 400L),
        "the cycle-2 batch plants new pairs — the fresh path is vacuous")
      assert(!Files.exists(idx2), "cycle-1 artifact must be swept")
    } finally {
      graft.queries.Q.deleteRecursively(Paths.get(dir))
      sweep(dir)
    }
  }

  test("incremental refresh drops pairs whose endpoint was removed or re-texted") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_pairsidx").toString
    try {
      gen(0, 400, 20).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val p1 = NeardupPairsIndex.pairs(spark, dir)
        .collect().map(row).toSet
      // doc 0's clone is 1000000; the pair (0, 1000000) is planted
      assert(p1.contains((0L, 1000000L, p1.find(p =>
          p._1 == 0L && p._2 == 1000000L).map(_._3).getOrElse(-1L))),
        "plant failed: (0, 1000000) not paired")
      // v2 corpus: DELETE doc 1000000 (0's partner), RE-TEXT doc 20 so
      // its clone pair (20, 1000020) must re-verify against new text
      gen(0, 400, 20).filter(col("doc_id") =!= 1000000L)
        .withColumn("text", when(col("doc_id") === 20L,
          lit("totally different words now here")).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val p2 = NeardupPairsIndex.pairs(spark, dir)
        .collect().map(row).toSet
      val want = NeardupPairsIndex.buildPlan(spark, dir)
        .collect().map(row).toSet
      assert(p2 == want,
        "incremental refresh with removals diverged from a full rebuild")
      assert(!p2.exists(p => p._1 == 1000000L || p._2 == 1000000L),
        "a deleted doc's pairs survived the refresh")
      assert(!p2.exists(p => p._1 == 20L && p._2 == 1000020L),
        "a re-texted doc's stale pair survived the refresh")
    } finally {
      graft.queries.Q.deleteRecursively(Paths.get(dir))
      sweep(dir)
    }
  }
}
