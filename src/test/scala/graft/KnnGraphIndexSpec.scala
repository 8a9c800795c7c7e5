package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Q
import graft.sources.{ArtifactStore, KnnGraphIndex}

/**
 * Pins the shared kNN edge index's contract: the persisted edge set
 * equals the build plan's result row-for-row at every served k ≤ KMAX
 * (one top-KMAX artifact, k-filtered serve), reuse is content-stamped
 * with zero file churn, a k-filtered serve pushes the rn filter to the
 * rn-clustered files, incremental maintenance over a grown corpus is
 * equivalent to a full rebuild AND carries unchanged buckets' edges as
 * written (tamper-proof), a refresh leaves one published dir, an
 * artifact without its `vecs/_SUCCESS` marker is rebuilt, and the
 * serve stays typed on an empty corpus.
 */
class KnnGraphIndexSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def fileState(p: java.nio.file.Path): Map[String, Long] = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally w.close()
  }

  /** Every dir of `dir`'s edge-index family under the artifact root,
   * published or staging. */
  private def family(dir: String): Vector[String] = {
    val fam = KnnGraphIndex.artifactDir(dir).getFileName.toString
      .stripSuffix(Q.contentStamp(dir, "embeddings"))
    val l = Files.list(ArtifactStore.root)
    try l.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(fam)).toVector
    finally l.close()
  }

  private def vectors(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
    "id AS vec_id",
    "transform(sequence(0, 63), i -> CAST(sin(id * 131 + i) AS FLOAT)) AS embedding",
    "CAST(id % 10 AS INT) AS label")

  test("persisted edges equal the build plan at k=2 and k=5; reuse is stamped; rn dirs prune") {
    val want2 = KnnGraphIndex.buildPlan(spark, sf)
      .filter(col("rn") <= 2)
      .collect().map(_.toString).sorted.toSeq
    val got2df = KnnGraphIndex.edges(spark, sf)
    val got2 = got2df.collect().map(_.toString).sorted.toSeq
    assert(got2 == want2, "k=2 serve diverged from the build plan")
    assert(got2.nonEmpty)
    // rn-clustered files + a pushed rn filter → a k=2 consumer skips
    // the top-8 tail's files on parquet min/max stats
    val scanPlan = got2df.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters") && scanPlan.contains("rn"),
      "k-filtered serve lost the pushed rn filter:\n" + scanPlan)
    // the SAME artifact serves k=5 — no rebuild, zero file churn
    val art = KnnGraphIndex.artifactDir(sf)
    val before = fileState(art)
    val want5 = KnnGraphIndex.buildPlan(spark, sf)
      .filter(col("rn") <= 5)
      .collect().map(_.toString).sorted.toSeq
    val got5 = KnnGraphIndex.edges(spark, sf, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(got5 == want5, "k=5 serve diverged from the build plan")
    assert(got5.size > got2.size,
      "k=5 must surface more edges than k=2 on the gate corpus")
    assert(fileState(art) == before,
      "edge artifact churned files for an unchanged corpus / different k")
    // k beyond the artifact's width is a loud error, not a silent serve
    intercept[IllegalArgumentException] {
      KnnGraphIndex.edges(spark, sf, k = KnnGraphIndex.KMAX + 1)
    }
  }

  test("incremental maintenance: grown corpus ≡ full rebuild, untouched buckets carried") {
    val dir = Files.createTempDirectory("graft_knnidx_incr").toString
    vectors(0, 400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val first = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX).collect()
    assert(first.nonEmpty)
    // delta vectors engineered into ONE sign bucket (all components
    // positive → bucket 15) so most buckets stay untouched and the
    // carry-over path below is observable
    val delta = spark.range(400, 440).selectExpr(
      "id AS vec_id",
      "transform(sequence(0, 63), i -> CAST(abs(sin(id * 131 + i)) AS FLOAT)) AS embedding",
      "CAST(id % 10 AS INT) AS label")
    val deltaBuckets = delta.selectExpr(
        """CAST(element_at(embedding, 1) > 0 AS INT)
          |+ 2 * CAST(element_at(embedding, 2) > 0 AS INT)
          |+ 4 * CAST(element_at(embedding, 3) > 0 AS INT)
          |+ 8 * CAST(element_at(embedding, 4) > 0 AS INT) AS b""".stripMargin)
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = first.map(_.getInt(2)).toSet.diff(deltaBuckets)
    assume(untouched.nonEmpty,
      "delta touched every bucket — cannot observe carry-over")
    // tamper one edge row of an untouched bucket inside the published
    // base: if the refresh truly carries unchanged buckets, the
    // tampered row survives verbatim; a silent full rebuild erases it
    val markBucket = untouched.min
    val edgesDir = KnnGraphIndex.artifactDir(dir).resolve("edges")
    val tampered = spark.read.schema(KnnGraphIndex.schema)
      .option("recursiveFileLookup", "true").parquet(edgesDir.toString)
      .collect().map { r =>
        if (r.getInt(2) == markBucket && r.getInt(4) == 1)
          org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getInt(2),
            -99.0, r.getInt(4))
        else r
      }
    val tmpDir = Files.createTempDirectory("graft_knnidx_tamper").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(tampered.toSeq),
        KnnGraphIndex.schema)
      .write.mode("overwrite").parquet(tmpDir)
    Q.deleteRecursively(edgesDir)
    Files.move(Paths.get(tmpDir), edgesDir)
    // grow the corpus: stamp changes, the tampered artifact is the base
    delta.write.mode("append").parquet(s"$dir/embeddings.parquet")
    val incr = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX)
      .collect()
    assert(incr.exists(r => r.getInt(2) == markBucket && r.getDouble(3) == -99.0),
      "tampered unchanged-bucket edge was not carried over — " +
        "incremental path silently full-rebuilt")
    // equivalence everywhere the tamper didn't touch
    val gotRest = incr.filter(_.getInt(2) != markBucket)
      .map(_.toString).sorted.toSeq
    val wantRest = KnnGraphIndex.buildPlan(spark, dir)
      .filter(col("bucket") =!= markBucket)
      .collect().map(_.toString).sorted.toSeq
    assert(gotRest == wantRest,
      "incremental result diverged from full rebuild outside the tampered bucket")
    Q.deleteRecursively(Paths.get(dir))
  }

  test("a refresh leaves exactly one published dir in the family") {
    val dir = Files.createTempDirectory("graft_knnidx_one").toString
    val vecPath = s"$dir/embeddings.parquet"
    vectors(0, 40).write.mode("overwrite").parquet(vecPath)
    KnnGraphIndex.edges(spark, dir).count()
    val first = KnnGraphIndex.artifactDir(dir)
    vectors(40, 50).write.mode("append").parquet(vecPath)
    KnnGraphIndex.edges(spark, dir).count()
    val cur = KnnGraphIndex.artifactDir(dir)
    assert(cur != first, "the append must move the stamp")
    assert(family(dir) == Vector(cur.getFileName.toString), family(dir))
    Q.deleteRecursively(Paths.get(dir))
  }

  test("an artifact with edges/ but no vecs/_SUCCESS is rebuilt") {
    val dir = Files.createTempDirectory("graft_knnidx_half").toString
    vectors(0, 60).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // a build that died after its edges and mid-vecs, left at the
    // published path: its edges (cos planted at -99) must not be served
    val half = KnnGraphIndex.artifactDir(dir)
    KnnGraphIndex.buildPlan(spark, dir).withColumn("cos", lit(-99.0))
      .write.parquet(half.resolve("edges").toString)
    Files.createDirectories(half.resolve("vecs"))
    val got = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX)
      .collect().map(_.toString).sorted.toSeq
    val want = KnnGraphIndex.buildPlan(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want, "the half-built artifact was served")
    assert(Files.exists(half.resolve("vecs").resolve("_SUCCESS")))
    Q.deleteRecursively(Paths.get(dir))
  }

  test("empty→grown and grown→empty transitions refresh correctly") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_knnidx_trans").toString
    val vecPath = s"$dir/embeddings.parquet"
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    // an empty artifact is a valid refresh base
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(vecPath)
    assert(KnnGraphIndex.edges(spark, dir).count() == 0L)
    spark.range(0, 60).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), i -> CAST(sin(id * 131 + i) AS FLOAT)) AS embedding",
        "CAST(id % 10 AS INT) AS label")
      .write.mode("overwrite").parquet(vecPath)
    val grown = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX)
      .collect().map(_.toString).sorted.toSeq
    val want = KnnGraphIndex.buildPlan(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(grown == want && grown.nonEmpty,
      "growth from an empty base diverged from full rebuild")
    // and back to empty: every bucket's membership changed to nothing
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(vecPath)
    val emptied = KnnGraphIndex.edges(spark, dir)
    assert(emptied.schema == KnnGraphIndex.schema)
    assert(emptied.count() == 0L)
    Q.deleteRecursively(Paths.get(dir))
  }

  test("null and <4-dim embeddings are unindexable: filtered, never a crash") {
    // a null (or too-short) embedding has no sign bucket — it would
    // land in a null bucket dir, and pre-r18 a refresh NPE'd collecting
    // the changed-bucket set; the contract is the no-null-mass posture:
    // such rows appear in no edge and break nothing (r18 review)
    val dir = Files.createTempDirectory("graft_knnidx_null").toString
    val vecPath = s"$dir/embeddings.parquet"
    def good(n: Long, off: Long = 0) = spark.range(off, off + n).selectExpr(
      "id AS vec_id",
      "transform(sequence(0, 63), i -> CAST(sin(id * 131 + i) AS FLOAT)) AS embedding",
      "CAST(id % 10 AS INT) AS label")
    val bad = spark.sql(
      """SELECT * FROM VALUES
        |  (9001L, CAST(NULL AS ARRAY<FLOAT>), 0),
        |  (9002L, ARRAY(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 0),
        |  (CAST(NULL AS LONG), ARRAY(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT),
        |     CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)), 0)
        |AS t(vec_id, embedding, label)""".stripMargin)
    good(40).unionByName(bad)
      .write.mode("overwrite").parquet(vecPath)
    val built = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX)
    assert(built.count() > 0)
    assert(built.filter(col("a_id") >= 9001L || col("b_id") >= 9001L ||
        col("a_id").isNull || col("b_id").isNull).count() == 0,
      "unindexable rows must appear in no edge")
    // the refresh path (changed-bucket collect) with the bad rows
    // still present in the corpus: append good vectors, refresh
    good(20, off = 100).write.mode("append").parquet(vecPath)
    val refreshed = KnnGraphIndex.edges(spark, dir, KnnGraphIndex.KMAX)
      .collect().map(_.toString).sorted.toSeq
    val want = KnnGraphIndex.buildPlan(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(refreshed == want && refreshed.nonEmpty,
      "refresh over a corpus containing unindexable rows diverged")
    Q.deleteRecursively(Paths.get(dir))
  }

  test("a different corpus content gets its own index; empty stays typed") {
    import org.apache.spark.sql.types._
    // an empty embeddings table in a fresh dir = different content stamp
    val dir = Files.createTempDirectory("graft_knnidx_spec").toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val empty = KnnGraphIndex.edges(spark, dir)
    // the pinned schema survives an empty build (no data files — the
    // explicit read schema is what keeps this typed)
    assert(empty.schema == KnnGraphIndex.schema)
    assert(empty.count() == 0L)
    // and the real corpus's index is untouched by the other build
    assert(KnnGraphIndex.edges(spark, sf).count() > 0L)
  }

  test("hot-bucket split: split build ≡ unsplit build; sub-tasks bounded; b-side multiprobes the full bucket") {
    // planted skew: 300 vectors land in sign bucket 15 (all first-4
    // components positive), ~100 spread across the others — a 10×+
    // hot bucket at a 64-row split threshold (nsub = ceil(300/64) = 5)
    val corpus = spark.range(0, 400).selectExpr(
      "id AS vec_id",
      """CASE WHEN id < 300
        |  THEN transform(sequence(0, 63), i -> CAST(abs(sin(id * 131 + i)) + 0.01 AS FLOAT))
        |  ELSE transform(sequence(0, 63), i -> CAST(sin(id * 131 + i) AS FLOAT))
        |END AS embedding""".stripMargin)
      .selectExpr("vec_id", "embedding",
        """CAST(element_at(embedding, 1) > 0 AS INT)
          |+ 2 * CAST(element_at(embedding, 2) > 0 AS INT)
          |+ 4 * CAST(element_at(embedding, 3) > 0 AS INT)
          |+ 8 * CAST(element_at(embedding, 4) > 0 AS INT) AS bucket""".stripMargin)
      .cache()
    try {
      val hotN = corpus.filter(col("bucket") === 15).count()
      assert(hotN >= 300L, s"plant failed: bucket 15 has $hotN rows")
      // the contract: the edge set is ROW-identical with and without
      // the split — sub-bucketing is a build-parallelism refinement,
      // never a semantics change
      val unsplit = KnnGraphIndex.edgesFor(corpus, splitRows = Long.MaxValue)
        .collect().map(_.toString).sorted.toSeq
      val split = KnnGraphIndex.edgesFor(corpus, splitRows = 64L)
        .collect().map(_.toString).sorted.toSeq
      assert(split.nonEmpty && split == unsplit,
        "split build diverged from the unsplit edge set")
      // per-sub-task cost bound: the hot bucket's a-side spreads over
      // nsub = ceil(|B|/threshold) subs, none holding more than ~2×
      // the threshold (hash-uniformity slack); cold buckets stay whole
      val (aSide, bSide) = KnnGraphIndex.saltedSides(corpus, 64L)
      val aGroups = aSide.groupBy("bucket", "sub")
        .agg(count(lit(1)).as("n")).collect()
      val hotSubs = aGroups.filter(_.getInt(0) == 15)
      val expectSubs = math.ceil(hotN / 64.0).toInt
      assert(hotSubs.length == expectSubs,
        s"hot bucket split into ${hotSubs.length} subs, wanted $expectSubs")
      assert(hotSubs.map(_.getLong(2)).max <= 128L,
        "a sub-task's a-side exceeded 2× the split threshold")
      aGroups.filter(r => r.getInt(0) != 15 && corpus
          .filter(col("bucket") === r.getInt(0)).count() <= 64L)
        .foreach(r => assert(r.getInt(1) == 0,
          s"cold bucket ${r.getInt(0)} was split"))
      // multiprobe: every sub-task's candidate b-side is the FULL
      // parent bucket — replication factor is exactly nsub
      val bHot = bSide.filter(col("bucket") === 15)
        .groupBy("sub").agg(count(lit(1)).as("n")).collect()
      assert(bHot.length == expectSubs &&
        bHot.forall(_.getLong(1) == hotN),
        "b-side does not replicate the full hot bucket to every sub")
    } finally corpus.unpersist()
  }
}
