package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Q
import graft.sources.{ArtifactStore, MinHashSigIndex}

/** Pins the persisted MinHash signature table's contract: persisted
 * rows equal the build plan, reuse is content-stamped (zero file
 * churn), incremental maintenance over a grown/changed corpus is
 * equivalent to a full rebuild AND keeps still-covered rows as written
 * (tamper-proof), removal and resurrection stay equivalent, a refresh
 * leaves one published dir, and the schema survives an empty corpus. */
class MinHashSigIndexSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def row(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getSeq[Long](1), r.getLong(2))

  private def fileState(p: java.nio.file.Path): Map[String, Long] = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally w.close()
  }

  /** Every dir of `dir`'s signature family under the artifact root,
   * published or staging. */
  private def family(dir: String): Vector[String] = {
    val fam = MinHashSigIndex.artifactDir(dir).getFileName.toString
      .stripSuffix(Q.contentStamp(dir, "documents"))
    val l = Files.list(ArtifactStore.root)
    try l.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(fam)).toVector
    finally l.close()
  }

  private def gen(lo: Int, hi: Int, marker: String) =
    spark.range(lo, hi).selectExpr("id AS doc_id",
      s"concat_ws(' ', 'alpha', 'beta', CAST(id AS STRING), '$marker', " +
        "CAST(id % 7 AS STRING), 'gamma', 'delta') AS text")

  test("persisted signatures equal the build plan; reuse is stamped, zero file churn") {
    val got = MinHashSigIndex.sigs(spark, sf)
      .collect().map(row).sortBy(_._1).toSeq
    val want = MinHashSigIndex.buildPlan(spark, sf)
      .collect().map(row).sortBy(_._1).toSeq
    assert(got == want, "persisted signature table diverged from the build plan")
    assert(got.nonEmpty && got.forall(_._2.length == 32),
      "every doc must carry a 32-permutation signature")
    // unchanged corpus → second call touches NO file in the artifact
    val art = MinHashSigIndex.artifactDir(sf)
    val before = fileState(art)
    MinHashSigIndex.sigs(spark, sf).count()
    assert(fileState(art) == before,
      "signature artifact churned files for unchanged content")
  }

  test("incremental refresh: append + edit ≡ full rebuild, carried rows kept") {
    val dir = Files.createTempDirectory("graft_sigidx_incr").toString
    gen(0, 3000, "v1").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    MinHashSigIndex.sigs(spark, dir).count()
    // tamper one still-covered row's signature INSIDE the published
    // base: a true carry-over serves it verbatim, a silent full rebuild
    // erases it
    val markId = 7L
    val base = MinHashSigIndex.artifactDir(dir)
    val rows = spark.read.schema(MinHashSigIndex.schema)
      .parquet(base.toString).collect()
    val tampered = rows.map { r =>
      if (r.getLong(0) == markId)
        org.apache.spark.sql.Row(r.getLong(0),
          Seq.fill(32)(-1L), r.getLong(2), r.getInt(3))
      else r
    }
    val tmpDir = Files.createTempDirectory("graft_sigidx_tamper").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(tampered.toSeq),
        MinHashSigIndex.schema)
      .write.mode("overwrite").parquet(tmpDir)
    Q.deleteRecursively(base)
    Files.move(Paths.get(tmpDir), base)
    // grow AND change the corpus: append 60 docs and add a second text
    // version of doc 3 (both versions are corpus rows with distinct
    // text_hash, so both must be signed)
    gen(3000, 3060, "v1").write.mode("append")
      .parquet(s"$dir/documents.parquet")
    gen(3, 4, "v2").write.mode("append")
      .parquet(s"$dir/documents.parquet")
    val incr = MinHashSigIndex.sigs(spark, dir).collect().map(row)
    assert(incr.exists(t => t._1 == markId && t._2 == Seq.fill(32)(-1L)),
      "tampered still-covered row was not carried over — " +
        "incremental path silently full-rebuilt")
    val want = MinHashSigIndex.buildPlan(spark, dir)
      .collect().map(row).filterNot(_._1 == markId)
      .sortBy(t => (t._1, t._3)).toSeq
    val gotRest = incr.filterNot(_._1 == markId).sortBy(t => (t._1, t._3)).toSeq
    assert(gotRest == want,
      "incremental result diverged from full rebuild outside the tampered row")
    assert(gotRest.exists(_._1 == 3L) && gotRest.count(_._1 == 3L) == 2,
      "both text versions of the edited doc must be signed")
    Q.deleteRecursively(Paths.get(dir))
  }

  test("removal and resurrection ≡ full rebuild") {
    val dir = Files.createTempDirectory("graft_sigidx_res").toString
    val docsPath = s"$dir/documents.parquet"
    gen(0, 300, "v1").write.mode("overwrite").parquet(docsPath)
    MinHashSigIndex.sigs(spark, dir).count()
    // shrink + edit: docs 250.. drop, doc 10 changes text
    gen(0, 250, "v1").filter(col("doc_id") =!= 10)
      .unionByName(gen(10, 11, "v2"))
      .write.mode("overwrite").parquet(docsPath)
    val shrunk = MinHashSigIndex.sigs(spark, dir)
    assert(shrunk.count() == 250L)
    val wantShrunk = MinHashSigIndex.buildPlan(spark, dir)
      .collect().map(row).sortBy(t => (t._1, t._3)).toSeq
    assert(shrunk.collect().map(row).sortBy(t => (t._1, t._3)).toSeq
      == wantShrunk, "post-removal serve diverged from full rebuild")
    // resurrect EVERY key ever signed (original 300 + the v2 edit): the
    // removed keys left the base, so the refresh signs them again
    gen(0, 300, "v1").unionByName(gen(10, 11, "v2"))
      .write.mode("overwrite").parquet(docsPath)
    val res = MinHashSigIndex.sigs(spark, dir)
    val wantRes = MinHashSigIndex.buildPlan(spark, dir)
      .collect().map(row).sortBy(t => (t._1, t._3)).toSeq
    assert(wantRes.size == 301)
    assert(res.collect().map(row).sortBy(t => (t._1, t._3)).toSeq
      == wantRes, "resurrected serve diverged from full rebuild")
    Q.deleteRecursively(Paths.get(dir))
  }

  test("a refresh leaves exactly one published dir in the family") {
    val dir = Files.createTempDirectory("graft_sigidx_one").toString
    val docsPath = s"$dir/documents.parquet"
    gen(0, 50, "v1").write.mode("overwrite").parquet(docsPath)
    MinHashSigIndex.sigs(spark, dir).count()
    val first = MinHashSigIndex.artifactDir(dir)
    gen(50, 60, "v1").write.mode("append").parquet(docsPath)
    MinHashSigIndex.sigs(spark, dir).count()
    val cur = MinHashSigIndex.artifactDir(dir)
    assert(cur != first, "the append must move the stamp")
    assert(family(dir) == Vector(cur.getFileName.toString), family(dir))
    Q.deleteRecursively(Paths.get(dir))
  }

  test("empty→grown and grown→empty transitions refresh correctly") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_sigidx_trans").toString
    val docsPath = s"$dir/documents.parquet"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // an empty artifact is a valid refresh base
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(docsPath)
    assert(MinHashSigIndex.sigs(spark, dir).count() == 0L)
    gen(0, 50, "v1").write.mode("overwrite").parquet(docsPath)
    val grown = MinHashSigIndex.sigs(spark, dir)
      .collect().map(row).sortBy(_._1).toSeq
    val want = MinHashSigIndex.buildPlan(spark, dir)
      .collect().map(row).sortBy(_._1).toSeq
    assert(grown == want && grown.size == 50,
      "growth from an empty base diverged from full rebuild")
    // and back to empty: no base row is kept, serve is empty but typed
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(docsPath)
    val emptied = MinHashSigIndex.sigs(spark, dir)
    assert(emptied.schema == MinHashSigIndex.schema)
    assert(emptied.count() == 0L)
    Q.deleteRecursively(Paths.get(dir))
  }

  test("empty corpus stays typed through the explicit read schema") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_sigidx_spec").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val empty = MinHashSigIndex.sigs(spark, dir)
    assert(empty.schema == MinHashSigIndex.schema)
    assert(empty.count() == 0L)
  }
}
