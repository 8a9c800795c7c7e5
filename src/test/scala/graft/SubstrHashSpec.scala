package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SubstrHash

/** The rolling-hash window kernel must GROUP exactly like the raw
 * substrings it fingerprints — that equality is what lets
 * q_substr_dedup's DuckDB oracle (which groups raw 30-char windows)
 * pin the Spark side. */
class SubstrHashSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  test("window count and per-window grouping match raw substrings on the corpus") {
    val k = 30
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"))
      .cache()
    // every doc emits exactly len-k+1 hashes, in substring order
    val badLen = docs
      .withColumn("hh", SubstrHash.windows(col("text"), k))
      .filter(size(col("hh")) =!= length(col("text")) - (k - 1))
      .count()
    assert(badLen == 0)
    // grouping parity: for each doc, every (position i, position j) pair
    // agrees between raw-substring equality and hash equality. Checking
    // distinct-count equality per doc catches any collision or split.
    val viaHash = docs
      .select(col("doc_id"),
        explode(SubstrHash.windows(col("text"), k)).as("w"))
      .groupBy("doc_id").agg(countDistinct("w").as("n_hash"))
    val viaRaw = docs
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))")).as("w"))
      .groupBy("doc_id").agg(countDistinct("w").as("n_raw"))
    val mismatch = viaHash.join(viaRaw, "doc_id")
      .filter(col("n_hash") =!= col("n_raw")).count()
    assert(mismatch == 0)
    // and across the whole corpus (catches cross-doc collisions/splits)
    val corpusHash = docs.select(explode(
      SubstrHash.windows(col("text"), k)).as("w")).agg(countDistinct("w")).head.getLong(0)
    val corpusRaw = docs.select(explode(expr(
      s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))")).as("w"))
      .agg(countDistinct("w")).head.getLong(0)
    assert(corpusHash == corpusRaw)
    docs.unpersist()
  }

  test("multi-byte UTF-8 windows hash by character, equal windows collide") {
    // "añañ" k=2 → windows añ, ña, añ: positions 1 and 3 must hash equal,
    // position 2 different; byte-length-aware windows (ñ is 2 bytes)
    val r = spark.sql(
      "SELECT substr_hash_windows('añañ', 2) AS hh").head.getSeq[Long](0)
    assert(r.length == 3)
    assert(r(0) == r(2))
    assert(r(0) != r(1))
    // pure-ASCII sanity: 'abab' k=2 → ab, ba, ab
    val a = spark.sql(
      "SELECT substr_hash_windows('abab', 2) AS hh").head.getSeq[Long](0)
    assert(a.length == 3 && a(0) == a(2) && a(0) != a(1))
    // the same two chars hash identically standalone and mid-string
    val b = spark.sql(
      "SELECT substr_hash_windows('añ', 2) AS hh").head.getSeq[Long](0)
    assert(b.length == 1 && b(0) == r(0))
  }

  test("short and empty strings give an empty array; null gives null") {
    val r = spark.sql(
      """SELECT substr_hash_windows('abc', 4) AS a,
        |       substr_hash_windows('', 4) AS b,
        |       substr_hash_windows(CAST(NULL AS STRING), 4) AS c,
        |       substr_hash_windows('abcd', 4) AS d""".stripMargin).head
    assert(r.getSeq[Long](0).isEmpty)
    assert(r.getSeq[Long](1).isEmpty)
    assert(r.isNullAt(2))
    assert(r.getSeq[Long](3).length == 1)
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT substr_hash_windows('hello world', 5) AS hh").head.getSeq[Long](0)
      assert(r.length == 7)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("RLE kernel: multiset parity with the explode+groupBy formulation on the corpus") {
    val k = 30
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"))
      .cache()
    // the RLE rows must be EXACTLY the rows groupBy(doc_id, h) produced
    // — both directions (a missing run and a split run both break the
    // symmetric difference)
    val viaGroup = docs
      .select(col("doc_id"),
        explode(SubstrHash.windows(col("text"), k)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val viaRle = docs
      .select(col("doc_id"),
        explode(SubstrHash.windowsRle(col("text"), k)).as("w"))
      .select(col("doc_id"), col("w.h").as("h"), col("w.c").as("c"))
    assert(viaGroup.exceptAll(viaRle).count() == 0)
    assert(viaRle.exceptAll(viaGroup).count() == 0)
    // in-row ordering contract: ascending by hash
    val unsorted = docs
      .select(SubstrHash.windowsRle(col("text"), k).as("ws"))
      .filter(expr(
        "exists(sequence(1, size(ws) - 1), i -> ws[i-1].h >= ws[i].h)"))
      .count()
    assert(unsorted == 0, "RLE array must be strictly ascending by hash")
    docs.unpersist()
  }

  test("RLE kernel: edges (short/empty/null) and CODEGEN_ONLY compile") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        """SELECT substr_hash_windows_rle('abab', 2) AS a,
          |       substr_hash_windows_rle('abc', 4) AS b,
          |       substr_hash_windows_rle(CAST(NULL AS STRING), 4) AS c
          |""".stripMargin).head
      val a = r.getSeq[org.apache.spark.sql.Row](0)
      // abab k=2 → ab×2, ba×1: two runs, counts {2, 1}
      assert(a.length == 2)
      assert(a.map(_.getLong(1)).sorted == Seq(1L, 2L))
      assert(r.getSeq[org.apache.spark.sql.Row](1).isEmpty)
      assert(r.isNullAt(2))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-string input and non-literal k are rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT substr_hash_windows(array(1), 3)").collect()
    }
    assert(ex.getMessage.contains("substr_hash_windows") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
    val ex2 = intercept[Exception] {
      spark.sql("SELECT substr_hash_windows('ab', length('abc'))").collect()
    }
    assert(ex2.getMessage.contains("integer literal") ||
      ex2.getMessage.toLowerCase.contains("literal"))
  }
}
