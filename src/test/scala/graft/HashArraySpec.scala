package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.HashArray

/** Pins the xxhash64_array kernel's contract: elementwise VALUE PARITY
 * with Spark's own xxhash64 (the LSH band structure and every persisted
 * signature artifact depend on it), null-element and empty-array
 * behavior, codegen compilation, and type rejection. */
class HashArraySpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("elementwise parity with xxhash64, incl. multi-byte UTF-8 and empty string") {
    val r = spark.sql(
      """SELECT xxhash64_array(array('a', 'bc', '', 'añejo', '日本語', 'the quick brown fox')) AS k,
        |  array(xxhash64('a'), xxhash64('bc'), xxhash64(''), xxhash64('añejo'),
        |        xxhash64('日本語'), xxhash64('the quick brown fox')) AS w""".stripMargin)
      .head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      "kernel diverged from Spark's xxhash64 — band membership would reshuffle")
  }

  test("parity against the transform-HOF formulation it replaced, on real shingles") {
    val docs = spark.read.parquet(s"${SparkTestBase.sf}/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(graft.queries.LlmOps.shingleExpr))
      .filter(size(col("sh")) > 0)
    val n = docs
      .withColumn("k", HashArray.arrayHash(col("sh")))
      .withColumn("w", expr("transform(sh, x -> xxhash64(x))"))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n documents hash differently through the kernel")
  }

  test("null element hashes to the seed; empty array stays empty; null array is null") {
    val r = spark.sql(
      """SELECT xxhash64_array(array('x', CAST(NULL AS STRING))) AS a,
        |  xxhash64_array(CAST(array() AS ARRAY<STRING>)) AS b,
        |  xxhash64_array(CAST(NULL AS ARRAY<STRING>)) AS c""".stripMargin).head()
    assert(r.getSeq[Long](0)(1) == HashArray.SEED)
    assert(r.getSeq[Long](1).isEmpty)
    assert(r.isNullAt(2))
  }

  test("hi32 variant: elementwise high word of xxhash64, null element from the seed") {
    val r = spark.sql(
      """SELECT xxhash64_array_hi32(array('a', '', '日本語', CAST(NULL AS STRING))) AS k,
        |  array(xxhash64('a'), xxhash64(''), xxhash64('日本語')) AS w""".stripMargin)
      .head()
    val k = r.getSeq[Int](0)
    val w = r.getSeq[Long](1)
    assert(k.take(3) == w.map(h => (h >>> 32).toInt),
      "hi32 kernel diverged from the high word of xxhash64")
    assert(k(3) == (HashArray.SEED >>> 32).toInt)
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT xxhash64_array(array('a', 'b')) AS k").head().getSeq[Long](0)
      assert(r.length == 2)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-array input is rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT xxhash64_array('abc')").collect()
    }
    assert(ex.getMessage.contains("xxhash64_array") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
