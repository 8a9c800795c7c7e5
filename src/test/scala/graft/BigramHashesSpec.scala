package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.BigramHashes

/** Pins the word_bigram_hashes kernel's contract: element parity with
 * the declared composite expression it replaced (transform ∘ sequence
 * ∘ xxhash64 ∘ concat) on the real corpus — corpus bigram frequencies
 * and the HotColdFreq routing ride on it — plus the composite's null
 * conventions (null pair → seed 42, null array → null), short-input
 * behavior, and CODEGEN_ONLY compilation. */
class BigramHashesSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("value parity with the composite expression on the real corpus") {
    val n = spark.read.parquet(s"${SparkTestBase.sf}/documents.parquet")
      .withColumn("ts", split(col("text"), " "))
      .withColumn("k", BigramHashes.of(col("ts")))
      .withColumn("w", expr(graft.queries.LlmOps.bigramHashExpr))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n documents hash bigrams differently through the kernel")
  }

  test("short inputs yield empty; null array yields null; null token → seed") {
    val r = spark.sql(
      """SELECT word_bigram_hashes(array('a')) AS a,
        |  word_bigram_hashes(CAST(NULL AS ARRAY<STRING>)) AS b,
        |  word_bigram_hashes(array('x', CAST(NULL AS STRING), 'z')) AS c,
        |  transform(sequence(0, 1), i -> xxhash64(
        |    concat(element_at(array('x', CAST(NULL AS STRING), 'z'), i + 1), ' ',
        |           element_at(array('x', CAST(NULL AS STRING), 'z'), i + 2)))) AS w
        |""".stripMargin).head()
    assert(r.getSeq[Long](0).isEmpty, "fewer than 2 tokens must give no bigrams")
    assert(r.isNullAt(1))
    assert(r.getSeq[Long](2) == r.getSeq[Long](3),
      "null-token convention must match xxhash64(concat(...)): seed through")
    assert(r.getSeq[Long](2) == Seq(42L, 42L),
      "a null-adjacent pair contributes the xxhash64 seed, not null")
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        """SELECT word_bigram_hashes(array('a','b','c')) AS k,
          |  array(xxhash64('a b'), xxhash64('b c')) AS w""".stripMargin).head()
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-array input is rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT word_bigram_hashes('abc')").collect()
    }
    assert(ex.getMessage.contains("word_bigram_hashes") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
