package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Shingles

/** Pins the word_shingles kernel's contract: byte-and-ORDER parity
 * with the declared composite expression it replaced
 * (array_distinct ∘ transform ∘ sequence ∘ concat_ws ∘ slice) — every
 * persisted signature artifact and oracle comparison rides on it —
 * plus short-input/null behavior and CODEGEN_ONLY compilation. */
class ShinglesSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("value and order parity with the composite expression on the real corpus") {
    val n = spark.read.parquet(s"${SparkTestBase.sf}/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("k", Shingles.of(col("toks"), 3))
      .withColumn("w", expr(graft.queries.LlmOps.shingleExpr))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n documents shingle differently through the kernel")
  }

  test("short inputs yield empty; null array yields null; null token joins as absent") {
    val r = spark.sql(
      """SELECT word_shingles(array('a', 'b'), 3) AS a,
        |  word_shingles(CAST(NULL AS ARRAY<STRING>), 3) AS b,
        |  word_shingles(array('x', CAST(NULL AS STRING), 'z'), 3) AS c,
        |  array_distinct(transform(sequence(0, 0),
        |    i -> concat_ws(' ', slice(array('x', CAST(NULL AS STRING), 'z'), i + 1, 3)))) AS w
        |""".stripMargin).head()
    assert(r.getSeq[String](0).isEmpty, "fewer than n tokens must give no shingles")
    assert(r.isNullAt(1))
    assert(r.getSeq[String](2) == r.getSeq[String](3),
      "null-token convention must match concat_ws (null joins as absent)")
  }

  test("duplicate grams dedup in first-occurrence order") {
    val r = spark.sql(
      "SELECT word_shingles(array('a','b','a','b','a','b'), 3) AS s").head()
    assert(r.getSeq[String](0) == Seq("a b a", "b a b"))
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT word_shingles(array('a','b','c','d'), 3) AS s")
        .head().getSeq[String](0)
      assert(r == Seq("a b c", "b c d"))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-array input and non-literal n are rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT word_shingles('abc', 3)").collect()
    }
    assert(ex.getMessage.contains("word_shingles") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
    val ex2 = intercept[Exception] {
      spark.sql("SELECT word_shingles(array('a'), length('abc'))").collect()
    }
    assert(ex2.getMessage.contains("integer literal") ||
      ex2.getMessage.toLowerCase.contains("literal"))
  }
}
