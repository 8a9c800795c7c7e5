package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TokenMaxRun

/** token_max_run replaces the Gopher repetition rule's O(distinct × n)
 * lambda — parity must be VALUE parity on the real corpus (the oracle
 * compares exact counts), plus the null/empty contract of the replaced
 * expression and the codegen pin of the kernel discipline. */
class TokenMaxRunSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private val lambdaForm =
    "array_max(transform(array_distinct(ts), t -> size(filter(ts, x -> x = t))))"

  test("value parity with the lambda form on the real corpus") {
    val mismatch = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("viaKernel", TokenMaxRun.maxRunCol(col("ts")))
      .withColumn("viaLambda", expr(lambdaForm).cast("long"))
      .filter(!(col("viaKernel") <=> col("viaLambda")))
      .count()
    assert(mismatch == 0)
  }

  test("null contract: empty → null, null elements count 0, multi-byte exact") {
    val r = spark.sql(
      """SELECT token_max_run(CAST(array() AS array<string>)) AS empty,
        |       token_max_run(CAST(NULL AS array<string>)) AS nullArr,
        |       token_max_run(array(CAST(NULL AS string), NULL)) AS allNull,
        |       token_max_run(array('x')) AS single,
        |       token_max_run(array('a', NULL, 'a', 'b')) AS mixed,
        |       token_max_run(array('ñu', 'nu', 'ñu', 'ñu')) AS multibyte
        |""".stripMargin).head()
    assert(r.isNullAt(0), "empty array must be null (array_max of empty)")
    assert(r.isNullAt(1), "null input must stay null")
    assert(r.getLong(2) == 0L, "all-null counts 0 (lambda's x = t never true)")
    assert(r.getLong(3) == 1L)
    assert(r.getLong(4) == 2L, "nulls never join a run")
    assert(r.getLong(5) == 3L, "multi-byte tokens compare exactly")
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // two instances in ONE projection: with a non-nullable child the
      // generated locals share a scope, so this doubles as the
      // freshName collision pin
      val r = spark.sql(
        """SELECT token_max_run(array('a', 'b', 'a')) AS m,
          |       token_max_run(array('x', 'x', 'x', 'y')) AS n""".stripMargin)
        .head()
      assert(r.getLong(0) == 2L && r.getLong(1) == 3L)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-array input is rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT token_max_run('abc')").collect()
    }
    assert(ex.getMessage.contains("token_max_run") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
