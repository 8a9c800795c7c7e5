package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashSig

/** MinHashSigExpr must reproduce the HOF formulation slot-for-slot —
 * that equality is what lets the streaming and static sides of
 * s_incr_dedup band against each other. */
class MinHashSigSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def hofSlot(k: Int) =
    expr(s"array_min(transform(hh, h -> xxhash64(h, ${k}L)))")

  test("kernel equals the 32 HOF slots on every corpus document") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(graft.queries.LlmOps.shingleExpr))
      .withColumn("hh", expr("transform(sh, x -> xxhash64(x))"))
      .withColumn("sig", MinHashSig.sig(col("hh")))
    val slotChecks = (0 until 32).map(k =>
      element_at(col("sig"), k + 1) === hofSlot(k))
    val bad = docs.filter(!slotChecks.reduce(_ && _)).count()
    assert(bad == 0)
  }

  test("empty and null shingle arrays give a null signature") {
    val r = spark.sql(
      """SELECT minhash_sig(CAST(array() AS ARRAY<BIGINT>)) AS a,
        |       minhash_sig(CAST(NULL AS ARRAY<BIGINT>)) AS b""".stripMargin)
      .head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT minhash_sig(array(1L, 2L, 3L)) AS s").head.getSeq[Long](0)
      assert(r.length == 32)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-long input is rejected at analysis") {
    val ex = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a', 'b'))").collect()
    }
    assert(ex.getMessage.contains("minhash_sig") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
