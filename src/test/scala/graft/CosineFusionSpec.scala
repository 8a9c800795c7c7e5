package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** The optimizer rule must turn the textbook composed cosine into the
 * fused kernel (plan-level), without changing a single output bit. */
class CosineFusionSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def composed = {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
    def d(a: String, b: String) = VectorFunctions.vecDot(col(a), col(b))
    e.crossJoin(probe)
      .select(col("vec_id"),
        (d("embedding", "pe") /
          (sqrt(d("embedding", "embedding")) * sqrt(d("pe", "pe")))).as("cos"))
  }

  test("composed dot/(sqrt*sqrt) is rewritten to vec_cosine in the optimized plan") {
    val opt = composed.queryExecution.optimizedPlan
    val exprs = opt.expressions.map(_.toString).mkString("\n")
    assert(exprs.contains("vec_cosine"), s"no fusion in:\n$exprs")
    assert(!exprs.contains("vec_dot"), s"unfused vec_dot survives in:\n$exprs")
  }

  test("fusion does not change any output bit") {
    // the fused query's output must equal the explicit kernel's, which
    // VectorExpressionsSpec already proved bit-equal to the raw
    // (unfused) composed form — closing the triangle
    val fused = composed.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kernel = {
      val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
      e.crossJoin(probe)
        .select(col("vec_id"),
          VectorFunctions.vecCosine(col("embedding"), col("pe")).as("cos"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(fused == kernel)
  }
}
