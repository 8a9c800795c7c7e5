package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{FloatVecDot, VectorFunctions}
import graft.plans.CosineFusionRule

/** FloatVecDot must be bit-identical to the HOF fold it replaced —
 * that equivalence is what keeps the DuckDB oracle matching. */
class VectorExpressionsSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private lazy val emb = {
    spark.read.parquet(s"$sf/embeddings.parquet")
  }

  test("vec_dot equals the zip_with/aggregate fold on every row") {
    val hof = expr(
      """aggregate(zip_with(embedding, embedding,
        |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
    val diff = emb
      .select(VectorFunctions.vecDot(col("embedding"), col("embedding")).as("k"),
        hof.as("h"))
      .filter(col("k") =!= col("h"))
      .count()
    assert(diff == 0)
  }

  test("vec_dot of orthogonal unit vectors") {
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |               array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS d""".stripMargin)
      .head.getDouble(0)
    assert(r == 0.0)
  }

  test("length mismatch and null element give null") {
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS a,
        |       vec_dot(array(CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS b""".stripMargin)
      .head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("non-float input is rejected at analysis") {
    val ex = intercept[Exception] {
      spark.range(1).select(VectorFunctions.vecDot(col("id"), col("id"))).collect()
    }
    assert(ex.getMessage.contains("vec_dot expects"))
  }

  test("vec_cosine is bit-identical to the composed dot/norm form on every pair") {
    // self-join a small slice so both orders and distinct pairs are hit
    val a = emb.limit(40).select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = emb.limit(40).select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val composed = VectorFunctions.vecDot(col("ea"), col("eb")) /
      (sqrt(VectorFunctions.vecDot(col("ea"), col("ea"))) *
        sqrt(VectorFunctions.vecDot(col("eb"), col("eb"))))
    // The session's CosineFusionRule would rewrite `composed` into
    // vec_cosine itself, and the filter would compare the kernel with
    // itself; keep the rule out so the reference stays unfused.
    val excluded = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(excluded)
    spark.conf.set(excluded, CosineFusionRule.ruleName)
    try {
      val pairs = a.crossJoin(b)
        .select(VectorFunctions.vecCosine(col("ea"), col("eb")).as("k"), composed.as("c"))
        .filter(col("k") =!= col("c"))
      val dots = pairs.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case d: FloatVecDot => d })
      assert(dots.size >= 3, "the composed reference was fused")
      assert(pairs.count() == 0)
    } finally {
      prior.fold(spark.conf.unset(excluded))(spark.conf.set(excluded, _))
    }
  }

  test("vec_cosine null semantics match vec_dot composition") {
    val r = spark.sql(
      """SELECT vec_cosine(array(CAST(1.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c,
        |       vec_cosine(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS cn""".stripMargin)
      .head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  /** The HOF chain Int8CoarseCos replaces, verbatim from the original
   * q_knn_rerank formulation — the parity target AND the oracle twin. */
  private def hofCosQ(embCol: String) = {
    val maxAbs =
      s"CAST(array_max(transform($embCol, x -> abs(x))) AS DOUBLE)"
    expr(
      s"""CASE WHEN aggregate(transform($embCol, x ->
         |  CAST(round(CAST(x AS DOUBLE) * (CASE WHEN $maxAbs = 0.0
         |    THEN 0.0 ELSE 127.0 / $maxAbs END)) AS BIGINT)),
         |  0L, (a, v) -> a + v * v) = 0 OR pqq = 0 THEN 0.0
         |ELSE CAST(aggregate(zip_with(transform($embCol, x ->
         |  CAST(round(CAST(x AS DOUBLE) * (CASE WHEN $maxAbs = 0.0
         |    THEN 0.0 ELSE 127.0 / $maxAbs END)) AS BIGINT)), qp,
         |  (x, y) -> x * y), 0L, (a, v) -> a + v) AS DOUBLE)
         |  / (sqrt(CAST(aggregate(transform($embCol, x ->
         |    CAST(round(CAST(x AS DOUBLE) * (CASE WHEN $maxAbs = 0.0
         |      THEN 0.0 ELSE 127.0 / $maxAbs END)) AS BIGINT)),
         |    0L, (a, v) -> a + v * v) AS DOUBLE))
         |    * sqrt(CAST(pqq AS DOUBLE))) END""".stripMargin)
  }

  test("int8_coarse_cos is bit-identical to the HOF chain on the corpus") {
    val probe = emb.filter(col("vec_id") === 0)
      .withColumn("max_abs",
        expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)"))
      .withColumn("qp", expr(
        """transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
          |  (CASE WHEN max_abs = 0.0 THEN 0.0 ELSE 127.0 / max_abs END))
          |  AS BIGINT))""".stripMargin))
      .select(col("qp"), expr("aggregate(qp, 0L, (a, v) -> a + v * v)").as("pqq"))
    val diff = emb.crossJoin(broadcast(probe))
      .select(
        VectorFunctions.int8CoarseCos(col("embedding"), col("qp"), col("pqq"))
          .as("k"),
        hofCosQ("embedding").as("h"))
      .filter(col("k") =!= col("h"))
      .count()
    assert(diff == 0)
  }

  test("int8_coarse_cos rounds negative halves like Spark round (HALF_UP)") {
    // scale = 1 (max|x| = 127): elements ±0.5, ±1.5, ±2.5 sit exactly ON
    // the rounding boundary, where Math.round (floor(x+0.5)) and Spark's
    // BigDecimal HALF_UP disagree for negatives. The kernel must take
    // Spark's branch — the HOF chain is the referee.
    val rows = spark.sql(
      """SELECT CAST(array(127.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5)
        |            AS ARRAY<FLOAT>) AS embedding
        |UNION ALL
        |SELECT CAST(array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        |            AS ARRAY<FLOAT>) AS embedding""".stripMargin)
      .withColumn("qp",
        expr("CAST(array(127, 1, -1, 2, -2, 3, -3) AS ARRAY<BIGINT>)"))
      .withColumn("pqq", expr("CAST(16157 AS BIGINT)"))
    val r = rows.select(
      VectorFunctions.int8CoarseCos(col("embedding"), col("qp"), col("pqq"))
        .as("k"),
      hofCosQ("embedding").as("h")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1),
      s"kernel=${row.getDouble(0)} hof=${row.getDouble(1)}"))
    // the zero vector must hit the 0.0 guard, not NaN
    assert(r.last.getDouble(0) == 0.0)
  }

  test("int8_coarse_cos: non-finite elements score 0.0, never a crash") {
    // BigDecimal.valueOf rejects NaN/Infinity with NumberFormatException
    // — one corrupt embedding row would have killed the whole coarse
    // scan stage (r18 review). A NaN element skips the maxAbs compare
    // and quantizes to 0 — the row still coarse-scores on its FINITE
    // components; an Inf element zeroes the scale so the whole vector
    // quantizes to 0s → qq == 0 → the 0.0 guard. Either way the exact
    // rerank stage sees the raw floats and decides the row's fate.
    val rows = spark.sql(
      """SELECT CAST(array(1.0, CAST('NaN' AS FLOAT), 3.0) AS ARRAY<FLOAT>)
        |         AS embedding
        |UNION ALL
        |SELECT CAST(array(1.0, CAST('Infinity' AS FLOAT), 3.0)
        |            AS ARRAY<FLOAT>)
        |UNION ALL
        |SELECT CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)""".stripMargin)
      .withColumn("qp", expr("CAST(array(42, 85, 127) AS ARRAY<BIGINT>)"))
      .withColumn("pqq", expr("CAST(25118 AS BIGINT)"))
    val r = rows.select(
      VectorFunctions.int8CoarseCos(col("embedding"), col("qp"), col("pqq"))
        .as("k")).collect().map(_.getDouble(0))
    assert(java.lang.Double.isFinite(r(0)),
      s"a NaN element must score on the finite components, got ${r(0)}")
    assert(r(1) == 0.0,
      s"an Inf element zeroes the scale → coarse score 0.0, got ${r(1)}")
    assert(r(2) > 0.9, s"the clean vector must score normally, got ${r(2)}")
  }

  test("vector kernels compile under CODEGEN_ONLY (no silent fallback)") {
    // a doGenCode bug would otherwise silently drop the whole stage to
    // the interpreted path and only show up as a perf regression
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = emb.limit(8)
        .select(
          VectorFunctions.vecDot(col("embedding"), col("embedding")).as("d"),
          VectorFunctions.vecCosine(col("embedding"), col("embedding")).as("c"),
          VectorFunctions.int8CoarseCos(col("embedding"),
            expr("transform(embedding, x -> 1L)"), lit(64L)).as("q"))
        .collect()
      assert(r.length == 8 && r.forall(!_.anyNull))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }
}
