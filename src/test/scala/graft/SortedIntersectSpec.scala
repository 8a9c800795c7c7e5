package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SortedIntersect

/** Pins the sorted_long_intersect merge kernel and the two-phase
 * verify prefilter built on it (the near-dup pair build's round-13
 * scale fix): value parity with size(array_intersect) on sorted
 * inputs, duplicate-run and edge behavior, codegen compilation, type
 * rejection — and the exactness-critical prefilter ROUTING
 * (LlmOps.prefilterKeep), which cannot be exercised with real xxhash64
 * collisions, so it is evaluated directly over crafted rows. The
 * end-to-end two-phase ≡ single-stage equivalence is pinned on a real
 * corpus here and re-proven by NeardupPairsIndexSpec's artifact-vs-
 * buildPlan comparison on every run. */
class SortedIntersectSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("parity with size(array_intersect) on sorted arrays, incl. duplicate runs") {
    val cases = Seq(
      // (a, b) — both sorted ascending; duplicates allowed
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 5L, 9L), Seq(2L, 6L, 10L)),
      (Seq(-9L, -3L, 0L, 7L), Seq(-9L, -3L, 0L, 7L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)),
      (Seq(1L, 1L, 2L, 2L, 2L, 3L), Seq(1L, 2L, 2L, 4L, 4L)),
      (Seq(5L, 5L, 5L), Seq(5L)),
      (Seq(1L, 2L, 2L, 3L, 3L, 3L, 10L), Seq(2L, 3L, 3L, 9L, 10L, 10L)))
    import spark.implicits._
    val n = cases.toDF("a", "b")
      .withColumn("k", SortedIntersect.of(col("a"), col("b")))
      .withColumn("w", size(array_intersect(col("a"), col("b"))))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n cases diverge from array_intersect")
  }

  test("int-array variant: parity with size(array_intersect), incl. negatives and dups") {
    val cases = Seq(
      (Seq(1, 2, 3), Seq(2, 3, 4)),
      (Seq.empty[Int], Seq(1, 2)),
      (Seq(Int.MinValue, -7, 0, Int.MaxValue), Seq(Int.MinValue, 0, 5)),
      (Seq(1, 1, 2, 2, 3), Seq(1, 2, 2, 4)),
      (Seq(5, 5, 5), Seq(5)))
    import spark.implicits._
    val n = cases.toDF("a", "b")
      .withColumn("k", SortedIntersect.of(col("a"), col("b")))
      .withColumn("w", size(array_intersect(col("a"), col("b"))))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n int cases diverge from array_intersect")
    // mismatched element types are rejected
    val ex = intercept[Exception] {
      spark.sql("SELECT sorted_long_intersect(array(1L), array(1))").collect()
    }
    assert(ex.getMessage.contains("sorted_long_intersect") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("parity on real hashed shingle arrays across the corpus") {
    val docs = spark.read.parquet(s"${SparkTestBase.sf}/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", graft.functions.Shingles.of(col("toks"), 3))
      .withColumn("d", sort_array(array_distinct(
        graft.functions.HashArray.arrayHash(col("sh")))))
      .select(col("doc_id"), col("d"))
    // every adjacent-id pair — includes empty-array and disjoint cases
    val a = docs.select(col("doc_id").as("i"), col("d").as("da"))
    val b = docs.select((col("doc_id") - 1).as("i"), col("d").as("db"))
    val n = a.join(b, "i")
      .withColumn("k", SortedIntersect.of(col("da"), col("db")))
      .withColumn("w", size(array_intersect(col("da"), col("db"))))
      .filter(col("k") =!= col("w"))
      .count()
    assert(n == 0L, s"$n real pairs diverge from array_intersect")
  }

  test("kernel compiles under CODEGEN_ONLY (no silent fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT sorted_long_intersect(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS k")
        .head().getInt(0)
      assert(r == 2)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("non-long-array input is rejected") {
    val ex = intercept[Exception] {
      spark.sql("SELECT sorted_long_intersect(array('a'), array('b'))").collect()
    }
    assert(ex.getMessage.contains("sorted_long_intersect") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("prefilter routing: injective pairs cut at the hashed bound, non-injective bypass") {
    import spark.implicits._
    // (na, da, nb, db, expected-keep) at threshold 0.5; ih is computed
    // by the kernel inside the frame, as in the real phase-1 plan
    val rows = Seq(
      // injective both (na == |da|), jacc_h = 1/5 well below 0.5 →
      // dropped (1·1.5 + 0.5 = 2 ≯ 0.5·6 = 3)
      (3, Seq(1L, 2L, 3L), 3, Seq(3L, 4L, 5L), false),
      // injective both, jacc_h = 2/4 = 0.5 EXACTLY → kept: the
      // half-integer slack keeps boundary-equal pairs (conservative;
      // phase 2's strict string filter drops them)
      (3, Seq(1L, 2L, 3L), 3, Seq(2L, 3L, 4L), true),
      // injective both, jacc_h = 3/4 > 0.5 → kept
      (4, Seq(1L, 2L, 3L, 4L), 3, Seq(1L, 2L, 3L), true),
      // a-side NON-injective (na=4 but |da|=3 — a within-doc hash
      // collision): bypass, kept even though jacc_h is far below t
      (4, Seq(1L, 2L, 3L), 3, Seq(7L, 8L, 9L), true),
      // b-side non-injective: same bypass
      (3, Seq(1L, 2L, 3L), 5, Seq(7L, 8L, 9L), true),
      // empty shingle sets: kept by the slack (0·1.5 + 0.5 > 0) —
      // conservative; phase 2's 0/0 null jaccard drops them, and empty
      // docs never band into candidates anyway (no exploded rows →
      // no signature row)
      (0, Seq.empty[Long], 0, Seq.empty[Long], true))
    val got = rows.toDF("na", "da", "nb", "db", "want")
      .withColumn("ih", SortedIntersect.of(col("da"), col("db")))
      .withColumn("keep", graft.queries.LlmOps.prefilterKeep(0.5))
      .filter(col("keep") =!= col("want"))
      .count()
    assert(got == 0L, s"$got prefilter rows routed wrongly")
  }

  test("two-phase fast build ≡ single-stage plan on a planted corpus") {
    import spark.implicits._
    // unique bodies + exact clones + one-token near-dups + short docs
    // (empty shingle sets) — every routing class the prefilter sees
    val base = spark.range(400).selectExpr("id AS doc_id",
      """concat_ws(' ', 'alpha body token', CAST(id AS STRING),
        |  'filler one two three four five', CAST(id * 7 % 13 AS STRING),
        |  'tail six seven eight nine ten eleven twelve') AS text""".stripMargin)
    val corpus = base
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .union(base.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 2000).as("doc_id"),
          concat(col("text"), lit(" nearmark")).as("text")))
      .union(Seq((3000L, "too short"), (3001L, "too short")).toDF("doc_id", "text"))
    val docs = graft.queries.LlmOps.shingled(corpus).cache()
    try {
      val want = graft.queries.LlmOps.neardupPairs(docs, 0.5)
        .orderBy("a_id", "b_id").collect().toSeq
      val got = graft.queries.LlmOps.neardupPairsFast(docs, 0.5)(
        _.orderBy("a_id", "b_id").collect().toSeq)
      assert(want.nonEmpty, "planted corpus produced no pairs — test is vacuous")
      assert(got == want)
    } finally docs.unpersist()
  }
}
