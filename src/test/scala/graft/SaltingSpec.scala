package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Salting

/** Pins the shared hot-group-split contract (graft.plans.Salting) on
 * q_semdedup's cluster join — the KnnGraphIndexSpec:200 pattern applied
 * to the sibling operator (VERDICT r12 item 1): a planted hot cluster,
 * split ≡ unsplit output, the per-sub a-side bound, and cold clusters
 * left whole. */
class SaltingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // planted skew: 300 vectors in cluster 7, ~25 in each of 4 others —
  // a 10×+ hot cluster at a 64-row split threshold (nsub = ceil(300/64)
  // = 5). Embeddings are deterministic sin-mix floats; plenty of pairs
  // land on both sides of the τ=0.3 cut so the equivalence is
  // non-vacuous in both directions.
  private lazy val corpus = spark.range(0, 400).selectExpr(
      "id AS vec_id",
      "CASE WHEN id < 300 THEN 7 ELSE 8 + CAST(id % 4 AS INT) END AS label",
      """transform(sequence(0, 15),
        |  i -> CAST(sin(id * 37 + i * CAST(id % 11 AS DOUBLE) / 7) AS FLOAT))
        |  AS embedding""".stripMargin)
    .cache()

  test("hot-cluster split: semdedup dropped set ≡ unsplit; sub-tasks bounded; cold clusters whole") {
    val hotN = corpus.filter(col("label") === 7).count()
    assert(hotN == 300L, s"plant failed: cluster 7 has $hotN rows")

    val unsplit = graft.queries.LlmOps
      .semdedupDropped(corpus, splitRows = Long.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    val split = graft.queries.LlmOps
      .semdedupDropped(corpus, splitRows = 64L)
      .collect().map(_.toString).sorted.toSeq
    assert(unsplit.nonEmpty, "plant produced no dropped vectors — vacuous")
    assert(split == unsplit,
      "split cluster join diverged from the unsplit dropped set")
    // and not everything was dropped, so the < τ side is exercised too
    assert(unsplit.length < 395, "plant dropped ~everything — vacuous cut")

    // per-sub-task bound on the generic helper itself: the hot
    // cluster's a-side spreads over ceil(|C|/64) subs, none more than
    // ~2× the threshold (hash-uniformity slack); cold clusters keep
    // sub ≡ 0
    val (aSide, bSide) = Salting.saltedSelfSides(
      corpus, "label", "vec_id", 64L, 64)
    val aGroups = aSide.groupBy("label", "sub")
      .agg(count(lit(1)).as("n")).collect()
    val hotSubs = aGroups.filter(_.getInt(0) == 7)
    val expectSubs = math.ceil(hotN / 64.0).toInt
    assert(hotSubs.length == expectSubs,
      s"hot cluster split into ${hotSubs.length} subs, wanted $expectSubs")
    assert(hotSubs.map(_.getLong(2)).max <= 128L,
      "a sub-task's a-side exceeded 2× the split threshold")
    aGroups.filter(_.getInt(0) != 7).foreach(r =>
      assert(r.getInt(1) == 0, s"cold cluster ${r.getInt(0)} was split"))

    // multiprobe: each hot sub-task's b-side is the FULL cluster
    val bHot = bSide.filter(col("label") === 7)
      .groupBy("sub").agg(count(lit(1)).as("n")).collect()
    assert(bHot.length == expectSubs && bHot.forall(_.getLong(1) == hotN),
      "b-side does not multiprobe the full parent cluster")
  }

  test("past the maxSub knee the split goes 2-D: pairs meet exactly once, both sides bounded") {
    // splitRows = 16, maxSub = 2 puts the knee at 32 rows/group; the
    // 300-row hot cluster needs N = 19 chunks, so na = 2 and the
    // b-side ALSO chunks (nb = 2) — the grid regime the r12 ceiling
    // note documented and round 13 implemented
    val (aSide, bSide) = Salting.saltedSelfSides(
      corpus, "label", "vec_id", 16L, 2)
    val hotN = 300L

    // the load-bearing contract, checked at the PAIR level: joining on
    // (key, sub) yields every ordered in-group pair EXACTLY once —
    // no pair lost by the grid routing, none duplicated by the
    // two-sided replication
    val pairs = aSide.select(col("label"), col("sub"), col("vec_id").as("ai"))
      .join(bSide.select(col("label"), col("sub"), col("vec_id").as("bi")),
        Seq("label", "sub"))
      .groupBy("label", "ai", "bi").agg(count(lit(1)).as("c"))
    assert(pairs.filter(col("c") =!= 1).count() == 0L,
      "an ordered pair met zero or multiple times under the 2-D split")
    val wantPairs = corpus.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n"))).head().getLong(0)
    assert(pairs.count() == wantPairs,
      "the 2-D split's ordered-pair count is not Σ|G|²")

    // two-sided replication and per-cell bounds: the hot cluster's
    // a-side replicates nb = 2×, its b-side na = 2×, and NO cell holds
    // the full group on either side (the 1-D scheme's b-side would)
    assert(aSide.filter(col("label") === 7).count() == hotN * 2,
      "a-side did not replicate across the b-chunks")
    assert(bSide.filter(col("label") === 7).count() == hotN * 2,
      "b-side did not replicate across the a-chunks")
    val maxCellB = bSide.filter(col("label") === 7)
      .groupBy("sub").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(maxCellB < hotN,
      "a grid cell's b-side still carries the full parent group")

    // and the downstream semantics are unchanged: the semdedup join
    // shape (ai < bi orientation + distinct) over the grid sides
    // equals the unsplit join's output
    def dropped(a0: org.apache.spark.sql.DataFrame,
                b0: org.apache.spark.sql.DataFrame): Seq[String] = {
      val a = a0.select(col("label"), col("sub"), col("vec_id").as("ai"),
        col("embedding").as("ea"))
      val b = b0.select(col("label"), col("sub"), col("vec_id").as("bi"),
        col("embedding").as("eb"))
      a.join(b, Seq("label", "sub"))
        .filter(col("ai") < col("bi"))
        .withColumn("cos",
          graft.functions.VectorFunctions.vecCosine(col("ea"), col("eb")))
        .filter(col("cos") > 0.3)
        .select(col("label"), col("bi")).distinct()
        .collect().map(_.toString).sorted.toSeq
    }
    val (ua, ub) = Salting.saltedSelfSides(
      corpus, "label", "vec_id", Long.MaxValue, 2)
    val want = dropped(ua, ub)
    val got = dropped(aSide, bSide)
    assert(want.nonEmpty && got == want,
      "2-D split changed the semdedup-shape output")
  }

  test("a sizesIn frame missing a group degrades it to unsplit, never drops rows") {
    // the contract is "row-identical to the unsplit join": a stale or
    // differently-filtered caller-supplied sizes frame must leave an
    // uncovered group WHOLE on both sides (nsub = 1), not silently
    // lose it from the output
    val sizes = corpus.filter(col("label") =!= 7)
      .groupBy("label").agg(count(lit(1)).as("group_n"))
    val (aSide, bSide) = Salting.saltedSelfSides(
      corpus, "label", "vec_id", 64L, 64, Some(sizes))
    val total = corpus.count()
    assert(aSide.count() == total,
      "a-side lost rows for the group absent from sizesIn")
    val aHot = aSide.filter(col("label") === 7)
    assert(aHot.count() == 300L && aHot.filter(col("sub") =!= 0).count() == 0L,
      "uncovered group should be whole and unsplit on the a-side")
    val bHot = bSide.filter(col("label") === 7)
    assert(bHot.count() == 300L && bHot.filter(col("sub") =!= 0).count() == 0L,
      "uncovered group should be whole and unsplit on the b-side")
  }

  test("gate threshold leaves gate-scale clusters unsplit") {
    // the declared SEMDEDUP_SPLIT must not engage on the driver's
    // corpora (the gate plan stays the pre-split broadcast shape);
    // sf0.001's largest label group is ~hundreds of rows
    val e = graft.queries.Q.rd(spark, SparkTestBase.sf, "embeddings")
      .select("vec_id", "label", "embedding")
    val maxCluster = e.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(maxCluster < graft.queries.LlmOps.SEMDEDUP_SPLIT,
      s"gate corpus has a $maxCluster-row cluster past the split " +
        "threshold — the 'gate plans unaffected' claim no longer holds")
    val (aSide, _) = Salting.saltedSelfSides(
      e, "label", "vec_id", graft.queries.LlmOps.SEMDEDUP_SPLIT, 64)
    assert(aSide.filter(col("sub") =!= 0).count() == 0L,
      "gate-scale corpus was split at the declared threshold")
  }

  test("grid exactly-once property: every ordered pair meets once, for random shapes") {
    // the 2-D grid's arithmetic guarantee (each ordered pair (a, b) of
    // a group meets in EXACTLY one (key, sub) cell) is hand-verified in
    // the scaladoc and planted-pinned above; this fuzzes it across
    // random group sizes, splitRows, and maxSub — including maxSub = 2
    // with groups far past maxSub·splitRows, the regime where nb > 1
    // and the grid goes two-dimensional. A pair meeting 0 times loses
    // rows (wrong results); 2+ times duplicates them.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val shapes = for {
      nGroups <- Gen.choose(1, 3)
      sizes <- Gen.listOfN(nGroups, Gen.choose(1, 60))
      splitRows <- Gen.oneOf(1L, 2L, 5L, 13L)
      maxSub <- Gen.oneOf(2, 3, 64)
    } yield (sizes, splitRows, maxSub)
    val prop = Prop.forAll(shapes) { case (sizes, splitRows, maxSub) =>
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (0 until n).map(i => (s"g$g", (g * 1000 + i).toLong))
      }
      val df = rows.toDF("key", "id")
      val (a, b) = Salting.saltedSelfSides(df, "key", "id",
        splitRows, maxSub)
      val meets = a.select(col("key"), col("sub"), col("id").as("a_id"))
        .join(b.select(col("key"), col("sub"), col("id").as("b_id")),
          Seq("key", "sub"))
        .groupBy("a_id", "b_id").count()
      val bad = meets.filter(col("count") =!= 1).count()
      val total = meets.count()
      val expected = sizes.map(n => n.toLong * n).sum // ordered pairs incl self
      bad == 0 && total == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("reserved-name collision on the input frame fails loudly") {
    import spark.implicits._
    val bad = Seq((1L, "x", 0)).toDF("vec_id", "label", "sub")
    val e = intercept[IllegalArgumentException] {
      Salting.saltedSelfSides(bad, "label", "vec_id", 10L, 4)
    }
    assert(e.getMessage.contains("sub") && e.getMessage.contains("reserved"),
      s"guard message should name the colliding column: ${e.getMessage}")
    val bad2 = Seq((1L, "x", 3L)).toDF("vec_id", "label", "group_n")
    intercept[IllegalArgumentException] {
      Salting.saltedSelfSides(bad2, "label", "vec_id", 10L, 4)
    }
  }
}
