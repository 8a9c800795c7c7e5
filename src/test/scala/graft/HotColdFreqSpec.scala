package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.HotColdFreq

/** HotColdFreq routes hot keys around the frequency exchange — the
 * routing must NEVER change a value. Ground truth is the window
 * formulation it replaced (sum over partition by key), compared
 * row-for-row on the real corpus's bigram stream across every routing
 * regime: all-cold, all-hot, and mixed — plus the sentinel-collision
 * pin (a hot row scattered onto a REAL cold key's value must keep its
 * broadcast frequency). */
class HotColdFreqSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  // withFreq persists its freq frame; the session is shared
  // across suites and a leaked InMemoryRelation can canonically match
  // a later suite's plan subtree (e.g. q_lm_score's freq) and silently
  // rewrite its plan-shape pins — drop caches after every test
  override protected def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally spark.catalog.clearCache()

  private def bigrams = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), split(col("text"), " ").as("ts"))
    .select(col("doc_id"), explode(expr(
      """CASE WHEN size(ts) < 2 THEN array()
        |ELSE transform(sequence(0, size(ts) - 2),
        |               i -> xxhash64(concat(ts[i], ' ', ts[i + 1]))) END"""
        .stripMargin)).as("h"))

  private def viaWindow = bigrams.withColumn("f",
    count(lit(1)).over(Window.partitionBy("h")))

  private def mismatches(hotMin: Long): Long =
    HotColdFreq.withFreq(bigrams, "h", "g", lit(1L), col("doc_id"), hotMin)
      .join(viaWindow.dropDuplicates("h").select("h", "f"), "h")
      .filter(col("g") =!= col("f")).count()

  test("all-cold regime (hotMin above every mass) matches the window") {
    assert(mismatches(Long.MaxValue) == 0)
  }

  test("all-hot regime (hotMin = 1, every key broadcasts) matches") {
    assert(mismatches(1L) == 0)
  }

  test("mixed regime (median-ish threshold) matches") {
    assert(mismatches(3L) == 0)
  }

  test("weighted frequency (pre-collapsed counts) matches a groupBy sum") {
    // collapse per (doc, h) first — the q_substr_dedup shape — and
    // weight by the collapsed count; truth from a plain groupBy
    val g1 = bigrams.groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val truth = g1.groupBy("h").agg(sum("c").as("f"))
    val bad = HotColdFreq.withFreq(g1, "h", "g", col("c"), col("doc_id"), 2L)
      .join(truth, "h").filter(col("g") =!= col("f")).count()
    assert(bad == 0)
  }

  test("sentinel collision with a real cold key is harmless") {
    import spark.implicits._
    // hot key 999 (mass 70 >= hotMin 10); cold keys 0..63 cover the
    // ENTIRE sentinel space (ways = 64), so every scattered hot row's
    // join key collides with a real cold key — each must still carry
    // the hot frequency 70, and the cold keys their own count 1
    val rows = (1 to 70).map(i => (i.toLong, 999L)) ++
      (0 to 63).map(i => (1000L + i, i.toLong))
    val df = rows.toDF("doc_id", "h")
    // ways passed EXPLICITLY: the full-coverage premise above depends
    // on it (the auto default scales with shuffle partitions)
    val out = HotColdFreq.withFreq(df, "h", "f", lit(1L), col("doc_id"),
      10L, ways = 64)
    assert(out.filter(col("h") === 999L && col("f") =!= 70L).count() == 0)
    assert(out.filter(col("h") < 999L && col("f") =!= 1L).count() == 0)
    assert(out.count() == rows.size, "routing must never multiply rows")
  }

  test("hot rows take the broadcast path — the mechanism, not just the values") {
    import spark.implicits._
    val df = ((1 to 70).map(i => (i.toLong, 999L)) ++
      (0 to 9).map(i => (1000L + i, i.toLong))).toDF("doc_id", "h")
    val out = HotColdFreq.withFreq(df, "h", "f", lit(1L), col("doc_id"), 10L)
    // collect(), not foreach: foreach forks a separate
    // rddQueryExecution and leaves THIS queryExecution's adaptive plan
    // unfinalized — the assertion would read the initial plan (80 rows,
    // so materializing is free)
    out.collect()
    def collectExec(p: org.apache.spark.sql.execution.SparkPlan,
                    acc: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectExec(a.executedPlan, acc)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          collectExec(q.plan, acc)
        case other => acc += other.nodeName
      }
      p.children.foreach(collectExec(_, acc))
      p.subqueries.foreach(collectExec(_, acc))
    }
    val nodes = scala.collection.mutable.ArrayBuffer[String]()
    collectExec(out.queryExecution.executedPlan, nodes)
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"hot side must join via broadcast, got: ${nodes.distinct.mkString(", ")}")
  }

  test("random-shape stream: routing ≡ groupBy truth at every regime") {
    // a hash-derived pseudorandom stream (deterministic — plans must
    // replay): Zipf-ish keys via a squared draw so some keys are hot
    // at small hotMin, long-tailed weights
    val stream = spark.range(0, 5000)
      .select(col("id").as("doc_id"),
        // integer-floored squared draw: long key (the sentinel-safe
        // type contract), still Zipf-ish — small k values are common
        floor(pmod(xxhash64(col("id")), lit(70L)) *
          pmod(xxhash64(col("id"), lit(1)), lit(70L)) / lit(70L))
          .cast("long").as("k"),
        (pmod(xxhash64(col("id"), lit(2)), lit(5L)) + lit(1L)).as("w"))
    val truth = stream.groupBy("k").agg(sum("w").as("f"))
    for (hotMin <- Seq(1L, 50L, 400L, Long.MaxValue)) {
      val bad = HotColdFreq.withFreq(stream, "k", "g", col("w"),
          col("doc_id"), hotMin)
        .join(truth, "k").filter(col("g") =!= col("f")).count()
      assert(bad == 0, s"hotMin=$hotMin diverged from groupBy truth")
    }
  }

  test("null keys get null frequency (the documented contract)") {
    import spark.implicits._
    val df = Seq((1L, Some(7L)), (2L, Some(7L)), (3L, None), (4L, None))
      .toDF("doc_id", "h")
    val out = HotColdFreq.withFreq(df, "h", "f", lit(1L), col("doc_id"), 100L)
    assert(out.filter(col("h").isNull && col("f").isNotNull).count() == 0,
      "null keys must not acquire a frequency")
    assert(out.filter(col("h") === 7L && col("f") =!= 2L).count() == 0,
      "null keys must not perturb real keys' frequencies")
    assert(out.count() == 4, "null-key rows must survive the routing")
  }

  test("reserved-name and output-name collisions are rejected loudly") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("doc_id", "h")
    for (bad <- Seq("__hot_f", "__cold_f", "__ck")) {
      val ex = intercept[IllegalArgumentException] {
        HotColdFreq.withFreq(df.withColumn(bad, lit(0L)),
          "h", "f", lit(1L), col("doc_id"), 1L)
      }
      assert(ex.getMessage.contains(bad))
    }
    // the output column must not silently shadow an existing one
    val ex = intercept[IllegalArgumentException] {
      HotColdFreq.withFreq(df, "h", "doc_id", lit(1L), col("doc_id"), 1L)
    }
    assert(ex.getMessage.contains("doc_id"))
  }

  test("non-sentinel-safe key types are rejected loudly") {
    import spark.implicits._
    // a date key casts the long sentinel to null — every hot row would
    // silently collapse onto one partition; the helper must refuse
    val df = Seq((1L, java.sql.Date.valueOf("2026-01-01")))
      .toDF("doc_id", "h")
    val ex = intercept[IllegalArgumentException] {
      HotColdFreq.withFreq(df, "h", "f", lit(1L), col("doc_id"), 1L)
    }
    assert(ex.getMessage.contains("sentinel"))
    // boolean: two-value sentinel space, same silent re-concentration
    val dfb = Seq((1L, true)).toDF("doc_id", "h")
    intercept[IllegalArgumentException] {
      HotColdFreq.withFreq(dfb, "h", "f", lit(1L), col("doc_id"), 1L)
    }
    // int keys stay allowed (sentinel fits) — values must still match
    val dfi = ((1 to 30).map(i => (i.toLong, 7)) ++
      (1 to 4).map(i => (100L + i, i))).toDF("doc_id", "h")
    val out = HotColdFreq.withFreq(dfi, "h", "f", lit(1L), col("doc_id"), 10L)
    assert(out.filter(col("h") === 7 && col("f") =!= 30L).count() == 0)
    assert(out.count() == 34)
  }

  test("null scatter degrades to per-key concentration, never wrong values") {
    import spark.implicits._
    // 40 hot rows, half with a NULL scatter column: the fallback hashes
    // the key instead (those rows share one sentinel — documented
    // degradation), but every frequency must stay exact and no row lost
    val rows = (1 to 40).map(i =>
      (if (i % 2 == 0) Some(i.toLong) else None, 7L)) ++
      (1 to 5).map(i => (Some(100L + i), i.toLong))
    val df = rows.toDF("sc", "h")
    val out = HotColdFreq.withFreq(df, "h", "f", lit(1L), col("sc"), 10L)
    assert(out.filter(col("h") === 7L && col("f") =!= 40L).count() == 0)
    assert(out.filter(col("h") =!= 7L && col("f") =!= 1L).count() == 0)
    assert(out.count() == rows.size)
  }

  test("string keys route and scatter (tfidf's tok shape)") {
    import spark.implicits._
    val rows = (1 to 30).map(i => (i.toLong, "the")) ++
      (1 to 5).map(i => (100L + i, s"rare$i"))
    val df = rows.toDF("doc_id", "tok")
    val out = HotColdFreq.withFreq(df, "tok", "f", lit(1L), col("doc_id"), 10L)
    assert(out.filter(col("tok") === "the" && col("f") =!= 30L).count() == 0)
    assert(out.filter(col("tok") =!= "the" && col("f") =!= 1L).count() == 0)
    assert(out.count() == rows.size)
  }

  test("zero-net keys get NULL frequency") {
    import spark.implicits._
    // retraction-style weights netting to 0 for key 8: zero mass is
    // "absent", so the key serves NULL like a key never seen
    val stream = Seq((1L, 7L, 2L), (2L, 8L, 1L), (3L, 8L, -1L))
      .toDF("doc_id", "h", "w")
    val out = HotColdFreq.withFreq(stream, "h", "g", col("w"),
      col("doc_id"), 100L)
    val m = out.select("doc_id", "h", "g").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(m.collect { case (_, 8L, g) => g } == Set(None),
      "a zero-net key must serve NULL frequency")
  }
}
