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
/** Latches for the lost-update race test: statics so the task closure
 * reaches them without serializing the suite; VARS re-assigned fresh
 * at each test start so a second run in the same JVM does not find
 * spent latches and lose the deterministic interleaving (r18 review
 * finding). */
object HotColdFreqSpec {
  @volatile var raceFired = new java.util.concurrent.CountDownLatch(1)
  @volatile var raceDone = new java.util.concurrent.CountDownLatch(1)
}

class HotColdFreqSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  // withFreq persists its freq frame by default; the session is shared
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
    // on it (the auto default scales with shuffle partitions / env)
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

  test("withFreqLoan leaves no cached freq behind (the lifecycle contract)") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, (i % 5).toLong)).toDF("doc_id", "h")
    // the same canonical plan withFreqHandle builds internally —
    // Dataset.storageLevel resolves through the cache manager's
    // canonicalized lookup, so this frame reads NONE iff no equivalent
    // cached entry exists (alias names are canonicalized away)
    // the null-key and zero-net drops are part of the cached plan
    def freqPlan = df.filter(col("h").isNotNull)
      .groupBy(col("h")).agg(sum(lit(1L)).cast("long").as("f"))
      .filter(col("f") =!= 0L)
    val res = HotColdFreq.withFreqLoan(df, "h", "f", lit(1L),
        col("doc_id"), 10L) { out =>
      val n = out.count()
      assert(freqPlan.storageLevel.useMemory,
        "freq must be cached while the loan is live")
      n
    }
    assert(res == 50)
    assert(freqPlan.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the loan must unpersist freq when the callback returns — a leak " +
        "here is the accumulating-cache failure ADVICE r15 flagged")
    // and the handle shape drains the same way for callers that
    // materialize outside one scope
    val (out2, handle) = HotColdFreq.withFreqHandle(df, "h", "f2", lit(1L),
      col("doc_id"), 10L)
    out2.count()
    assert(handle.isDefined && handle.get.storageLevel.useMemory)
    handle.get.unpersist()
    assert(freqPlan.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
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

  test("freqTable sourcing ≡ withFreq, and the freq side reads bucketed") {
    // the uncacheable-key-space shape (FREQPROBE_r16*.json's surviving
    // arm at 360M keys / 6 GiB): freq written once to a bucketed+sorted
    // table, consumers served from the scan. Values must be identical
    // to the persist shape, and the scan must actually BE bucketed —
    // an unbucketed table would silently reintroduce the freq-side
    // exchange+sort the shape exists to remove.
    val table = "graft_freqtable_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val freqT = HotColdFreq.freqTable(bigrams, "h", "g", lit(1L), table)
      val out = HotColdFreq.attachFreq(bigrams, freqT, "h", "g",
        col("doc_id"), 3L)
      val bad = out
        .join(viaWindow.dropDuplicates("h").select("h", "f"), "h")
        .filter(col("g") =!= col("f")).count()
      assert(bad == 0, "table sourcing changed a frequency value")
      // mechanism: when the cold join is sort-merge (the lake-scale
      // case the shape exists for — at THIS corpus AQE broadcasts the
      // tiny cold side and DisableUnnecessaryBucketedScan rightly
      // turns bucketed reading off), the table's scan must read
      // bucketed so the freq side needs no exchange and no sort.
      // Force SMJ the way 360M keys would; the hot side keeps its
      // explicit broadcast() hint regardless.
      def scans(p: org.apache.spark.sql.execution.SparkPlan,
                acc: scala.collection.mutable.ArrayBuffer[Boolean]): Unit = {
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan, acc)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan, acc)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(
                _.toString.contains(table)) =>
            acc += f.bucketedScan
          case _ => ()
        }
        p.children.foreach(scans(_, acc))
      }
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = confs.map(k => k -> spark.conf.getOption(k))
      val bucketed = scala.collection.mutable.ArrayBuffer[Boolean]()
      try {
        confs.foreach(spark.conf.set(_, "-1"))
        val o = HotColdFreq.attachFreq(bigrams, spark.table(table), "h",
          "g", col("doc_id"), 3L)
        // finalize and inspect the SHARED QueryExecution while the
        // forced confs are live: count() forks its own QE, and the
        // executedPlan lazy val would otherwise first materialize
        // AFTER the finally restored the thresholds (both the r15
        // PlanAudit trap and its lazier cousin)
        o.queryExecution.toRdd.count()
        scans(o.queryExecution.executedPlan, bucketed)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      assert(bucketed.exists(identity),
        s"under a sort-merge cold join the freq table's scan must read " +
          s"bucketed, got: $bucketed")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("freqTableRefresh: delta merge ≡ full rebuild, chained, still bucketed") {
    // the criterion-fired incremental shape (FREQREFRESH_r17.json:
    // full rebuild = 63% of a 110× refresh cycle on the gram stream):
    // additive merge of a delta aggregation into the bucketed table
    // must equal a from-scratch rebuild key-for-key, survive being
    // chained, and come out of the staging swap still bucketed
    val tbl = "graft_freqrefresh_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(
        bigrams.filter(col("doc_id") % 4 > 1), "h", "g", lit(1L), tbl)
      HotColdFreq.freqTableRefresh(
        bigrams.filter(col("doc_id") % 4 === 1), "h", "g", lit(1L), tbl)
      val refreshed = HotColdFreq.freqTableRefresh(
        bigrams.filter(col("doc_id") % 4 === 0), "h", "g", lit(1L), tbl)
      val truth = bigrams.groupBy("h").agg(count(lit(1)).as("f"))
      assert(refreshed.join(truth, "h")
        .filter(col("g") =!= col("f")).count() == 0,
        "two chained refreshes diverged from the full rebuild")
      // key-SET equality via both anti-joins: an inner join + count
      // compare cannot see one spurious key traded for one dropped
      // real key (r17 review finding)
      assert(refreshed.join(truth, Seq("h"), "left_anti").count() == 0,
        "refresh emitted keys the rebuild does not have")
      assert(truth.join(refreshed, Seq("h"), "left_anti").count() == 0,
        "refresh dropped keys the rebuild has")
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      assert(meta.bucketSpec.isDefined,
        "the staging swap must preserve the bucketed layout")
      assert(!spark.catalog.tableExists(tbl + "__refresh_staging"),
        "the staging table must not outlive the swap")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("freqTableRefresh: negated weights retract keys exactly") {
    import spark.implicits._
    val tbl = "graft_freqretract_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      // key 7 has mass 3, key 8 mass 2
      val base = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 8L), (5L, 8L))
        .toDF("doc_id", "h")
      HotColdFreq.freqTable(base, "h", "g", lit(1L), tbl)
      // retract ALL of key 8 (weight -1 per removed occurrence) and
      // add one more 7 — matching a rebuild over the edited corpus
      val delta = Seq((4L, 8L, -1L), (5L, 8L, -1L), (6L, 7L, 1L))
        .toDF("doc_id", "h", "w")
      val out = HotColdFreq.freqTableRefresh(delta, "h", "g", col("w"), tbl)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(7L -> 4L),
        s"zero-sum keys must vanish like a rebuild's, got $out")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("freqTableRefresh recovery: token disambiguates, token-less fails loudly") {
    import spark.implicits._
    // simulate a crash between DROP and RENAME: the target is gone,
    // the staging table holds the completed merge (carrying the
    // crashed call's token). The next call must validate + install
    // the staging, then decide BY TOKEN whether its delta is already
    // inside — an unconditional skip would silently lose a new
    // batch's delta (r17 second-review finding).
    val tbl = "graft_freqswap_spec"
    // staging names are token-derived (each batch owns its staging);
    // crash debris is therefore named by the CRASHED call's token,
    // and recovery must find it by prefix scan, not by this call's name
    def stagingOf(token: String) = HotColdFreq.stagingName(tbl, token)
    val allNames = Seq(tbl, stagingOf(""), stagingOf("b1"), stagingOf("b2"),
      stagingOf("b3"), stagingOf("b4"))
    def crashState(token: String): Unit = {
      allNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      HotColdFreq.freqTable(Seq((1L, 7L), (2L, 7L), (3L, 8L))
        .toDF("doc_id", "h"), "h", "g", lit(1L), stagingOf(token))
      if (token.nonEmpty) spark.sql(s"ALTER TABLE ${stagingOf(token)} SET " +
        s"TBLPROPERTIES ('${HotColdFreq.TokenProp}' = '$token')")
    }
    def freqs = spark.table(tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def tokenProp = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get(HotColdFreq.TokenProp)
    val delta = Seq((9L, 7L)).toDF("doc_id", "h")
    try {
      // (1) same token: the crashed call WAS this batch — finish the
      // swap, do not re-apply (the staging already contains it)
      crashState("b1")
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "b1")
      assert(freqs == Map(7L -> 2L, 8L -> 1L),
        "a same-token recovery must not re-apply the delta")
      assert(!spark.catalog.tableExists(stagingOf("b1")),
        "recovery must complete the rename")
      // (2) different token: a NEW batch arriving after the crash —
      // finish the swap AND apply this delta on the recovered table;
      // the applied-token history must then carry BOTH batches
      crashState("b1")
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "b2")
      assert(freqs == Map(7L -> 3L, 8L -> 1L),
        "a new-token recovery must apply its delta")
      assert(tokenProp.contains("b2,b1"),
        s"the history must accumulate through recovery, got $tokenProp")
      // (3) token-less: ambiguous — the swap completes (the table is
      // healthy) but the call fails loudly instead of guessing
      crashState("")
      val ex = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl)
      }
      assert(ex.getMessage.contains("interrupted swap"))
      assert(freqs == Map(7L -> 2L, 8L -> 1L),
        "the token-less recovery must still install the staging merge")
      // (4) a garbage staging (wrong schema) is rejected BEFORE install
      allNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq((7L, 1L, "x")).toDF("h", "g", "junk").write.format("parquet")
        .bucketBy(4, "h").sortBy("h").saveAsTable(stagingOf("junk1"))
      val ex2 = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
          refreshToken = "b3")
      }
      assert(ex2.getMessage.contains("orphaned staging"))
      assert(!spark.catalog.tableExists(tbl),
        "a rejected staging must not be installed as the target")
      // (5) a staging whose freq column is not LONG is rejected too —
      // installing it would silently widen the artifact's freq type
      // through later merges' coalesce+sum (r18: r17 ADVICE item)
      allNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.sql(s"DROP TABLE IF EXISTS ${stagingOf("junk1")}")
      Seq((7L, 1)).toDF("h", "g").write.format("parquet")
        .bucketBy(4, "h").sortBy("h").saveAsTable(stagingOf("junk2"))
      val ex3 = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
          refreshToken = "b4")
      }
      assert(ex3.getMessage.contains("orphaned staging"))
      assert(!spark.catalog.tableExists(tbl),
        "an INT-freq staging must not be installed as the target")
      // (6) MULTIPLE surviving stagings: concurrent crashes cannot be
      // ordered — fail loudly, install nothing
      allNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.sql(s"DROP TABLE IF EXISTS ${stagingOf("junk2")}")
      Seq("x1", "x2").foreach { t =>
        HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
          "h", "g", lit(1L), stagingOf(t))
      }
      val ex4 = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
          refreshToken = "b4")
      }
      assert(ex4.getMessage.contains("MULTIPLE"))
      assert(!spark.catalog.tableExists(tbl),
        "ambiguous recovery must not install either staging")
      Seq("x1", "x2").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${stagingOf(t)}"))
    } finally
      (allNames ++ Seq(stagingOf("junk1"), stagingOf("junk2"),
        stagingOf("x1"), stagingOf("x2")))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("post-swap sweep: a pre-DROP crash's orphan staging is cleaned by the next successful refresh") {
    import spark.implicits._
    // crash window the missing-target recovery scan cannot see: the
    // crashed batch's CTAS registered its staging but the process died
    // BEFORE `DROP TABLE target`, so the target lives on. Before the
    // r18 ADVICE sweep that staging survived forever, and a LATER
    // genuine mid-swap crash then found TWO stagings and tripped the
    // MULTIPLE-orphans hard failure where the old fixed-name layout
    // self-recovered. A successful swap must sweep such siblings (none
    // can be live under the single-writer discipline).
    val tbl = "graft_freqsweep_spec"
    def stagingOf(token: String) = HotColdFreq.stagingName(tbl, token)
    val names = Seq(tbl, stagingOf("dead"), stagingOf("live"))
    try {
      names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      HotColdFreq.freqTable(Seq((1L, 7L), (2L, 8L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl)
      // the dead batch's staging: a complete merge that never swapped
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), stagingOf("dead"))
      assert(spark.catalog.tableExists(stagingOf("dead")))
      HotColdFreq.freqTableRefresh(Seq((9L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl, refreshToken = "live")
      assert(!spark.catalog.tableExists(stagingOf("dead")),
        "a successful swap must sweep sibling orphan stagings")
      val freqs = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(freqs == Map(7L -> 2L, 8L -> 1L),
        s"the sweep must not disturb the merge, got $freqs")
    } finally names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("zero-net keys are absent in EVERY sourcing (withFreq ≡ freqTable)") {
    import spark.implicits._
    // retraction-style weights netting to 0 for key 8: the in-memory
    // freq frame and the table must agree (both absent → attachFreq
    // serves null), or switching sourcing per the regime rule would
    // change values (r17 second-review finding)
    val tbl = "graft_freqzero_eq_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      val stream = Seq((1L, 7L, 2L), (2L, 8L, 1L), (3L, 8L, -1L))
        .toDF("doc_id", "h", "w")
      val viaMem = HotColdFreq.withFreq(stream, "h", "g", col("w"),
        col("doc_id"), 100L, persistFreq = false)
      val tableF = HotColdFreq.freqTable(stream, "h", "g", col("w"), tbl)
      val viaTbl = HotColdFreq.attachFreq(stream, tableF, "h", "g",
        col("doc_id"), 100L)
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "h", "g").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      val m = shape(viaMem); val t = shape(viaTbl)
      assert(m == t, s"sourcings disagree: mem=$m table=$t")
      assert(m.collect { case (_, 8L, g) => g } == Set(None),
        "a zero-net key must serve NULL frequency in both sourcings")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("freqTableRefresh token makes a post-swap re-run a no-op") {
    import spark.implicits._
    val tbl = "graft_freqtoken_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl)
      val delta = Seq((2L, 7L)).toDF("doc_id", "h")
      def freqs = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "batch-001")
      assert(freqs == Map(7L -> 2L))
      // the crash-re-run: same delta, same token — must not double-apply
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "batch-001")
      assert(freqs == Map(7L -> 2L),
        "a re-run with the same token must be a no-op")
      // a NEW batch with a new token applies normally
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "batch-002")
      assert(freqs == Map(7L -> 3L))
      // tokens that would break the SQL statement are rejected loudly
      intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
          refreshToken = "bad'token")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("zero-sum keys are absent from build AND refresh alike") {
    import spark.implicits._
    // a weight stream netting to 0 for key 8: the build must not
    // store it (frequency 0 = no mass), so a later refresh's
    // zero-drop can never diverge from a rebuild (r17 review: an
    // unfiltered build kept freq-0 rows the first refresh dropped)
    val tbl = "graft_freqzero_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      val base = Seq((1L, 7L, 2L), (2L, 8L, 1L), (3L, 8L, -1L))
        .toDF("doc_id", "h", "w")
      HotColdFreq.freqTable(base, "h", "g", col("w"), tbl)
      def freqs = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(freqs == Map(7L -> 2L),
        "the build must not store zero-sum keys")
      // an unrelated refresh keeps the invariant
      HotColdFreq.freqTableRefresh(Seq((4L, 9L, 1L))
        .toDF("doc_id", "h", "w"), "h", "g", col("w"), tbl)
      assert(freqs == Map(7L -> 2L, 9L -> 1L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("freqTableRefresh handles database-qualified table names") {
    import spark.implicits._
    // freqTable accepts 'db.tbl' (saveAsTable parses multi-part
    // names); the refresh must too — wrapping the raw string in
    // TableIdentifier treated the dot as part of a single-part name
    // and the swap SQL backticked it into the identifier (r17 review)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_freqdb_spec")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), "graft_freqdb_spec.t")
      HotColdFreq.freqTableRefresh(Seq((2L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), "graft_freqdb_spec.t")
      val out = spark.table("graft_freqdb_spec.t").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(7L -> 2L))
      assert(!spark.catalog.tableExists(
        "graft_freqdb_spec.t__refresh_staging"))
    } finally
      spark.sql("DROP DATABASE IF EXISTS graft_freqdb_spec CASCADE")
  }

  test("degenerate refreshes: empty delta is identity, null keys never stored") {
    import spark.implicits._
    val tbl = "graft_freqdegen_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      def freqs = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // null-key occurrences: stored by NO sourcing — a null-key table
      // row is unreachable through attachFreq's equi-joins, and the
      // refresh merge's full-outer equi-join could never unify two
      // null-key segments (it would emit BOTH, diverging from a
      // rebuild's single row)
      val base = Seq((1L, Some(7L)), (2L, None), (3L, None))
        .toDF("doc_id", "h")
      HotColdFreq.freqTable(base, "h", "g", lit(1L), tbl)
      assert(spark.table(tbl).count() == 1 && freqs == Map(7L -> 1L),
        "the build must not store null-key mass")
      HotColdFreq.freqTableRefresh(Seq((4L, Option.empty[Long]))
        .toDF("doc_id", "h"), "h", "g", lit(1L), tbl)
      assert(spark.table(tbl).count() == 1 && freqs == Map(7L -> 1L),
        "a null-key-only delta must leave the table unchanged")
      // empty delta: a valid no-change refresh — the merge is an
      // identity rewrite, never an error
      HotColdFreq.freqTableRefresh(base.filter(lit(false)),
        "h", "g", lit(1L), tbl)
      assert(freqs == Map(7L -> 1L),
        "an empty delta must be an identity refresh")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("freqTableRefresh rejects missing, unbucketed, and type-mismatched tables") {
    import spark.implicits._
    val delta = Seq((1L, 7L)).toDF("doc_id", "h")
    val ex1 = intercept[IllegalArgumentException] {
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L),
        "graft_no_such_table_spec")
    }
    assert(ex1.getMessage.contains("does not exist"))
    val flat = "graft_unbucketed_spec"
    spark.sql(s"DROP TABLE IF EXISTS $flat")
    try {
      Seq((7L, 1L)).toDF("h", "g").write.format("parquet").saveAsTable(flat)
      val ex2 = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), flat)
      }
      assert(ex2.getMessage.contains("not bucketed"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $flat")
    val typed = "graft_freqtype_spec"
    spark.sql(s"DROP TABLE IF EXISTS $typed")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), typed)
      val strDelta = Seq((1L, "seven")).toDF("doc_id", "h")
      val ex3 = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(strDelta, "h", "g", lit(1L), typed)
      }
      assert(ex3.getMessage.contains("key type mismatch"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $typed")
  }

  test("crash recovery finds the orphan under a MIXED-CASE table name") {
    import spark.implicits._
    // the catalog stores formatted (lowercased) names; a case-sensitive
    // prefix match would silently skip the orphan and tell the caller
    // to rebuild — discarding the crashed batch's completed merge (r18
    // review finding)
    val tbl = "graft_FreqSwap_CASE_spec"
    val staging = HotColdFreq.stagingName(tbl, "c1")
    try {
      Seq(tbl, staging).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), staging)
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES " +
        s"('${HotColdFreq.TokenProp}' = 'c1')")
      // same-token re-run: must find + install the orphan and no-op
      HotColdFreq.freqTableRefresh(Seq((9L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl, refreshToken = "c1")
      val out = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(7L -> 1L),
        "mixed-case recovery must install the orphaned merge, not rebuild")
    } finally
      Seq(tbl, staging).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("tokens longer than 128 chars are rejected loudly") {
    import spark.implicits._
    // 16 such tokens comma-joined must stay under external metastore
    // property-value limits; a silently truncated token would no
    // longer match its own re-run — the double-apply the history
    // exists to prevent (r18 review finding)
    val ex = intercept[IllegalArgumentException] {
      HotColdFreq.freqTableRefresh(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), "graft_toolong_spec",
        refreshToken = "t" * 129)
    }
    assert(ex.getMessage.contains("128"))
  }

  test("token HISTORY: a delayed re-run of an OLDER batch is a no-op") {
    import spark.implicits._
    // the r17 ADVICE scenario: batch N's re-run arrives only after
    // batch N+1 committed. A single-token property would read a
    // mismatch and double-apply N; the bounded history catches it.
    val tbl = "graft_freqhist_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl)
      val delta = Seq((2L, 7L)).toDF("doc_id", "h")
      def freqs = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def tokenProp = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .properties(HotColdFreq.TokenProp)
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "n1")
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "n2")
      assert(freqs == Map(7L -> 3L))
      assert(tokenProp == "n2,n1",
        s"history must be newest-first, got $tokenProp")
      // the delayed re-run of n1 — AFTER n2 committed — must no-op
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "n1")
      assert(freqs == Map(7L -> 3L),
        "a delayed re-run of an older applied batch must be a no-op")
      assert(tokenProp == "n2,n1",
        "a no-op re-run must not move the history")
      // a token-LESS refresh interleaved into a tokened stream must
      // CARRY the history forward (the staging table is fresh and has
      // no properties) — wiping it would let a later delayed re-run of
      // n1/n2 double-apply
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl)
      assert(freqs == Map(7L -> 4L))
      assert(tokenProp == "n2,n1",
        "a token-less refresh must not wipe the applied-token history")
      HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
        refreshToken = "n2")
      assert(freqs == Map(7L -> 4L),
        "history must stay effective across a token-less refresh")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("token history is BOUNDED: TokenHistorySize batches, oldest evicted") {
    import spark.implicits._
    // the horizon contract: re-runs are detectable only within the
    // last TokenHistorySize batches — the property must not grow
    // without bound (it rides every ALTER/DESCRIBE), and eviction is
    // oldest-first
    val tbl = "graft_freqhistbound_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl)
      val delta = Seq((2L, 7L)).toDF("doc_id", "h")
      val n = HotColdFreq.TokenHistorySize + 1
      (1 to n).foreach { i =>
        HotColdFreq.freqTableRefresh(delta, "h", "g", lit(1L), tbl,
          refreshToken = s"t$i")
      }
      val hist = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .properties(HotColdFreq.TokenProp).split(",").toSeq
      assert(hist.length == HotColdFreq.TokenHistorySize,
        s"history must hold exactly TokenHistorySize entries, got " +
          s"${hist.length}")
      assert(hist.head == s"t$n" && !hist.contains("t1"),
        s"eviction must be oldest-first, got $hist")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("staging names are token-derived, deterministic, metastore-safe") {
    // two batches must never share a staging table (the r17 ADVICE
    // clobber: caller B DROPs caller A's in-flight staging); recovery
    // relies on determinism (a re-run regenerates the same name)
    def n(t: String) = HotColdFreq.stagingName("tbl", t)
    assert(n("") == "tbl__refresh_staging")
    assert(n("b1") == n("b1"), "same token must regenerate the same name")
    assert(n("b1") != n("b2"))
    // sanitization maps [.:-] to '_'; the md5 fragment keeps the
    // collapsed forms distinct
    assert(Set(n("a.b"), n("a_b"), n("a:b"), n("a-b")).size == 4,
      "sanitization collisions must stay distinct via the hash fragment")
    // long tokens truncate but stay distinct through the hash
    val long1 = "x" * 60 + "1"; val long2 = "x" * 60 + "2"
    assert(n(long1) != n(long2))
    // every generated name is metastore-safe ([A-Za-z0-9_])
    for (t <- Seq("b1", "a.b:c-d_e", long1))
      assert(n(t).matches("[A-Za-z0-9_]+"), s"unsafe name ${n(t)}")
  }

  test("a refresh that loses a race to ANOTHER batch fails loudly") {
    import spark.implicits._
    // the lost-update race (r17 ADVICE): two refreshes read the same
    // base; the second swap would silently discard the first's delta.
    // Simulate the interleaving deterministically: this delta's FIRST
    // evaluation (inside the staging write, after the entry metadata
    // read) advances the served table's applied-token history exactly
    // as a concurrent commit would — the pre-swap check must fail
    // loudly and leave the table serving the "other" batch's state.
    val tbl = "graft_freqrace_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(Seq((1L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl)
      HotColdFreq.freqTableRefresh(Seq((2L, 7L)).toDF("doc_id", "h"),
        "h", "g", lit(1L), tbl, refreshToken = "r1")
      // the delta's single task signals a driver-side "intruder"
      // thread and WAITS until it has committed (advanced the served
      // table's applied-token history) — a deterministic interleaving
      // landing between the refresh's entry metadata read and its
      // pre-swap check (SQL cannot run from a task thread, so the
      // catalog mutation stays on the driver)
      HotColdFreqSpec.raceFired = new java.util.concurrent.CountDownLatch(1)
      HotColdFreqSpec.raceDone = new java.util.concurrent.CountDownLatch(1)
      val trap = spark.range(0, 1, 1, numPartitions = 1)
        .mapPartitions { it =>
          // read the CURRENT latches at task runtime (same JVM)
          HotColdFreqSpec.raceFired.countDown()
          HotColdFreqSpec.raceDone.await(
            60, java.util.concurrent.TimeUnit.SECONDS)
          it
        }.toDF("doc_id").withColumn("h", lit(7L))
      val intruder = new Thread(() => {
        HotColdFreqSpec.raceFired.await(
          60, java.util.concurrent.TimeUnit.SECONDS)
        spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          s"('${HotColdFreq.TokenProp}' = 'intruder,r1')")
        HotColdFreqSpec.raceDone.countDown()
      })
      intruder.start()
      val ex = intercept[IllegalArgumentException] {
        HotColdFreq.freqTableRefresh(trap, "h", "g", lit(1L), tbl,
          refreshToken = "r2")
      }
      intruder.join(60000)
      assert(ex.getMessage.contains("CONCURRENTLY"))
      val out = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(7L -> 2L),
        "the stale merge must NOT be installed over the intruder's table")
      assert(!spark.catalog.tableExists(HotColdFreq.stagingName(tbl, "r2")),
        "the stale staging must be dropped — a crash recovery that " +
          "installed it would BE the lost update")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(
        s"DROP TABLE IF EXISTS ${HotColdFreq.stagingName(tbl, "r2")}")
    }
  }

  test("refresh merge plan: the bucketed table side pays no exchange") {
    // the scaladoc's scale claim, pinned on the executed plan: in the
    // refresh-shaped full-outer sort-merge (forced SMJ, as a 140M-key
    // table would be), the TABLE side must read bucketed and reach the
    // join without a ShuffleExchange — only the delta side shuffles.
    // (Sort is NOT claimed: Spark 4 bucketed scans do not report
    // per-bucket sort order, so both sides sort; the elided corpus
    // aggregation + exchange is where the measured 4.3–4.7× lives.)
    val tbl = "graft_freqplan_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      HotColdFreq.freqTable(bigrams, "h", "g", lit(1L), tbl)
      // the PRODUCTION merge (refreshMerge is exactly what
      // freqTableRefresh writes to staging) — the write-side plan is
      // not inspectable post-hoc, so pin the production join here
      val merged = HotColdFreq.refreshMerge(spark.table(tbl),
        bigrams.limit(500), "h", "g", lit(1L))
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = confs.map(k => k -> spark.conf.getOption(k))
      // (bucketedScan, is some exchange an ANCESTOR of this scan)
      var tableScans = List.empty[(Boolean, Boolean)]
      var exchanges = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan,
               underExchange: Boolean): Unit = {
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, underExchange)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, underExchange)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(
                _.toString.contains(tbl)) =>
            tableScans ::= (f.bucketedScan, underExchange)
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
            exchanges += 1
            e.children.foreach(walk(_, underExchange = true))
          case _ =>
            p.children.foreach(walk(_, underExchange))
        }
      }
      try {
        confs.foreach(spark.conf.set(_, "-1"))
        merged.queryExecution.toRdd.count()
        walk(merged.queryExecution.executedPlan, underExchange = false)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      assert(tableScans == List((true, false)),
        "the table side must read bucketed with NO exchange above it, " +
          s"got (bucketed, underExchange) = $tableScans")
      // the delta side legitimately shuffles once for its aggregation
      // and may pay ONE more to re-align with the bucket width when
      // AQE coalesces the agg output (both delta-sized — the corpus
      // never shuffles); anything beyond that is a plan regression
      assert(exchanges >= 1 && exchanges <= 2,
        s"only the DELTA side may shuffle (1-2 exchanges), got $exchanges")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
