package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Semantic-contract pins for the round-7 curation operators (the oracle
 * checks cross-engine equality; these pin what the oracle alone can't):
 *
 *  - q_gopher_rules: keep is exactly the conjunction of the rule bits,
 *    and the plan stays map-side (one Exchange — the final ORDER BY);
 *  - q_url_normalize: normalization actually removed the noise (no
 *    fragment / utm params / www / uppercase survives) and is
 *    injective on the synthetic corpus;
 *  - q_reservoir_sample: exactly min(8, |lang|) rows per language,
 *    contiguous ranks, deterministic across reruns;
 *  - q_temperature_mix: weights form a distribution, α = 1/2 flattens
 *    (minority upsampled, majority downsampled);
 *  - q_kanon_check: the equivalence classes partition the corpus and
 *    the risky bit is exactly n < k;
 *  - q_split_leakage: every emitted pair straddles the split and is a
 *    q_neardup_pairs pair;
 *  - q_file_skipping: pruning is SOUND — a skippable chunk contains
 *    zero matching rows;
 *  - q_ewma_smooth: the smoothed value is a convex combination of the
 *    daily counts (lies within their range, slightly low-biased by the
 *    underflow cap).
 */
class CurationSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  test("q_gopher_rules: keep = AND of rule bits; plan is map-side") {
    val df = SparkEntry.queries("q_gopher_rules")(spark, sf)
    val bad = df.filter(col("keep") =!=
      (col("r_wordcount") && col("r_wordlen") && col("r_stopword") &&
        col("r_alpha") && col("r_rep"))).count()
    assert(bad == 0)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected scan-speed plan, got $exchanges exchanges:\n$plan")
  }

  test("q_url_normalize: noise removed, urls injective per doc") {
    val rows = SparkEntry.queries("q_url_normalize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sample = r.getAs[String]("sample_url")
      assert(sample.startsWith("https://"), sample)
      assert(!sample.contains("www."), sample)
      assert(!sample.contains("utm_"), sample)
      assert(!sample.contains("#"), sample)
      assert(sample == sample.toLowerCase, sample)
      // one normalized url per doc in the domain
      assert(r.getAs[Long]("n_uniq_urls") == r.getAs[Long]("n_docs"), r.toString)
    }
  }

  test("q_reservoir_sample: exact-k per key, contiguous, deterministic") {
    val a = SparkEntry.queries("q_reservoir_sample")(spark, sf).collect()
    val perLang = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    a.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      assert(rows.length == math.min(8L, perLang(lang)), lang)
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq ==
        (1L to rows.length).toSeq, s"$lang ranks not contiguous")
    }
    val b = SparkEntry.queries("q_reservoir_sample")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("q_temperature_mix: weights form a flattening distribution") {
    val rows = SparkEntry.queries("q_temperature_mix")(spark, sf).collect()
    val wsum = rows.map(_.getAs[Double]("w")).sum
    assert(math.abs(wsum - 1.0) < 1e-9, s"weights sum to $wsum")
    // sqrt-temperature flattens: the largest language is downsampled,
    // the smallest upsampled
    val byP = rows.sortBy(_.getAs[Double]("p"))
    assert(byP.last.getAs[Double]("upsample") < 1.0)
    assert(byP.head.getAs[Double]("upsample") > 1.0)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(rows.map(_.getAs[Long]("expected_docs")).sum <= total)
  }

  test("q_kanon_check: classes partition the corpus, risky = n < 3") {
    val rows = SparkEntry.queries("q_kanon_check")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("risky") == (r.getAs[Long]("n") < 3), r.toString)
    }
  }

  test("q_split_leakage: pairs straddle the split and are true near-dups") {
    val leaks = SparkEntry.queries("q_split_leakage")(spark, sf).collect()
    leaks.foreach { r =>
      assert(r.getAs[String]("split_a") != r.getAs[String]("split_b"), r.toString)
      assert(r.getAs[Double]("jaccard") > 0.5, r.toString)
    }
    val pairs = SparkEntry.queries("q_neardup_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    leaks.foreach { r =>
      assert(pairs.contains((r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))),
        s"leak pair not in near-dup set: $r")
    }
  }

  test("q_file_skipping: pruning is sound and stats are coherent") {
    val rows = SparkEntry.queries("q_file_skipping")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_nc") <= r.getAs[Long]("max_nc"), r.toString)
      if (r.getAs[Boolean]("skippable"))
        assert(r.getAs[Long]("actual_hits") == 0L,
          s"skippable chunk with matching rows (pruning would drop data): $r")
    }
  }

  test("q_session_path: paths draw from the event vocabulary, top-10 cut") {
    val rows = SparkEntry.queries("q_session_path")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val vocab = graft.queries.Q.events(spark, sf)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      val segs = r.getAs[String]("path3").split(">")
      assert(segs.length <= 3, r.toString)
      segs.foreach(sg => assert(vocab.contains(sg), s"unknown event type $sg"))
    }
    // ranked by count desc (path tie-break makes the cut deterministic)
    val counts = rows.map(_.getAs[Long]("n_cells"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("q_embed_dims: every dimension audited, moments coherent") {
    val rows = SparkEntry.queries("q_embed_dims")(spark, sf).collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("dim")).toSeq == (1L to 64L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == nVecs)
      val (mean, v) = (r.getAs[Double]("mean_x"), r.getAs[Double]("var_x"))
      assert(v >= -1e-9, s"variance negative beyond fp noise: $r")
      assert(mean >= r.getAs[Double]("min_x") && mean <= r.getAs[Double]("max_x"))
    }
  }

  test("s_cdc_apply: matches batch LWW, tombstones dropped, deterministic") {
    val a = SparkEntry.queries("s_cdc_apply")(spark, sf).collect()
    assert(a.nonEmpty)
    assert(!a.exists(_.getAs[String]("last_type") == "error"),
      "tombstoned keys must not surface")
    // batch-computed last-writer-wins ground truth
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val expect = graft.queries.Q.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id").collect()
    assert(a.map(_.toSeq).toSeq == expect.map(_.toSeq).toSeq)
    val b = SparkEntry.queries("s_cdc_apply")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("q_bootstrap_ci: band brackets the point estimate, 32 replicas") {
    val r = SparkEntry.queries("q_bootstrap_ci")(spark, sf).collect().head
    assert(r.getAs[Long]("n_replicas") == 32L)
    val (lo, hi, pt) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"),
      r.getAs[Double]("point_mean"))
    assert(lo < hi, s"degenerate band [$lo, $hi]")
    assert(lo <= pt && pt <= hi,
      s"band [$lo, $hi] does not bracket the point estimate $pt")
  }

  test("q_ab_test: variants partition the corpus, decision matches t") {
    val r = SparkEntry.queries("q_ab_test")(spark, sf).collect().head
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == total)
    val t = r.getAs[Double]("t_stat")
    assert(!t.isNaN && !t.isInfinite)
    assert(r.getAs[Boolean]("significant") == (math.abs(t) > 1.96))
    assert(r.getAs[Double]("var_a") > 0 && r.getAs[Double]("var_b") > 0)
  }

  test("q_power_iter: unit-norm loading, genuine eigenpair after 4 rounds") {
    val rows = SparkEntry.queries("q_power_iter")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("dim")).toSeq == (1L to 64L))
    val v = rows.sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("loading"))
    val lambda = rows.head.getAs[Double]("eigenvalue")
    assert(math.abs(v.map(z => z * z).sum - 1.0) < 1e-9, "loading not unit norm")
    assert(lambda > 0.0)
    // convergence: A·v must align with v (cos > 0.99), i.e. the pair
    // (v, λ) is a genuine dominant eigenpair of the Gram matrix, not an
    // arbitrary fixed point of the quantization
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xd"))
      .collect().map(_.getSeq[Double](0).toArray)
    val av = Array.ofDim[Double](64)
    emb.foreach { x =>
      var c = 0.0; var i = 0
      while (i < 64) { c += x(i) * v(i); i += 1 }
      i = 0
      while (i < 64) { av(i) += c * x(i); i += 1 }
    }
    val nAv = math.sqrt(av.map(z => z * z).sum)
    val cos = av.zip(v).map { case (a, b) => a * b }.sum / nAv
    assert(cos > 0.99, s"A·v misaligned with v: cos=$cos")
    // the reported eigenvalue is ||A·v3|| (the norm that produced the
    // final iterate), so it trails ||A·v4|| by the remaining
    // convergence error — a few percent on this 50-vector fixture,
    // shrinking with corpus size (the sf0.01/sf0.1 oracles pin the
    // exact values)
    assert(math.abs(nAv - lambda) / lambda < 0.05,
      s"eigenvalue $lambda vs ||A·v|| $nAv")
  }

  test("s_cdc_apply and s_late_data: one corpus's feed publish keeps another corpus's feeds") {
    // a feed is named per corpus, so a publish sweeps only its own
    // corpus's stale stamps: sweeping the other corpus's feed would
    // make two corpora rebuild in turn, and could delete a feed another
    // process is reading
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def feeds(): Set[String] = {
      val l = Files.list(tmp)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => (n.startsWith("graft_cdc_feed_") ||
          n.startsWith("graft_late_feed_")) && !n.contains(".stage_"))
        .toSet
      finally l.close()
    }
    def build(dir: String): Unit =
      for (q <- Seq("s_cdc_apply", "s_late_data"))
        SparkEntry.queries(q)(spark, dir).collect()
    // the same events under another dir, with their own mtime
    val other = Files.createTempDirectory("graft_feed_corpus")
    Files.copy(Paths.get(sf, "events.parquet"), other.resolve("events.parquet"))
    var mine = Set.empty[String]
    try {
      build(sf)
      mine = feeds()
      build(other.toString)
      val after = feeds()
      assert(mine.subsetOf(after), s"swept: ${mine -- after}")
      assert((after -- mine).size == 2, after -- mine)
    } finally {
      (feeds() -- mine).foreach(n => graft.queries.Q.deleteRecursively(tmp.resolve(n)))
      graft.queries.Q.deleteRecursively(other)
    }
  }

  test("s_late_data: oldest-quarter rows are genuinely dropped") {
    val out = SparkEntry.queries("s_late_data")(spark, sf).collect()
    assert(out.nonEmpty)
    val ev = graft.queries.Q.events(spark, sf)
    val r = ev.agg(expr("min(unix_micros(ts))"), expr("max(unix_micros(ts))")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val q1 = mn + (mx - mn) / 4
    def windows(from: Long): Array[org.apache.spark.sql.Row] = ev
      .filter(expr(s"unix_micros(ts) >= ${from}L"))
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(expr("window_start + INTERVAL 1 HOUR <= " +
        s"timestamp_micros(${mx}L) - INTERVAL 10 MINUTES"))
      .orderBy("window_start", "event_type").collect()
    // emitted = closed windows of files 0+1 (ts >= q1), nothing else
    assert(out.map(_.toSeq).toSeq == windows(q1).map(_.toSeq).toSeq,
      "append output must equal the batch recompute over the non-late rows")
    // and the drop is non-vacuous: the full-data twin has strictly more
    // windows — the oldest quarter's windows never surfaced
    assert(windows(mn).length > out.length,
      "late rows were aggregated instead of dropped")
  }

  test("q_dp_release: bounded noise, nonnegative clamp, real perturbation") {
    val out = SparkEntry.queries("q_dp_release")(spark, sf).collect()
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.length == truth.size)
    var perturbed = 0
    out.foreach { r =>
      val t = truth((r.getAs[String]("lang"), r.getAs[String]("source")))
      val rel = r.getAs[Long]("released")
      assert(rel >= 0L, "clamp violated")
      // the truncated discrete-Laplace support is [-6, 6]
      assert(math.abs(rel - t) <= 6, s"noise out of support: true=$t rel=$rel")
      assert(r.getAs[Double]("epsilon") == 1.0)
      if (rel != t) perturbed += 1
    }
    assert(perturbed > 0, "mechanism added no noise anywhere — vacuous release")
  }

  test("q_ewma_smooth: convex combination of the daily counts") {
    val rows = SparkEntry.queries("q_ewma_smooth")(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = graft.queries.Q.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).collect()
      .groupBy(_.getAs[String]("event_type"))
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val cnts = daily(t).map(_.getAs[Long]("cnt"))
      val e = r.getAs[Double]("ewma")
      assert(r.getAs[Long]("n_days") == cnts.length.toLong)
      // weights sum to ≤ 1 (first-day weight absorbs the tail), so the
      // EWMA sits in [0, max]; with the underflow cap it can undershoot
      // min but never exceed max
      assert(e > 0.0 && e <= cnts.max.toDouble, s"$t ewma=$e max=${cnts.max}")
    }
  }
}
