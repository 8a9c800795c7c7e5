package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-6 additions over an EMPTY corpus: a production pipeline hits
 * zero-row partitions and empty snapshot versions routinely, and every
 * driver-side scalar (argmax `.head`, count-based sizing) is a crash
 * site there. Each query must return its empty result, not throw —
 * q_pagerank sizes ranks by 1/N, q_bpe_train argmaxes a possibly-empty
 * pair set, q_bloom_join builds a filter from possibly-zero keys.
 */
class DegenerateInputSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import DegenerateInputSpec.{emptyDir, tmpDir}

  for (q <- Seq("q_bloom_join", "q_bpe_train", "q_bpe_apply", "q_pagerank",
      "q_jl_project", "q_cms_counts", "q_minhash_est", "q_token_entropy",
      "q_containment", "q_pmi_bigrams", "q_ks_drift",
      "q_cluster_rep", "q_oov_rate", "q_global_shuffle",
      "q_blocklist_filter", "q_text_normalize", "q_mmr_rerank"))
    test(s"$q returns empty, not a crash, on an empty corpus") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L)
    }

  // round-7 additions over the same empty corpus
  for (q <- Seq("q_gopher_rules", "q_url_normalize", "q_reservoir_sample",
      "q_temperature_mix", "q_kanon_check", "q_split_leakage",
      "q_file_skipping", "q_ewma_smooth", "q_session_path", "q_embed_dims",
      "q_power_iter", "q_dp_release", "s_cdc_apply", "s_late_data"))
    test(s"$q returns empty, not a crash, on an empty corpus") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L)
    }

  // bootstrap/ab-test are global-aggregate scorecards: one summary row
  // of nulls/zeros on empty input (the monitor-job shape), never a crash
  for (q <- Seq("q_bootstrap_ci", "q_ab_test"))
    test(s"$q survives an empty corpus with its single summary row") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 1L)
    }

  // global-aggregate scorecards keep their one summary row on empty
  // input (nulls/zeros, never a crash) — the shape a scheduled monitor
  // job needs when a partition comes up empty
  for (q <- Seq("q_psi_drift", "q_chi2_independence", "q_gini_sources",
      "q_funnel"))
    test(s"$q survives an empty corpus with its single summary row") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 1L)
    }

  // round-8 additions over the same empty corpus: the media transforms
  // (no documents → no payloads → no feature rows) and the kernel-backed
  // substring scan
  for (q <- Seq("q_media_patchify", "q_media_audio_frames",
      "q_media_video_motion", "q_substr_dedup"))
    test(s"$q returns empty, not a crash, on an empty corpus") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L)
    }

  // round-16 additions: the two entries whose shapes changed this
  // round (hierarchical cumsum + null-safe join; groupBy-min exact
  // dedup + pair-index semi-joins) must keep degrading to empty
  for (q <- Seq("q_pack_sequences", "q_corpus_pipeline"))
    test(s"$q returns empty, not a crash, on an empty corpus") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L)
    }

  // round-15 additions: the hot/cold-routed corpus-frequency entries
  // (HotColdFreq's freq/hot/cold frames are all empty on an empty
  // corpus — the broadcast of an empty hot side and the persist of an
  // empty freq frame must both degrade to nothing, not crash)
  for (q <- Seq("q_tfidf", "q_lm_score"))
    test(s"$q returns empty, not a crash, on an empty corpus") {
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L)
    }

  // round-9 addition: the incremental-equivalence scorecard keeps its
  // one summary row (n_docs=0, zero disagreements) when the corpus —
  // and therefore the scenario twin it grows — is empty
  test("q_incr_sigs survives an empty corpus with its single summary row") {
    val rows = SparkEntry.queries("q_incr_sigs")(spark, emptyDir).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 0L, "n_docs must be 0 on an empty corpus")
  }

  test("q_table_stats reports all-null stats rows on an empty table") {
    val rows = SparkEntry.queries("q_table_stats")(spark, emptyDir).collect()
    // one row per profiled column, each with 0 nulls counted, 0 ndv
    assert(rows.length == 6, rows.mkString(";"))
    assert(rows.forall(r => r.getLong(r.fieldIndex("ndv")) == 0L))
  }

  test("q_pack_sequences keeps null-source rows (hierarchical ≡ flat cumsum)") {
    // r16 review finding: the hierarchical cumsum's (source, blk) join
    // must be NULL-SAFE — groupBy and the windows all treat NULL as a
    // real group, so a null-unsafe equi-join would silently drop
    // null-source rows the flat window (and the oracle) keep. The gate
    // corpus has no nulls; this corpus plants them.
    import org.apache.spark.sql.Row
    val dir = tmpDir(s"graft-test-nullsrc-${ProcessHandle.current().pid()}")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = (0L until 300L).map { i =>
      val src = if (i % 3 == 0) null else s"src${i % 2}"
      Row(i, ("w " * (1 + (i % 7)).toInt).trim, "en", src, 10L)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_pack_sequences")(spark, dir)
    // flat-window truth on the same frame (the oracle's formulation)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val truth = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", (col("cum_before") / 2048).cast("long"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
    assert(out.filter(col("source").isNull).count() > 0,
      "null-source bins must survive the hierarchical rewrite")
    val diff = out.join(truth,
        out("source") <=> truth("source") && out("bin") <=> truth("bin"),
        "full")
      .filter(out("n_docs") =!= truth("n_docs") ||
        out("bin_tokens") =!= truth("bin_tokens") ||
        out("n_docs").isNull || truth("n_docs").isNull)
    assert(diff.count() == 0, "hierarchical cumsum diverged from the flat window")
  }
}

/** The empty corpus: six of the ten tables, each with its schema and no
 * rows (QueryDefSqlSpec reuses it). */
object DegenerateInputSpec {
  import SparkTestBase.spark

  private def tmpDir(name: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), name).toString

  lazy val emptyDir: String = {
    val dir = tmpDir(s"graft-test-empty-${ProcessHandle.current().pid()}")
    def write(table: String, schema: StructType): Unit =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))))
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))))
    dir
  }
}
