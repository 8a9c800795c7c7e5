package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Value-level verification for the ANN paths that have no SQL oracle
 * (VERDICT r1 item 7): recall@k of each bucketed/trained variant against
 * the exact brute-force ranking (`q_knn_cosine`), which IS oracle-checked.
 * An IVF probe that searched the wrong cell would score ~0 here; the
 * planted near-neighbor structure of the embeddings corpus makes the
 * true top-k land overwhelmingly in the probe's own cell.
 */
class AnnRecallSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val dir = "/root/testdata/sf0.001"

  private def ids(q: String): Seq[Long] =
    SparkEntry.queries(q)(spark, dir).select("vec_id").collect()
      .map(_.getLong(0)).toSeq

  test("KMeans-IVF (nprobe=2) recall@5 vs exact brute force") {
    val exact5 = ids("q_knn_cosine").take(5).toSet
    // the gate entry now emits the oracle-checkable EXACT rows plus a
    // recall_ok bit; the raw engine-specific probe result this recall
    // measures comes from the serve helper itself
    val ivf5 = graft.queries.Advanced.ivfKmeansServe(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact5 & ivf5).size.toDouble / 5
    // This corpus is near-orthogonal (top exact cosine ≈ 0.33), so true
    // neighbors scatter almost uniformly over the 8 cells: scanning
    // nprobe/k = 1/4 of the corpus would catch ~0.25 of them by luck.
    // Measured recall is 0.6 — the centroid routing IS carrying signal —
    // and on a clustered corpus this same plan approaches 1.0. Pin the
    // achieved level so a routing regression (recall → chance) fails.
    assert(recall >= 0.6, s"recall@5 = $recall (ivf=$ivf5, exact=$exact5)")
  }

  test("IVF serve path scans only the probed cells' files") {
    // the persisted index is partitioned by cell, so probe selection
    // must become directory-level partition pruning: the cells scan
    // must carry the cell predicate as a PARTITION filter and its
    // pruned listing may touch at most nprobe=2 of the 8 cell
    // directories — never the corpus. (inputFiles is pre-pruning, so
    // the pin reads the scan's partitionFilters, as SourcesSpec does
    // for q_partitioned_write.)
    graft.queries.Advanced.ivfKmeansServe(spark, dir).count() // ensure built
    val plan = graft.queries.Advanced.ivfKmeansServe(spark, dir)
      .queryExecution.executedPlan
    val scan = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivf_idx")) &&
          f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
    }
    assert(scan.nonEmpty, s"no index cells scan in:\n$plan")
    assert(scan.get.partitionFilters.exists(_.references.exists(_.name == "cell")),
      "cell predicate must be a partition filter, not a data filter")
    val files = scan.get.relation.location
      .listFiles(scan.get.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    val cells = files.flatMap(f =>
      "cell=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(cells.nonEmpty && cells.size <= 2,
      s"probe listed ${cells.size} cell dirs (${cells.mkString(",")})")
  }

  test("int8 coarse + float rerank recall@10 vs exact brute force") {
    // Stage 1 keeps 64 int8-scored candidates from the 499-vector
    // corpus; symmetric SQ8 quantization noise (~1/127 per component)
    // is far below the gaps in the exact ranking, so the true top-10
    // must survive the cut and the float rerank must restore the exact
    // order. Anything under 0.9 means the quantized scorer or the
    // candidate cut is broken, not noisy.
    val exact10 = ids("q_knn_cosine").toSet
    val rr10 = ids("q_knn_rerank").toSet
    val recall = (exact10 & rr10).size.toDouble / 10
    assert(recall >= 0.9, s"recall@10 = $recall (rerank=$rr10, exact=$exact10)")
  }

  test("sign-LSH IVF returns the exact within-bucket ranking") {
    // A 4-bit sign LSH carries almost no signal at cos ≈ 0.3 (P[same
    // bucket] ≈ (1 − θ/π)^4 ≈ 0.13), so GLOBAL recall is theory-bounded,
    // not a bug. The operator's declared semantics — exact top-5 WITHIN
    // the probe's bucket — are verified by value here (and by the DuckDB
    // oracle row, which computes the same bucketed ranking in SQL).
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("bucket", expr(
        """CAST(element_at(embedding, 1) > 0 AS INT)
          |+ 2 * CAST(element_at(embedding, 2) > 0 AS INT)
          |+ 4 * CAST(element_at(embedding, 3) > 0 AS INT)
          |+ 8 * CAST(element_at(embedding, 4) > 0 AS INT)""".stripMargin))
    val pb = e.filter(col("vec_id") === 0).select("bucket").head().getInt(0)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
    def d(a: String, b: String) =
      graft.functions.VectorFunctions.vecDot(col(a), col(b))
    val expect = e.filter(col("vec_id") =!= 0 && col("bucket") === pb)
      .crossJoin(probe)
      .withColumn("cos", d("embedding", "pe") /
        (sqrt(d("embedding", "embedding")) * sqrt(d("pe", "pe"))))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids("q_knn_ivf") == expect)
  }
}
