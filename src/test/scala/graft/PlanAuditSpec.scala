package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape assertions for scale-critical properties (SURVEY.md §4,
 * SCALING.md): column pruning and filter pushdown must reach the parquet
 * scans, top-k must plan as TakeOrdered (never a global sort), and the
 * correlated subquery must decorrelate to a join (never a per-row
 * subplan). These pin what PlanAudit (the tool) only prints.
 */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def plan(name: String): SparkPlan = {
    // suites sharing this session may have left cached relations behind;
    // a cache hit would wrap the parquet scan in an InMemoryRelation and
    // make the scan-shape assertions below vacuous or order-dependent
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
  }

  /** Every partitioned window's key set in `df`'s optimized plan —
   * including windows hidden under CACHED subtrees (builders cache
   * mid-pipeline frames, and useCachedData swaps the subtree for an
   * InMemoryRelation whose plan is a FIELD, not a child — a plain
   * `optimizedPlan.collect` would silently skip exactly the
   * corpus-frequency window class the freeze exists to catch) and
   * windows inside subquery plans. Logical windows come from
   * collectWithSubqueries; cached subtrees contribute their PHYSICAL
   * WindowExec nodes (same attribute names). */
  private def windowKeySets(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = scala.collection.mutable.Set.empty[String]
    def key(spec: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      spec.flatMap(_.references.map(_.name)).distinct.sorted.mkString("+")
    def physWalk(n: SparkPlan): Unit = {
      n match {
        case w: WindowExec if w.partitionSpec.nonEmpty => out += key(w.partitionSpec)
        case i: InMemoryTableScanExec => physWalk(i.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => physWalk(a.executedPlan)
        // unreached for these never-executed plans, but kept so the
        // three transparent-node walkers in the repo (this, scansDeep,
        // PlanAudit.executedScans) agree on the unwrap set
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          physWalk(q.plan)
        case _ =>
      }
      n.children.foreach(physWalk); n.subqueries.foreach(physWalk)
    }
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: LWindow if w.partitionSpec.nonEmpty => out += key(w.partitionSpec)
      case r: InMemoryRelation => physWalk(r.cachedPlan)
    }
    out.toSet
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileSourceScanExec]
    def walk(n: SparkPlan): Unit = {
      n match {
        case f: FileSourceScanExec => buf += f
        // a query that caches an intermediate (e.g. q_cooccur's basket
        // frame) plans reuses as InMemoryTableScan; the parquet scan
        // whose pruning we pin lives inside the cached plan (itself
        // wrapped in a not-yet-executed AdaptiveSparkPlan)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(i.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ =>
      }
      n.children.foreach(walk); n.subqueries.foreach(walk)
    }
    walk(p); buf.toSeq
  }

  private def scanOf(p: SparkPlan, table: String): FileSourceScanExec =
    scans(p).find(_.relation.location.inputFiles.headOption.exists(
      _.contains(s"$table.parquet"))).getOrElse(
      fail(s"no scan of $table in:\n$p"))

  test("q_scan_filter pushes all predicates and prunes columns") {
    val s = scanOf(plan("q_scan_filter"), "lineitem")
    val pushed = s.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan") || pushed.contains("ThanOrEqual"),
      s"no range predicates pushed: $pushed")
    assert(s.requiredSchema.fieldNames.length < 11,
      s"no column pruning: ${s.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q_pivot reads exactly the three referenced lineitem columns") {
    val s = scanOf(plan("q_pivot"), "lineitem")
    assert(s.requiredSchema.fieldNames.toSet ==
      Set("l_returnflag", "l_linestatus", "l_quantity"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_percentiles reads exactly two lineitem columns") {
    val s = scanOf(plan("q_percentiles"), "lineitem")
    assert(s.requiredSchema.fieldNames.toSet == Set("l_returnflag", "l_quantity"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_topk plans TakeOrderedAndProject, never a global sort") {
    val p = plan("q_topk")
    assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
  }

  test("q_subquery_scalar decorrelates: aggregate + equi-join, no nested-loop") {
    val p = plan("q_subquery_scalar").toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated subquery did not decorrelate:\n$p")
  }

  test("q_dedup_exact shuffles digests, not text") {
    // exchanges only exist in the executed plan (EnsureRequirements runs
    // in preparations, and AQE wraps it) — run the query, then walk the
    // final adaptive plan
    val df = SparkEntry.queries("q_dedup_exact")(spark, sf)
    df.count()
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]
    def walk(n: SparkPlan): Unit = {
      n match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          buf += e
        case _ =>
      }
      unwrap(n).children.map(unwrap).foreach(walk)
    }
    walk(unwrap(df.queryExecution.executedPlan))
    assert(buf.nonEmpty, s"no exchange found:\n${df.queryExecution.executedPlan}")
    // the aggregation exchange must not carry the text column — only the
    // map-side md5 digest (32 bytes) and the partial-agg state
    buf.foreach(e => assert(!e.output.map(_.name).contains("text"),
      s"text column crosses the shuffle: ${e.output.map(_.name)}"))
  }

  test("q_media_frames scans only the decode-relevant document columns") {
    val s = scanOf(plan("q_media_frames"), "documents")
    assert(s.requiredSchema.fieldNames.toSet.subsetOf(
      Set("doc_id", "lang", "text")),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_decontaminate broadcasts the eval side and shuffles hashes, not shingles") {
    val p = plan("q_decontaminate")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"doc×doc comparison in decontamination:\n$s")
    // the join itself must key on the 8-byte hash, never the shingle text
    val joins = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]
    def walk(n: SparkPlan): Unit = {
      n match {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          joins += j
        case _ =>
      }
      n.children.foreach(walk)
    }
    walk(p)
    joins.foreach(j => j.leftKeys.foreach(k =>
      assert(k.dataType == org.apache.spark.sql.types.LongType,
        s"join key is not a hash: $k")))
  }

  test("q_lm_score and q_repetition partial-aggregate map-side") {
    for (name <- Seq("q_lm_score", "q_repetition")) {
      val s = plan(name).toString
      // aggregates must plan as partial (map-side) + final pairs, so the
      // bigram explosion is pre-reduced before anything shuffles
      assert(s.contains("partial_"), s"$name has no map-side partial agg:\n$s")
      assert(!s.contains("CartesianProduct"), s"$name plans a cross join:\n$s")
    }
  }

  test("q_bm25 keeps tf map-side: compact cached projection, no shuffled join") {
    val p = plan("q_bm25")
    // per-term tf comes from filtering the 5-term array against the
    // token array inside the row — the corpus-wide token explode must
    // not exist, and df/stats join in by broadcast, never a shuffle
    assert(!p.toString.contains("SortMergeJoin"),
      s"corpus-side shuffled join in bm25:\n$p")
    // the corpus is read once into the cached (doc_id, dl, tfs)
    // projection — the TEXT must not be cached, only the ~20-byte/doc
    // reduction every downstream derivation shares
    val mem = p.collectFirst {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }.getOrElse(fail(s"no cached projection in:\n$p"))
    val cached = mem.output.map(_.name).toSet
    assert(cached == Set("doc_id", "dl", "tfs"), cached.mkString(","))
  }

  test("q_seg_dedup's first-occurrence shuffle carries digests, not text") {
    val df = SparkEntry.queries("q_seg_dedup")(spark, sf)
    df.count()
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]
    def walk(n: SparkPlan): Unit = {
      n match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          buf += e
        case _ =>
      }
      unwrap(n).children.map(unwrap).foreach(walk)
    }
    walk(unwrap(df.queryExecution.executedPlan))
    // the global wide stage (partitioned by the segment digest `h`) must
    // carry only (doc_id, seg_idx, h); text/toks may cross a shuffle
    // ONLY in the final doc_id-keyed rebuild join, where the text IS the
    // output
    val hShuffles = buf.filter(_.output.map(_.name).contains("h"))
    assert(hShuffles.nonEmpty, s"no digest shuffle found:\n${buf.map(_.output)}")
    hShuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("toks"),
        s"text crosses the digest shuffle: $names")
    }
  }

  test("q_knn_rerank plans TakeOrdered cuts over a broadcast probe") {
    val s = plan("q_knn_rerank").toString
    // both the 64-candidate cut and the final top-10 must be
    // TakeOrdered (never a global sort of the corpus), and the corpus
    // must never shuffle for the probe join
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
  }

  test("q_mixture_sample prunes map-side and broadcasts its budgets") {
    val s = plan("q_mixture_sample").toString
    assert(s.contains("BroadcastHashJoin"), s"budget join not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"budget join shuffled the corpus:\n$s")
    // the budget-ceiling cut must plan as the partial-prune TopKPerKey
    // operator, never a full per-source window over the corpus
    assert(s.contains("TopKPerKey"), s"no map-side budget prune:\n$s")
  }

  test("kNN edge-index BUILD prunes per-vector candidates map-side, no cartesian") {
    // since round 8 the graph family serves from the shared
    // content-stamped edge index; the expensive plan is the BUILD, so
    // the shape pins live on KnnGraphIndex.buildPlan: the per-vector
    // top-2 must go through the TopKPerKey partial prune (a bare window
    // would sort each bucket's full pair set in one partition), and the
    // bucketed self-join must be an equi-join
    spark.catalog.clearCache()
    val s = graft.sources.KnnGraphIndex.buildPlan(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(s.contains("TopKPerKey"), s"no map-side neighbor prune:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"bucket join degenerated to a cross product:\n$s")
  }

  test("q_knn_graph serves from the edge index: a scan, not a rebuild") {
    val s = plan("q_knn_graph").toString
    // the serve plan must be graph-sized work — no pairwise self-join,
    // no TopKPerKey (the build already cut to ≤ 2 edges per vector)
    assert(!s.contains("TopKPerKey"),
      s"serve path re-ran the edge build:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"serve plan degenerated to a product:\n$s")
  }

  test("q_semantic_decon broadcasts the eval side, never shuffles the corpus") {
    val s = plan("q_semantic_decon").toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"eval side not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"),
      s"corpus shuffled for the eval join:\n$s")
  }

  test("q_centroids partial-aggregates per dimension before the shuffle") {
    val s = plan("q_centroids").toString
    // the (label, dim) sums must pre-reduce map-side so the exchange
    // carries decimal partials, never the exploded component rows
    assert(s.contains("partial_"), s"no map-side partial agg:\n$s")
  }

  test("q_knn_filtered pushes the metadata predicate into the scan") {
    val p = plan("q_knn_filtered")
    val s = scanOf(p, "embeddings")
    val pushed = s.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("label"), s"label filter not pushed: $pushed")
    assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
  }

  test("q_lateral_topn decorrelates: window + equi-join, no per-row subplan") {
    val s = plan("q_lateral_topn").toString
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"lateral subquery did not decorrelate:\n$s")
    // the rewrite is the same shape q_topk_per_key hand-builds: a
    // per-key window/limit on the orders side, then an equi-join
    assert(s.contains("Window") || s.contains("TakeOrdered"),
      s"no windowed top-n in the decorrelated plan:\n$s")
  }

  test("q_outer_join keeps both null sides through the full outer join") {
    val df = SparkEntry.queries("q_outer_join")(spark, sf)
    val sides = df.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // all three classes must be populated, or the entry is vacuous
    assert(sides.keySet ==
      Set("both", "urgent_orders_only", "neg_balance_no_urgent"),
      sides.toString)
    assert(sides.values.forall(_ > 0), sides.toString)
  }

  test("q_table_stats computes all column stats in ONE deduped table scan") {
    val p = plan("q_table_stats")
    val lineitemScans = scans(p).count(
      _.relation.location.inputFiles.headOption.exists(
        _.contains("lineitem.parquet")))
    assert(lineitemScans == 1,
      s"ANALYZE pass must scan once, found $lineitemScans scans:\n$p")
    // the naive multi-DISTINCT plan multiplies rows 6x through an Expand
    // before the shuffle; the unpivot+dedup shape must not
    assert(!p.toString.contains("Expand"), s"Expand row-blowup in:\n$p")
    // a PARTIAL aggregate keyed on (col_name, v) dedups map-side, so the
    // shuffle is bounded by total ndv, not table size
    def subtree(n: SparkPlan): Seq[SparkPlan] = n +: n.children.flatMap(subtree)
    val partialDedup = subtree(p).collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if h.groupingExpressions.size == 2 &&
          h.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => h
    }
    assert(partialDedup.nonEmpty, s"no map-side partial dedup on (col_name, v):\n$p")
    // the scan reads exactly the 6 profiled columns
    val s = scanOf(p, "lineitem")
    assert(s.requiredSchema.fieldNames.length == 6,
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_containment joins on hash keys, never a doc×doc product") {
    val s = plan("q_containment").toString
    // prefix→inverted-index candidate generation and both verify joins
    // must all be equi-joins; a cartesian here is the O(corpus²) failure
    // the prefix filter exists to prevent
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"containment degenerated to an all-pairs product:\n$s")
    assert(s.contains("partial_"), s"df counting has no map-side partial:\n$s")
  }

  test("q_pmi_bigrams broadcasts vocab joins and cuts top-k by TakeOrdered") {
    val s = plan("q_pmi_bigrams").toString
    assert(s.contains("TakeOrderedAndProject"),
      s"global top-20 planned as a full sort:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"unigram-count joins not broadcast:\n$s")
    assert(s.contains("partial_"), s"counts have no map-side partial:\n$s")
  }

  test("q_token_entropy reads only the two referenced document columns") {
    val p = plan("q_token_entropy")
    val s = scanOf(p, "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s.requiredSchema.fieldNames.mkString(","))
    assert(p.toString.contains("partial_"),
      s"token counts have no map-side partial:\n$p")
  }

  test("q_global_shuffle reads ONLY doc_id — no text bytes for a layout op") {
    // the epoch-shuffle layout derives everything from md5(doc_id); a
    // scan that dragged text along would move the corpus to lay out ids
    val s = scanOf(plan("q_global_shuffle"), "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("doc_id"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_blocklist_filter and q_text_normalize prune to (doc_id, text)") {
    for (q <- Seq("q_blocklist_filter", "q_text_normalize")) {
      val s = scanOf(plan(q), "documents")
      assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
        s"$q: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("q_oov_rate broadcasts the vocab and cuts it by TakeOrdered") {
    val p = plan("q_oov_rate")
    assert(p.toString.contains("TakeOrderedAndProject"),
      s"vocab cut is not a TakeOrdered:\n$p")
    assert(p.toString.contains("BroadcastHashJoin"),
      s"vocab membership join is not broadcast:\n$p")
    val s = scanOf(p, "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("source", "text"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_funnel prunes events to the three funnel columns everywhere") {
    // every one of the stage scans must read (user_id, event_type, ts)
    // at most — value and props never move
    val p = plan("q_funnel")
    val es = scans(p).filter(_.relation.location.inputFiles.headOption
      .exists(_.contains("events.parquet")))
    assert(es.nonEmpty)
    es.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(
        Set("user_id", "event_type", "ts")),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("drift/skew scorecards prune their scans and broadcast totals") {
    // q_chi2_independence caches its contingency table, so its parquet
    // scan hides inside the InMemoryRelation — walk cached plans too
    def scansDeep(p: SparkPlan): Seq[FileSourceScanExec] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileSourceScanExec]
      def walk(n: SparkPlan): Unit = {
        n match {
          case f: FileSourceScanExec => buf += f
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            walk(m.relation.cachedPlan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case _ =>
        }
        n.children.foreach(walk); n.subqueries.foreach(walk)
      }
      walk(p); buf.toSeq
    }
    for ((q, tbl, cols) <- Seq(
        ("q_psi_drift", "events", Set("event_type", "value")),
        ("q_chi2_independence", "events", Set("event_type", "value")),
        ("q_skew_report", "orders", Set("o_custkey")))) {
      val p = plan(q)
      val s = scansDeep(p).find(_.relation.location.inputFiles.headOption
        .exists(_.contains(s"$tbl.parquet"))).getOrElse(
        fail(s"$q: no scan of $tbl in:\n$p"))
      assert(s.requiredSchema.fieldNames.toSet == cols,
        s"$q: ${s.requiredSchema.fieldNames.mkString(",")}")
      assert(p.toString.contains("Broadcast"),
        s"$q: totals not broadcast:\n$p")
    }
  }

  test("q_pps_sample reads only (doc_id, n_chars) for the weight walk") {
    val s = scanOf(plan("q_pps_sample"), "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "n_chars"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_cooccur prunes the scan, broadcasts dims, cuts top-100 by TakeOrdered") {
    val p = plan("q_cooccur")
    val s = scanOf(p, "lineitem")
    assert(s.requiredSchema.fieldNames.toSet == Set("l_orderkey", "l_partkey"),
      s.requiredSchema.fieldNames.mkString(","))
    val str = p.toString
    assert(str.contains("TakeOrderedAndProject"),
      s"top-100 pair cut planned as a global sort:\n$str")
    assert(str.contains("BroadcastHashJoin"),
      s"item-count joins not broadcast:\n$str")
    assert(str.contains("partial_"),
      s"pair counting has no map-side partial:\n$str")
    // pair expansion must be the map-side basket explode, never a
    // basket×basket product (the 1-row n_orders broadcast is a
    // BroadcastNestedLoop by construction and is fine)
    assert(!str.contains("CartesianProduct"),
      s"pair expansion degenerated to a cartesian:\n$str")
  }

  test("q_substr_dedup shuffles window digests, never document text") {
    val df = SparkEntry.queries("q_substr_dedup")(spark, sf)
    df.count()
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]
    def walk(n: SparkPlan): Unit = {
      n match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          buf += e
        case _ =>
      }
      unwrap(n).children.map(unwrap).foreach(walk)
    }
    walk(unwrap(df.queryExecution.executedPlan))
    assert(buf.nonEmpty, s"no exchange found:\n${df.queryExecution.executedPlan}")
    // windows hash to md5 inside the explode — every exchange carries
    // (doc_id, digest, counts); text crossing a shuffle would move the
    // corpus to score it
    buf.foreach(e => assert(!e.output.map(_.name).contains("text"),
      s"text column crosses the shuffle: ${e.output.map(_.name)}"))
    val s = scanOf(plan("q_substr_dedup"), "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_markov_transitions prunes the event scan to the sequence columns") {
    val s = scanOf(plan("q_markov_transitions"), "events")
    assert(s.requiredSchema.fieldNames.toSet ==
      Set("event_id", "ts", "user_id", "event_type"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_winsorize broadcasts per-type clip scalars, no per-row window") {
    val p = plan("q_winsorize")
    val str = p.toString
    assert(str.contains("BroadcastHashJoin"),
      s"percentile scalars not broadcast back:\n$str")
    assert(!str.contains("SortMergeJoin"),
      s"the event log shuffled for a scalar join:\n$str")
    // the clip is an aggregate over the joined frame — a Window here
    // would sort each event_type's full partition
    assert(!str.contains("Window"), s"per-row window sort planned:\n$str")
    val s = scanOf(p, "events")
    assert(s.requiredSchema.fieldNames.toSet == Set("event_type", "value"),
      s.requiredSchema.fieldNames.mkString(","))
  }

  test("q_pit_join keeps the user equi-key: interval join, never a product") {
    val p = plan("q_pit_join")
    val str = p.toString
    // the half-open interval predicate rides ON the user_id equi-join
    // (hash or sort-merge); losing the equi-key would plan facts×dim as
    // a BroadcastNestedLoop/Cartesian — the thing that dies at 100 TB
    assert(str.contains("SortMergeJoin") || str.contains("BroadcastHashJoin"),
      s"no equi-join on user_id:\n$str")
    assert(!str.contains("BroadcastNestedLoop") && !str.contains("CartesianProduct"),
      s"interval join degenerated to a product:\n$str")
    // both sides are the events table: facts pruned + pushed to
    // purchases, the dimension build pushed to the status stream
    val ss = scans(p).filter(_.relation.location.inputFiles.headOption
      .exists(_.contains("events.parquet")))
    assert(ss.length == 2, s"expected two events scans, got ${ss.length}")
    ss.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet ==
        Set("event_id", "ts", "user_id", "event_type"),
        s.requiredSchema.fieldNames.mkString(","))
      assert(s.metadata.getOrElse("PushedFilters", "").contains("event_type"),
        s"event_type filter not pushed: ${s.metadata.getOrElse("PushedFilters", "")}")
    }
  }

  test("q_target_encode broadcasts category stats; the fact scan never shuffles") {
    val p = plan("q_target_encode")
    val str = p.toString
    assert(str.contains("BroadcastHashJoin"),
      s"category stats not broadcast onto the facts:\n$str")
    assert(!str.contains("SortMergeJoin"),
      s"the fact table shuffled for a 5-row stats join:\n$str")
    // the r14 shape derives the global prior via an unpartitioned
    // window over the 5-row CATEGORY frame (one fact scan instead of
    // two — the separate o.agg branch re-ran the scan); a window on
    // the FACT side would still be wrong, so assert every window in
    // the plan sits above an aggregation (the allowlist spec below
    // checks the same property corpus-wide)
    val factScans = scans(p).filter(
      _.requiredSchema.fieldNames.contains("o_orderkey"))
    assert(factScans.length == 1,
      s"expected ONE fact scan of orders, got ${factScans.length}:\n$p")
    val facts = scans(p).find(
      _.requiredSchema.fieldNames.contains("o_orderkey")).getOrElse(
      fail(s"no fact scan of orders:\n$p"))
    assert(facts.requiredSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_orderstatus", "o_orderpriority"),
      facts.requiredSchema.fieldNames.mkString(","))
  }

  test("q_graph_bfs serves from the edge index, every frontier join equi") {
    val p = plan("q_graph_bfs")
    val str = p.toString
    // the edge set comes from the persisted index (no per-call rebuild:
    // no TopKPerKey in the serve plan) and the three frontier
    // expansions are equi-joins on src — a product anywhere dies at scale
    assert(!str.contains("TopKPerKey"),
      s"serve path re-ran the edge build:\n$str")
    assert(!str.contains("CartesianProduct") && !str.contains("BroadcastNestedLoop"),
      s"a join degenerated to a product:\n$str")
  }

  test("q_quantile_bins: one pruned scan pair, broadcast cuts, no window") {
    val p = plan("q_quantile_bins")
    val str = p.toString
    // the 1-row cut frame joins back as a broadcast (a 1-row BNL is the
    // planner's literal-free cross join and is fine); the fact side must
    // never shuffle for it, and binning must not plan a per-row window
    assert(!str.contains("SortMergeJoin"),
      s"orders shuffled against a 1-row cut frame:\n$str")
    assert(!str.contains("Window"),
      s"per-row window planned for a broadcast-scalar bin:\n$str")
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet == Set("o_totalprice"),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("q_decay_agg is one pruned scan into a partial agg — no join, no window") {
    val p = plan("q_decay_agg")
    val str = p.toString
    assert(!str.contains("Join") && !str.contains("Window"),
      s"decay agg should be a single aggregation pass:\n$str")
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet == Set("ts", "event_type", "value"),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("q_purged_split reads two columns and plans no join") {
    val p = plan("q_purged_split")
    assert(!p.toString.contains("Join"), s"split is a map-side predicate:\n$p")
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet ==
        Set("o_orderdate", "o_totalprice"),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("q_class_weights never shuffles for the 1-row stats frame") {
    val p = plan("q_class_weights")
    val str = p.toString
    assert(!str.contains("SortMergeJoin"),
      s"class frame shuffled against 1-row stats:\n$str")
    assert(!str.contains("Window"), s"per-row window planned:\n$str")
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet == Set("label"),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("q_hard_negatives prunes negatives map-side and broadcasts both sides") {
    val str = plan("q_hard_negatives").toString
    // the ≤3-per-anchor cut must plan as the TopKPerKey partial prune
    // (never a window over the scored corpus), and the anchor/positive
    // frames must ride broadcasts — a SortMergeJoin would shuffle the
    // scored corpus for a 5-row side
    assert(str.contains("TopKPerKey"), s"no map-side negative prune:\n$str")
    assert(!str.contains("SortMergeJoin"),
      s"scored corpus shuffled against a 5-row frame:\n$str")
  }

  test("q_cv_folds is one pruned scan into a 5-row agg — no join, no window") {
    val p = plan("q_cv_folds")
    val str = p.toString
    assert(!str.contains("Join") && !str.contains("Window"),
      s"fold assignment must stay map-side:\n$str")
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet ==
        Set("doc_id", "lang", "n_chars"),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("q_dataset_card prunes text away, prunes the mode, broadcasts it back") {
    val p = plan("q_dataset_card")
    val str = p.toString
    // the language mode must ride the TopKPerKey partial prune and the
    // |sources|-row mode frame must broadcast — a SortMergeJoin would
    // shuffle the card for a 20-row side
    assert(str.contains("TopKPerKey"), s"no map-side mode prune:\n$str")
    assert(!str.contains("SortMergeJoin"),
      s"card shuffled against a |sources|-row frame:\n$str")
    // each branch prunes to exactly what it needs (the mode branch
    // drops n_chars too); text must reach NO scan
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet
          .subsetOf(Set("source", "lang", "n_chars")),
        s"card scan reads beyond its 3 columns: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("q_ann_recall prunes both rankings map-side via TopKPerKey") {
    val s = plan("q_ann_recall").toString
    // both the exact and the bucket-restricted cut must go through the
    // partial prune (two TopKPerKey nodes), never a corpus-wide
    // per-probe window sort
    assert("TopKPerKey".r.findAllIn(s).size >= 2,
      s"expected two map-side top-k prunes:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"probe scoring degenerated to a cartesian:\n$s")
  }

  test("q_reservoir_sample prunes map-side via TopKPerKey") {
    val s = plan("q_reservoir_sample").toString
    assert(s.contains("TopKPerKey"),
      s"per-key sample must prune before the exchange:\n$s")
  }

  test("q_embed_dims scans only the embedding column") {
    val s = scanOf(plan("q_embed_dims"), "embeddings")
    assert(s.requiredSchema.fieldNames.toSet == Set("embedding"),
      s"per-dim stats read beyond embedding: ${s.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q_split_leakage never degenerates to a cartesian") {
    val s = plan("q_split_leakage").toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"leakage audit must ride the banded candidate join:\n$s")
  }

  test("q_kanon_check reads only the three quasi-identifier columns") {
    val s = scanOf(plan("q_kanon_check"), "documents")
    assert(s.requiredSchema.fieldNames.toSet == Set("lang", "source", "n_chars"),
      s"QI audit reads beyond its columns: ${s.requiredSchema.fieldNames.mkString(",")}")
  }

  test("unpartitioned windows appear only in allowlisted entries, always above an aggregation") {
    // The bench tail's `WindowExec: No Partition Defined` warnings were
    // previously claimed benign by inspection ("all over aggregated
    // domain-sized frames"); this pin makes the claim CHECKED. Every
    // batch entry's physical plan is walked: a WindowExec with an empty
    // partitionSpec moves all rows to one partition, which is only
    // acceptable when everything feeding it has already been aggregated
    // to metadata cardinality (value domains, quantile grids, source
    // rollups) — so (a) the set of entries containing one must equal
    // the allowlist below (a NEW unpartitioned window in a corpus-scale
    // entry fails this spec loudly), and (b) inside each allowed entry,
    // every path from the window down to a file scan must cross an
    // aggregate. Streaming entries are excluded (constructing them runs
    // the stream; their windows are keyed by construction).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val allow = Set(
      "q_ks_drift",        // CDF over the aggregated value domain
      "q_gini_sources",    // per-source rollup (sources ≪ corpus)
      "q_temperature_mix", // per-source share table
      "q_bootstrap_ci",    // 32 replica means
      "q_pps_sample",      // hierarchical cumsum's top level (per-partition partials)
      "q_rrf_fusion",      // rank fusion over two aggregated rank lists
      "q_target_encode",   // global prior over the 5-row category frame (r14)
      "q_mixture_sample")  // sum_w over the per-source frame (r14)
    def windows(n: SparkPlan): Seq[WindowExec] = {
      val self = n match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        // a builder's .cache() hides its subtree behind an
        // InMemoryTableScan whose plan is a field, not a child — the
        // blind spot that concealed q_corpus_pipeline's digest window
        // from the partitioned inventory; walk through it here too
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          return windows(i.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          return windows(a.executedPlan)
        case _ => Seq.empty
      }
      // subqueries are not traversed: on a pre-prepared sparkPlan a
      // subquery expression can still carry a LOGICAL plan (casting
      // blows up), and no gate entry windows inside a subquery
      self ++ n.children.flatMap(windows)
    }
    // a subtree is "aggregated" when no file scan is reachable without
    // crossing an aggregate; non-scan leaves (ranges, local relations,
    // artifact-sized parquet served through an explicit schema read are
    // still FileSourceScanExec — those must be agg-guarded too).
    // Cached subtrees are transparent: the scan inside an
    // InMemoryRelation is still a corpus read on first materialization
    def guarded(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => true
      case _: FileSourceScanExec => false
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        guarded(i.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        guarded(a.executedPlan)
      case l if l.children.isEmpty => true
      case other => other.children.forall(guarded)
    }
    val found = scala.collection.mutable.Map.empty[String, Seq[WindowExec]]
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("s_"))
      .foreach { name =>
        val ws =
          try windows(SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan)
          catch { case e: Throwable =>
            fail(s"planning $name for the window audit failed: ${e.getMessage}")
          }
        if (ws.nonEmpty) found(name) = ws
      }
    assert(found.keySet == allow,
      s"unpartitioned-window entry set drifted — new: ${found.keySet -- allow}, " +
        s"no longer present (update the allowlist): ${allow -- found.keySet}")
    found.foreach { case (name, ws) =>
      ws.foreach(w => assert(w.children.forall(guarded),
        s"$name has an unpartitioned window over an UNaggregated scan path:\n$w"))
    }
  }

  test("routed corpus frequency: no window over a power-law key, " +
      "one persisted freq build, executed scans pinned") {
    // r15 (archive/ZIPFPROBE_r*.json): the r14 window-over-key formulations put
    // every occurrence of a hot key in ONE WindowExec task, so
    // q_substr_dedup / q_tfidf / q_lm_score route frequency through
    // HotColdFreq — groupBy partial-agg (skew-immune), persisted so
    // the hot and cold consumers share ONE build (their exchanges
    // never unify — the same pruning divergence as ever, PlanAudit
    // measured 4 corpus scans before the persist), hot keys broadcast
    // around the exchange. Pinned here via the EXECUTED plan: direct
    // scans + exactly one cached freq build each, and NO unbounded
    // window over the stream key.
    for ((name, direct, cached) <- Seq(
        // kernel probe only (one-scan shape: gram_cnt rides the
        // explode), cached kernel-freq build
        ("q_substr_dedup", 1, 1),
        // tokenize probe (tf) + n_docs count scan, cached tokenize-freq
        ("q_tfidf", 2, 1),
        // bigram probe, cached bigram-freq build
        ("q_lm_score", 1, 1))) {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf)
      // pruning survives the routing: every documents scan (including
      // the freq branch's) reads at most (doc_id, text) — a column
      // like lang/source/n_chars dragged through the explode would
      // silently grow corpus scan bytes while the count pins stay green
      val docScans = scans(df.queryExecution.sparkPlan).filter(
        _.relation.location.inputFiles.headOption.exists(
          _.contains("documents.parquet")))
      assert(docScans.nonEmpty, s"$name: no documents scan found")
      docScans.foreach { sc =>
        assert(sc.requiredSchema.fieldNames.toSet.subsetOf(
          Set("doc_id", "text")),
          s"$name documents scan reads extra columns: " +
            sc.requiredSchema.fieldNames.mkString(","))
      }
      // the per-doc/top-term windows partition by doc_id (bounded);
      // no window may partition by the corpus-frequency key — checked
      // through cached subtrees and subqueries (windowKeySets)
      val windowKeys = windowKeySets(df)
      assert(!windowKeys.exists(_.split('+').exists(k => k == "h" || k == "tok")),
        s"$name still windows over the power-law key: $windowKeys")
      val (_, _, scanned) = graft.tools.PlanAudit.executedScans(df)
      val docs = scanned.filter(_.contains("documents.parquet"))
      assert(docs.count(!_.startsWith("cached:")) == direct,
        s"$name expected $direct direct documents scans, got $docs")
      assert(docs.count(_.startsWith("cached:")) == cached,
        s"$name expected $cached cached freq-build scan, got $docs")
      spark.catalog.clearCache()
    }
  }

  test("every partitioned window's key set is allowlisted with a boundedness argument") {
    // r16 (VERDICT r15 item 4): the generalized hot-key gate. A window
    // buffers ONE partition in ONE task — legal only when the partition
    // key's per-key row count is bounded by construction (per-doc
    // tokens, per-vector k neighbors, a pre-aggregated frame). The
    // three unbounded corpus-frequency windows were routed through
    // HotColdFreq in r15 (archive/ZIPFPROBE_r*.json record the straggler);
    // this pin freezes the full inventory of partitionBy key sets so
    // ANY new window fails here and must either show its bound in the
    // allowlist comment or take the HotColdFreq treatment first.
    // Key sets are the union of each window's referenced column names
    // ('+'-joined per window) from the OPTIMIZED plan; unpartitioned
    // windows are governed by the aggregation-guard test above.
    val allow: Map[String, Set[String]] = Map(
      // per-customer order sequences: TPC-H bounds orders/customer by
      // schema construction (1..41)
      "q_window_rank" -> Set("o_custkey"),
      "q_window_running" -> Set("o_custkey"),
      "q_window_lag" -> Set("o_custkey"),
      "q_window_range" -> Set("o_custkey"),
      "q_ntile_frames" -> Set("o_custkey"),
      "q_lateral_topn" -> Set("o_custkey"),
      // per-user event sequences: sessionization/SCD/as-of semantics
      // REQUIRE per-entity order (salting cannot preserve them); a
      // user's event history is entity-bounded, not corpus-bounded
      "q_sessionize" -> Set("user_id"),
      "q_scd2" -> Set("user_id"),
      "q_pit_join" -> Set("user_id"),
      "q_gap_fill" -> Set("user_id"),
      "q_cohort_retention" -> Set("user_id"),
      "q_asof_last_signup" -> Set("user_id"),
      // lag by user (entity-bounded) + share over the AGGREGATED
      // |types|² transition matrix
      "q_markov_transitions" -> Set("user_id", "prev_type"),
      // per-document windows: bounded by one doc's token/term count
      "q_tfidf" -> Set("doc_id"),
      "q_containment" -> Set("doc_id"),
      // per-probe candidate sets: bounded by the entry's k
      "q_knn_batch" -> Set("probe_id"),
      "q_hard_negatives" -> Set("probe_id"),
      // TopKPerKey map-side prune caps rows/key BEFORE these windows
      // (≤ k × map partitions — the in-repo remedy for hot groups)
      "q_text_tokens" -> Set("lang"),
      "q_ngram_counts" -> Set("lang"),
      "q_reservoir_sample" -> Set("lang"),
      "q_stratified_sample" -> Set("lang+source"),
      "q_mixture_sample" -> Set("source"),
      // window over the exploded 64-entry SpaceSaving sketch per lang
      "q_heavy_hitters" -> Set("lang"),
      // hierarchical cumsum (the q_pps_sample shape): within-block
      // window ≤ 100 rows; the per-source level runs over the
      // 100×-smaller BLOCK aggregate (re-apply the step if even that
      // is large — documented at both entries)
      "q_pack_sequences" -> Set("blk+source", "source"),
      "q_pps_sample" -> Set("blk"),
      // per-shard rank: rows/shard = corpus/nShards, nShards is the
      // operator's own output-layout knob (scales with the corpus)
      "q_global_shuffle" -> Set("shard"),
      // window over the per-type DAILY aggregate (|days| rows per type)
      "q_ewma_smooth" -> Set("event_type"))
    val found = scala.collection.mutable.Map.empty[String, Set[String]]
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("s_"))
      .foreach { name =>
        spark.catalog.clearCache()
        // windowKeySets walks cached subtrees and subqueries too: a
        // builder that caches a frame containing a window would
        // otherwise hide it behind the InMemoryRelation and slip the
        // freeze (caught in the r16 review pass)
        val keysets = windowKeySets(SparkEntry.queries(name)(spark, sf))
        if (keysets.nonEmpty) found(name) = keysets
      }
    spark.catalog.clearCache()
    assert(found.toMap == allow,
      s"partitioned-window inventory drifted.\n  new/changed: " +
        s"${(found.toMap.toSet -- allow.toSet).toSeq.sortBy(_._1)}\n  gone: " +
        s"${(allow.toSet -- found.toMap.toSet).toSeq.sortBy(_._1)}\n" +
        "A new window over a key that does not bound per-partition rows " +
        "by construction is the ZipfWindowProbe straggler — route it " +
        "through HotColdFreq or probe it before allowlisting.")
  }

  test("iterative entries: executed scans are O(1) in iteration depth") {
    // r16 (VERDICT r15 item 2): the unrolled DataFrame loops in
    // q_pagerank / q_graph_bfs must not re-read the lake per round —
    // edges, nodes, and degrees are cached ONCE and every iteration
    // joins the caches. Before the fix, q_pagerank's per-iteration
    // nodes join re-scanned embeddings every round (1 + iters direct
    // scans). Pinned here at two depths; the committed artifact
    // archive/ITERSCAN_r16.json records the full 1..4 curve.
    for ((name, build) <- Seq[(String, Int => DataFrame)](
        "q_pagerank" -> (d => graft.queries.LlmOps.pageRankRanks(spark, sf, d)),
        "q_graph_bfs" -> (d => graft.queries.LlmOps.graphBfsDist(spark, sf, d)))) {
      val counts = Seq(2, 4).map { d =>
        // cold cache per depth: a previous depth's persisted frames
        // would canonically match this plan's subtrees and hide a
        // depth-dependent scan
        spark.catalog.clearCache()
        val (_, _, scanned) = graft.tools.PlanAudit.executedScans(build(d))
        (scanned.count(!_.startsWith("cached:")),
          scanned.count(_.startsWith("cached:")))
      }
      assert(counts(0) == counts(1),
        s"$name: executed scans grew with iteration depth — depth 2 read " +
          s"(direct, cached)=${counts(0)}, depth 4 read ${counts(1)}; " +
          "an iteration is re-reading the lake instead of the caches")
      spark.catalog.clearCache()
    }
  }

  test("releaseLocalCheckpoint actually drops the checkpoint's blocks") {
    // the helper reaches into a NON-PUBLIC plan shape (localCheckpoint
    // exposed as a LogicalRDD leaf): a Spark upgrade that re-wraps the
    // checkpoint would silently degrade deep BFS sweeps back to the
    // GC-reliant r16 behavior (blocks accumulate until the
    // ContextCleaner fires). Pin BOTH halves loudly: the leaf is still
    // findable, and unpersisting it really removes the persisted RDD
    // (r17 verdict note 3).
    val sc = spark.sparkContext
    val ckpt = spark.range(0, 1000).toDF("v").localCheckpoint(true)
    val rddIds = ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(rddIds.nonEmpty,
      "localCheckpoint no longer analyzes to a LogicalRDD leaf — " +
        "releaseLocalCheckpoint has become a silent no-op on this " +
        "Spark version; rework it (graphBfsDist would otherwise hold " +
        "every truncation's MEMORY_AND_DISK blocks until GC)")
    assert(rddIds.forall(sc.getPersistentRDDs.contains),
      "an eager localCheckpoint must persist its backing RDD")
    graft.queries.LlmOps.releaseLocalCheckpoint(ckpt)
    // unpersist(blocking = false) still deregisters synchronously —
    // only the block deletion is async
    assert(rddIds.forall(id => !sc.getPersistentRDDs.contains(id)),
      "releaseLocalCheckpoint must deregister the checkpoint's RDD")
  }

  test("AQE coalesces post-shuffle partitions on small data") {
    // the configured 32 shuffle partitions are a scale setting; on tiny
    // inputs AQE must shrink the aggregation exchange's read side rather
    // than schedule 32 near-empty tasks — the mechanism that lets one
    // partition count serve sf0.001 through 100 TB
    val df = SparkEntry.queries("q_agg_pricing")(spark, sf)
    // collect() (unlike count()) runs THIS Dataset's queryExecution, so
    // the adaptive plan below is the executed, final one
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
    assert(finalPlan.contains("coalesced"), finalPlan)
  }
}
