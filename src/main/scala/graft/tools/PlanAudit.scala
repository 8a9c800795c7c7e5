package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
object PlanAudit {

  /** Execute `df` with a row-discarding action and count the scans the
   * EXECUTED plan actually ran — ReusedExchange / reused query stages
   * make a branch's scan disappear from the executed tree, so this is
   * the truthful count the pre-execution walk overstates. PlanAuditSpec
   * pins its scan counts.
   *
   * The action drives the SHARED QueryExecution's RDD: `df.foreach`
   * would fork a separate rddQueryExecution and leave
   * `df.queryExecution.executedPlan` UNFINALIZED (verified on Spark
   * 4.1.2: isFinalPlan stays false after foreach, true after this),
   * which silently reverts the walk to initial-plan counts; collect()
   * finalizes the right instance but materializes large entries on
   * the driver. toRdd.count() does neither. */
  def executedScans(df: org.apache.spark.sql.DataFrame)
      : (Int, Int, Seq[String]) = {
    df.queryExecution.toRdd.count()
    var nScan = 0; var nReuse = 0
    val scanned = scala.collection.mutable.ArrayBuffer[String]()
    // a cached relation referenced by N consumers builds ONCE — count
    // its scans once (identity: the shared InMemoryRelation instance)
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk2(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk2(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk2(q.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          nReuse += 1
        // a persisted frame's build scan runs ONCE (that is the point
        // of the persist) but lives inside the cached plan — surface
        // it with a "cached:" prefix so "scans == distinct(inputs)"
        // stays auditable for builders that cache a shared frame
        // (HotColdFreq.freq, q_corpus_pipeline.exactKeep)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          // wrapper instances differ per consumer; the shared build is
          // the cacheBuilder (one materialization per builder)
          if (seenCached.add(i.relation.cacheBuilder)) {
            val before = scanned.length
            walk2(i.relation.cachedPlan)
            for (k <- before until scanned.length
                 if !scanned(k).startsWith("cached:"))
              scanned(k) = "cached:" + scanned(k)
          }
        case f: FileSourceScanExec =>
          nScan += 1
          // a recognizable short name: last meaningful path segment
          scanned += f.relation.location.inputFiles.headOption
            .map(_.split("/").takeRight(2).mkString("/"))
            .getOrElse("?")
        case _ =>
      }
      p.children.foreach(walk2)
      p.subqueries.foreach(walk2)
    }
    walk2(df.queryExecution.executedPlan)
    (nScan, nReuse, scanned.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names =
      if (args.sameElements(Array("--all")))
        SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("s_"))
      else if (args.nonEmpty) args.toSeq
      else Seq("q_scan_filter", "q_agg_pricing", "q_join_5way")
    for (name <- names) {
      // an earlier entry's executed persist (HotColdFreq.freq) can
      // canonically match this entry's subtree and masquerade as its
      // own cached build — every entry audits from a cold cache
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"##### $name")
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case f: FileSourceScanExec =>
            val file = f.relation.location.inputFiles.headOption.getOrElse("?")
              .split("/").last
            println(s"  SCAN $file cols=${f.requiredSchema.fieldNames.mkString(",")}")
            println(s"       pushed=${f.metadata.getOrElse("PushedFilters", "?")}")
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      // the pre-execution walk above overstates real scans when AQE
      // reuses shuffle stages at runtime — execute and recount on the
      // FINAL adaptive plan (ReusedExchange / reused query stages make
      // a branch's scan disappear from the executed tree)
      try {
        val (nScan, nReuse, scanned) = executedScans(df)
        println(s"  EXECUTED scans=$nScan reused_exchanges=$nReuse" +
          (if (scanned.nonEmpty) s" [${scanned.mkString("; ")}]" else ""))
      } catch { case e: Throwable =>
        println(s"  EXECUTED (failed: ${e.getMessage})")
      }
    }
    spark.stop()
  }
}
