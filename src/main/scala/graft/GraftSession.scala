package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, the DDL CLI, the tools
 * and the shared test session all build their session here, so they
 * run the same engine, with [[GraftExtensions]]' SQL names installed.
 * The warehouse (q_bucketed_join's managed tables) is
 * `graft_warehouse` under the artifact root, not the working
 * directory. */
object GraftSession {
  def apply(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NANOS parquet timestamps (events.ts) otherwise fail the read with
      // PARQUET_TYPE_ILLEGAL; as a long they map to Int64 in the DDL (the
      // reference's mapping) and graft.queries.Q.events() truncates to µs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep ObjectHashAggregate on the hash path: the default 128-key
      // fallback degrades every Aggregator-based aggregation (MinHashAgg,
      // SimHashAgg, HeavyHittersAgg, percentile_approx) to a per-partition
      // external sort of the pre-aggregation rows. 1M keys × the largest
      // state (a ~400 B MinHash sig) bounds the per-task map at ~400 MB.
      // Measured ~15% off the LSH dedup path at 11× gate scale (an A/B
      // whose output was not committed).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // let AQE re-plan (coalesce) exchanges inside cached plans; results
      // are unchanged. The cached graph/iteration frames (q_triangles,
      // q_graph_bfs, q_power_iter) otherwise materialize at the static
      // shuffle width. Interleaved 16-query A/B: 15.84 → 13.85 s,
      // q_triangles −0.90, q_graph_bfs −0.52 (OPTIMIZATION_r21.md).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir",
        graft.sources.ArtifactStore.root.resolve("graft_warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
