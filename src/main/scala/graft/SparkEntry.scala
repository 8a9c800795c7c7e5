package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * The declared operator inventory (SURVEY.md §2.C) lives in the
 * `graft.queries` modules; this object is just the wiring:
 *  - [[Relational]]: scan/filter, agg, joins (equi/broadcast/semi/anti/
 *    theta), windows, top-k, set ops, distinct, rollup/cube, scalar fns,
 *    JSON, time bucketing
 *  - [[LlmOps]]: exact + MinHash-LSH dedup, text analysis, vector
 *    norms / cosine ANN / pair similarity, multimodal metadata
 *  - [[StreamingOps]]: tumbling / sliding / session windows via
 *    Structured Streaming
 *  - [[SchemaQueries]]: the reference's own schema→DDL capability
 */
object SparkEntry {
  val allDefs: Vector[QueryDef] = {
    val defs = Relational.defs ++ LlmOps.defs ++ Advanced.defs ++
      StreamingOps.defs ++ SchemaQueries.defs ++ SourceOps.defs ++
      Battery.defs ++ TrainPrep.defs ++ Curation.defs
    // a duplicate name would silently drop an operator in the toMap below
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. For a
    * [[QueryDef.sql]] entry the oracle is the text the entry runs. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
