package graft.chschema

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/**
 * Schema utilities: the reference's one real capability — Parquet footer
 * schema → ClickHouse DDL — as a pure metadata transformation.
 *
 * `spark.read.parquet(path).schema` performs driver-side file listing +
 * footer reads only; no Spark job runs until an action, so this preserves
 * the reference's metadata-only I/O property (reference:
 * src/parquetutils.rs:28-30) at any table size: cost is O(footers), not
 * O(rows).
 */
object SchemaUtils {
  def parquetSchema(spark: SparkSession, path: String) =
    spark.read.parquet(path).schema

  /** Data-driven LowCardinality candidates: top-level String columns
   * whose approximate distinct count is below `maxDistinct`. NOTE: this
   * is the one schema utility that scans row data (one distributed
   * aggregate over the string columns) — unlike the footer-only DDL
   * path, its cost is O(rows), which is why it is a separate opt-in
   * tool rather than part of render(). */
  def suggestLowCardinality(spark: SparkSession, path: String,
                            maxDistinct: Long = 1000L): Set[String] = {
    import org.apache.spark.sql.functions.approx_count_distinct
    val df = spark.read.parquet(path)
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }
    if (stringCols.isEmpty) Set.empty
    else {
      val aggs = stringCols.map(c => approx_count_distinct(df(c)).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      stringCols.filter(c => row.getAs[Long](c) <= maxDistinct).toSet
    }
  }

  /** End-to-end equivalent of the reference's library entry point
   * `parquet_schema_to_clickhouse` (src/parquetutils.rs:17-61). */
  def parquetSchemaToClickHouse(spark: SparkSession, parquetPath: String,
                                outPath: String, table: String, pk: String,
                                mode: ClickHouseType.Mode = ClickHouseType.Legacy,
                                lowCardinality: Set[String] = Set.empty,
                                partitionBy: Option[String] = None,
                                orderBy: Seq[String] = Nil): Unit = {
    val ddl = DdlRenderer.render(parquetSchema(spark, parquetPath), table, pk,
      mode, lowCardinality, partitionBy, orderBy)
    Files.writeString(Paths.get(outPath), ddl)
    ()
  }
}

/**
 * CLI entry point matching the reference's `schemagen` binary flag-for-flag
 * (reference: src/bin/schemagen.rs:4-34): four required `--flags`, no
 * external arg-parsing dependency (offline build).
 *
 * Usage:
 *   runMain graft.chschema.SchemaGen --parquet-path IN.parquet \
 *     --clickhouse-schema-path OUT.sql --table-name T --primary-key K
 */
object SchemaGen {

  /** Parsed CLI configuration (pure; unit-testable without a session). */
  final case class Config(parquetPath: String, outPath: String, table: String,
                          pk: String, mode: ClickHouseType.Mode,
                          lowCardinality: Option[String],
                          partitionBy: Option[String], orderBy: Seq[String],
                          warnings: Seq[String])

  /** The flags [[parseArgs]] accepts: the reference CLI's four plus the
   * extended-mode extras. */
  private val Flags = Set("parquet-path", "clickhouse-schema-path",
    "table-name", "primary-key", "mode", "low-cardinality", "partition-by",
    "order-by")

  /** Flag-for-flag parse of the reference CLI plus the extended-mode
   * extras. Fails fast (sys.error) on a missing required flag, matching
   * the reference's clap `required = true` behavior
   * (reference: src/bin/schemagen.rs:6-21), on an unknown, repeated or
   * valueless flag, and on a `--mode` other than `legacy` or `extended`:
   * input the parse cannot use must not silently drop a clause from the
   * DDL or render lossy Legacy DDL. */
  def parseArgs(args: Array[String]): Config = {
    val kv = args.grouped(2).foldLeft(Map.empty[String, String]) { (m, pair) =>
      val flag = pair(0)
      val k = flag.stripPrefix("--")
      if (!flag.startsWith("--") || !Flags(k)) sys.error(s"unknown flag '$flag'")
      if (pair.length < 2 || pair(1).startsWith("--"))
        sys.error(s"flag $flag has no value")
      if (m.contains(k)) sys.error(s"flag $flag given more than once")
      m + (k -> pair(1))
    }
    def req(k: String): String =
      kv.getOrElse(k, sys.error(s"missing required flag --$k"))
    val mode = kv.get("mode") match {
      case None | Some("legacy") => ClickHouseType.Legacy
      case Some("extended") => ClickHouseType.Extended
      case Some(m) => sys.error(s"--mode must be legacy or extended, got '$m'")
    }
    val partitionBy = kv.get("partition-by")
    val orderBy = kv.get("order-by")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val warnings = Seq(
      if (mode == ClickHouseType.Legacy && (partitionBy.nonEmpty || orderBy.nonEmpty))
        Some("--partition-by/--order-by have no effect without --mode extended; ignoring")
      else None,
      if (mode == ClickHouseType.Legacy && kv.contains("low-cardinality"))
        Some("--low-cardinality has no effect without --mode extended; ignoring")
      else None).flatten
    Config(req("parquet-path"), req("clickhouse-schema-path"),
      req("table-name"), req("primary-key"), mode,
      kv.get("low-cardinality"), partitionBy, orderBy, warnings)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    cfg.warnings.foreach(w => System.err.println(s"[schemagen] $w"))
    val parquetPath = cfg.parquetPath
    val outPath = cfg.outPath
    val table = cfg.table
    val pk = cfg.pk
    val mode = cfg.mode
    // --low-cardinality a,b,c  (explicit) or --low-cardinality auto
    // (data-driven via SchemaUtils.suggestLowCardinality; scans rows)
    val lcArg = if (mode == ClickHouseType.Legacy) None else cfg.lowCardinality
    val partitionBy = cfg.partitionBy
    val orderBy = cfg.orderBy

    // the DDL path runs no keyed shuffle, so the width is nominal
    val spark = GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[2]"), 2)
    try {
      // lcArg is already None in Legacy mode (parseArgs warns; don't pay
      // the auto row scan for a flag Legacy mode ignores)
      val lc: Set[String] = lcArg match {
        case Some("auto") => SchemaUtils.suggestLowCardinality(spark, parquetPath)
        case Some(cols) => cols.split(",").map(_.trim).filter(_.nonEmpty).toSet
        case None => Set.empty
      }
      SchemaUtils.parquetSchemaToClickHouse(spark, parquetPath, outPath, table,
        pk, mode, lc, partitionBy, orderBy)
    } finally spark.stop()
  }
}
