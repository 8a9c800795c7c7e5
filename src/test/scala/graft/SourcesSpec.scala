package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.chschema.{ClickHouseType, DdlRenderer}

/** Source/sink coverage beyond parquet (csv, json) and the extended-mode
 * DDL round-trip through a real decimal/date parquet file. */
class SourcesSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A private copy of sf0.001's `tables`: artifacts planted for it
   * cannot meet the shared corpus's. */
  private def corpusCopy(tables: String*): String = {
    val d = Files.createTempDirectory("graft-corpus")
    for (t <- tables) {
      val src = java.nio.file.Paths.get(sf, s"$t.parquet")
      val w = Files.walk(src)
      try w.forEach(p => Files.copy(p, d.resolve(src.getParent.relativize(p))))
      finally w.close()
    }
    d.toString
  }

  test("csv sink/source round-trip preserves events rows") {
    val e = graft.queries.Q.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val dir = tmp("graft-csv")
    e.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(e.schema).csv(dir)
    assert(back.count() == e.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ==
      e.agg(sum("event_id")).head.getLong(0))
  }

  test("json sink/source round-trip preserves documents") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("graft-json")
    d.write.mode("overwrite").json(dir)
    val back = spark.read.schema(d.schema).json(dir)
    assert(back.count() == d.count())
    assert(back.agg(sum("n_chars")).head.getLong(0) ==
      d.agg(sum("n_chars")).head.getLong(0))
  }

  test("extended-mode DDL round-trips decimal/date through a real footer") {
    import spark.implicits._
    val dir = tmp("graft-dec")
    Seq((1L, BigDecimal("12345.67"), java.sql.Date.valueOf("2024-02-29")))
      .toDF("id", "amount", "day")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val ddl = DdlRenderer.render(schema, "money", "id", ClickHouseType.Extended)
    assert(ddl.contains("id Int64"))
    assert(ddl.contains(", amount Nullable(Decimal(12, 2))"))
    assert(ddl.contains(", day Nullable(Date)"))
  }

  test("q_partitioned_write scans only the filtered partition's files") {
    import org.apache.spark.sql.functions.col
    // run the gate query once so the hive-partitioned export exists
    SparkEntry.queries("q_partitioned_write")(spark, sf).collect()
    // re-open the export the same way the query does and check pruning:
    // every input file of the filtered scan must live under the
    // o_orderstatus=F directory — other partitions are never opened
    val o = spark.read.parquet(s"$sf/orders.parquet")
    // match this sf-dir's export specifically (other sf exports may
    // coexist in tmp); the dir name embeds the sf-dir hash tag
    val tag = graft.sources.ArtifactStore.dirTag(sf)
    val exportDirs = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith(s"graft_src2_hivepart_$tag"))
    assert(exportDirs.nonEmpty, "export dir missing")
    val pruned = spark.read.parquet(exportDirs.head.toString)
      .filter(col("o_orderstatus") === "F")
    // inputFiles lists the base relation pre-pruning; the guarantee
    // lives in the scan's partitionFilters + the pruned file listing
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "o_orderstatus filter should be a partition filter, not a data filter")
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("o_orderstatus=F")),
      s"unpruned files: ${files.filterNot(_.contains("o_orderstatus=F")).mkString(", ")}")
    assert(o.filter(col("o_orderstatus") === "F").count() == pruned.count())
  }

  test("compaction merges 64 files into ≤4 with no shuffle, content intact") {
    // materialize both generations of the q_compact_files round-trip dirs
    SparkEntry.queries("q_compact_files")(spark, sf).count()
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val tag = graft.sources.ArtifactStore.dirTag(sf)
    def partFiles(prefix: String): Int = {
      val d = tmpdir.listFiles()
        .filter(_.getName.startsWith(s"graft_src2_${prefix}_$tag"))
      assert(d.nonEmpty, s"$prefix dir missing")
      d.head.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(partFiles("frag") == 64, "fragmented landing zone")
    assert(partFiles("compacted") <= 4, "compaction target")
    // the compaction plan itself must be shuffle-free (coalesce, not
    // repartition): each output task concatenates input splits
    val frag = tmpdir.listFiles()
      .filter(_.getName.startsWith(s"graft_src2_frag_$tag")).head
    val plan = spark.read.parquet(frag.toString).coalesce(4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction shuffled:\n$plan")
  }

  test("mergeSchema read surfaces the pre-evolution files' column as null") {
    SparkEntry.queries("q_schema_evolution")(spark, sf).count()
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val tag = graft.sources.ArtifactStore.dirTag(sf)
    val evo = tmpdir.listFiles()
      .filter(_.getName.startsWith(s"graft_src2_evo_$tag")).head
    val merged = spark.read.option("mergeSchema", "true").parquet(evo.toString)
    assert(merged.schema.fieldNames.contains("o_orderstatus"))
    // generation 1 (even keys) predates the column: all null there, none
    // null in generation 2
    assert(merged.filter(col("o_orderkey") % 2 === 0)
      .filter(col("o_orderstatus").isNotNull).count() == 0)
    assert(merged.filter(col("o_orderkey") % 2 === 1)
      .filter(col("o_orderstatus").isNull).count() == 0)
  }

  test("a half-built export is replaced, not served") {
    // a run killed between q_schema_evolution's two writes leaves its
    // dir holding gen=1 only
    val half = corpusCopy("orders")
    val evo = graft.sources.ArtifactStore.stamped("graft_src2_evo_", half, "orders").path
    spark.read.parquet(s"$half/orders.parquet")
      .filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(evo.resolve("gen=1").toString)
    val q = SparkEntry.queries("q_schema_evolution")
    assert(q(spark, half).collect().toSeq == q(spark, corpusCopy("orders")).collect().toSeq)
  }

  test("a regenerated source's stale export is swept") {
    val d = corpusCopy("supplier")
    val art = graft.sources.ArtifactStore.stamped("graft_src2_orc_", d, "supplier")
    val stale = art.path.resolveSibling(art.family + "0ldstamp")
    Files.createDirectories(stale)
    Files.createFile(stale.resolve("_SUCCESS"))
    SparkEntry.queries("q_orc_source")(spark, d).collect()
    assert(!Files.exists(stale), "stale stamp must be swept")
    assert(Files.exists(art.path.resolve("_SUCCESS")))
  }
}
