package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.chschema.{ClickHouseType, DdlRenderer, SchemaUtils}
import graft.queries.StreamingOps

/** The benchmark's measured JVM: one session, one closed-loop client.
 *
 * Usage: Harness <plan.tsv>. The plan (written by run.py) holds `conf`,
 * `lib` and `entry` lines; results go to the JSON-lines file named by the
 * `results` conf. Phases, in order:
 *  1. session with Bench.scala's conf set and a warmup that runs no entry;
 *  2. the cold pass: every entry once, in plan order;
 *  3. the library DDL phase: `libPasses` passes over the `lib` specs, the
 *     first of them the cold conversion of each spec;
 *  4. warm passes over the entries until `seconds` have elapsed since the
 *     cold pass started, with at least `minWarm` passes.
 *
 * An entry execution is timed as build (inside `QueryDef.run`), plan
 * (forcing `queryExecution.executedPlan`) and exec (`collect()` on that
 * same QueryExecution); the collected rows are what gets checked. In a
 * traced run every other warm pass over the entries runs with tracing off,
 * which gives the tracing overhead.
 */
object Harness {
  private val out = new StringBuilder

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val plan = Files.readAllLines(Paths.get(args(0))).asScala.map(_.split("\t", -1).toVector)
    val conf = plan.collect { case Vector("conf", k, v) => k -> v }.toMap
    val libSpecs = plan.collect { case "lib" +: rest => rest }.toVector
    val entries = plan.collect { case Vector("entry", n, m) => (n, m) }.toVector
    val cpus = conf("cpus")
    val traced = conf("trace") == "1"
    val dataDir = conf("data")
    val dumpDir = Paths.get(conf("dump"))
    // the artifact stores live in java.io.tmpdir; spark.local.dir (shuffle
    // and block files) sits beside it and is counted by the engine metrics
    val artifactRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val resultsPath = Paths.get(conf("results"))
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Bench.scala's conf set, unchanged
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup on the workload's own data; it runs no entry, so no memo or
    // artifact store is filled before the cold pass
    spark.read.parquet(conf("warmup")).groupBy(spark.read.parquet(conf("warmup")).columns.head)
      .count().collect()
    val readyMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    record(s"""{"kind":"ready","jvm_start_ms":$jvmStartMs,"main_ms":$mainMs,"ready_ms":$readyMs}""")
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val gc0 = gcTotals()
    val cpu0 = processCpuS()

    val listener = new EngineListener
    val trace = new Trace
    val defs = SparkEntry.allDefs.map(d => d.name -> d).toMap
    val coldRows = mutable.Map.empty[String, Array[Row]]
    val t0 = System.nanoTime()
    val deadline = t0 + (conf("seconds").toDouble * 1e9).toLong

    def runEntry(name: String, module: String, rep: Int, tracing: Boolean): Unit = {
      val execId = s"$name#$rep"
      val snap0 = if (tracing) Artifacts.snapshot(artifactRoot) else null
      // the wall as the client sees it, read apart from the three parts:
      // job tagging and clearCache fall inside it and outside the parts
      val w0 = System.nanoTime()
      if (tracing) spark.sparkContext.setLocalProperty(EngineListener.Key, execId)
      val s0 = System.nanoTime()
      var s1, s2, s3 = s0
      var rows: Array[Row] = null
      var df: DataFrame = null
      var error: String = null
      try {
        df = defs(name).run(spark, dataDir)
        s1 = System.nanoTime()
        df.queryExecution.executedPlan
        s2 = System.nanoTime()
        rows = df.collect()
        s3 = System.nanoTime()
      } catch {
        case e: Throwable =>
          s3 = System.nanoTime()
          error = String.valueOf(e.getMessage).linesIterator.take(1).mkString
      }
      spark.sparkContext.setLocalProperty(EngineListener.Key, null)
      spark.catalog.clearCache()
      val w1 = System.nanoTime()
      val sb = new StringBuilder
      sb ++= s"""{"kind":"entry","name":${Json.str(name)},"module":${Json.str(module)},"rep":$rep"""
      sb ++= s""","traced":$tracing,"wall_s":${(w1 - w0) / 1e9}"""
      if (error == null) {
        sb ++= s""","build_s":${(s1 - s0) / 1e9},"plan_s":${(s2 - s1) / 1e9},"exec_s":${(s3 - s2) / 1e9}"""
        sb ++= s""","rows":${rows.length}"""
        if (rep == 0) {
          coldRows(name) = rows
          dump(spark, rows, df, dumpDir.resolve(name))
        } else if (!coldRows.get(name).exists(_.sameElements(rows))) {
          // differs from the checked cold result: dump it for the oracle too
          sb ++= s""","differs_from_cold":true"""
          dump(spark, rows, df, dumpDir.resolve(s"$name@$rep"))
        }
      } else sb ++= s""","error":${Json.str(error)}"""
      if (tracing) {
        trace.span("entry", w0, w1, null, execId)
        if (error == null) {
          trace.span("build", s0, s1, "entry", execId)
          trace.span("plan", s1, s2, "entry", execId)
          trace.span("exec", s2, s3, "entry", execId)
          val (windows, exchanges) = PlanWalk.counts(df)
          sb ++= s""","single_partition_windows":$windows,"exchanges":$exchanges"""
        }
        val d = Artifacts.diff(artifactRoot, snap0, Artifacts.snapshot(artifactRoot))
        sb ++= s""","art_bytes_written":${d._1},"art_entries_added":${d._2}"""
      }
      sb ++= "}"
      record(sb.toString)
    }

    var listening = false
    def setTracing(on: Boolean): Unit = if (on != listening) {
      if (on) spark.sparkContext.addSparkListener(listener)
      else {
        // deliver the events still queued for the last traced execution
        EngineListener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      listening = on
    }

    // 2. cold pass
    setTracing(traced)
    entries.foreach { case (n, m) => runEntry(n, m, 0, traced) }
    StreamingOps.bringUpSeconds.foreach { case (shape, s) =>
      record(s"""{"kind":"bringup","shape":${Json.str(shape)},"s":$s}""")
    }

    // 3. library DDL phase
    val libPasses = conf("lib_passes").toInt
    val libOut = mutable.Map.empty[String, String]
    val libStart = System.nanoTime()
    for (pass <- 0 until libPasses; spec <- libSpecs) {
      val Vector(key, path, table, pk, mode, outPath) = spec
      val m = if (mode == "extended") ClickHouseType.Extended else ClickHouseType.Legacy
      val execId = s"lib:$key#$pass"
      if (traced) spark.sparkContext.setLocalProperty(EngineListener.Key, execId)
      val fs0 = FsStats.read()
      val c0 = System.nanoTime()
      SchemaUtils.parquetSchemaToClickHouse(spark, path, outPath, table, pk, m)
      val c1 = System.nanoTime()
      val fs1 = FsStats.read()
      spark.sparkContext.setLocalProperty(EngineListener.Key, null)
      val ddl = Files.readString(Paths.get(outPath))
      val same = libOut.getOrElseUpdate(key, ddl) == ddl
      val sb = new StringBuilder
      sb ++= s"""{"kind":"lib","key":${Json.str(key)},"pass":$pass,"traced":$traced"""
      sb ++= s""","ms":${(c1 - c0) / 1e6},"same_as_first":$same"""
      if (traced) {
        trace.span("convert", c0, c1, null, execId)
        // layer probes, outside the timed conversion
        val p0 = System.nanoTime()
        val schema = SchemaUtils.parquetSchema(spark, path)
        val p1 = System.nanoTime()
        DdlRenderer.render(schema, table, pk, m)
        val p2 = System.nanoTime()
        trace.span("parquetSchema", p0, p1, null, execId)
        trace.span("render", p1, p2, null, execId)
        sb ++= s""","schema_ms":${(p1 - p0) / 1e6},"render_ms":${(p2 - p1) / 1e6}"""
        sb ++= s""","columns":${Columns.count(schema)}"""
        sb ++= s""","fs_bytes_read":${fs1._1 - fs0._1},"fs_read_ops":${fs1._2 - fs0._2}"""
      }
      sb ++= "}"
      record(sb.toString)
    }
    record(s"""{"kind":"lib_phase","s":${(System.nanoTime() - libStart) / 1e9}}""")

    // 4. warm passes, time-boxed with a floor
    val minWarm = conf("min_warm").toInt
    val maxWarm = conf("max_warm").toInt
    // artifact bytes and peak RSS are taken after the fixed part of the work
    // (cold pass, DDL phase and `minWarm` warm passes), so the time-boxed
    // extra passes do not change them
    var pass = 1
    var fixedPart: (Long, Double) = null
    while (pass <= maxWarm && (pass <= minWarm || System.nanoTime() < deadline)) {
      val tracing = traced && pass % 2 == 1
      setTracing(tracing)
      entries.foreach { case (n, m) => runEntry(n, m, pass, tracing) }
      if (pass == minWarm) fixedPart = (Artifacts.bytes(artifactRoot), vmHwmMb())
      pass += 1
    }
    setTracing(false)
    val measuredS = (System.nanoTime() - t0) / 1e9

    val oracle = SparkEntry.oracleSql.filter { case (n, _) => entries.exists(_._1 == n) }
    Files.writeString(dumpDir.resolve("oracle_sql.json"),
      oracle.toSeq.sorted.map { case (n, q) => s"${Json.str(n)}:${Json.str(q)}" }.mkString("{", ",", "}"))
    if (traced) {
      listener.records().foreach(record)
      trace.write(Paths.get(conf("trace_file")))
    }
    val gc1 = gcTotals()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val loadEnd = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    record(s"""{"kind":"end","measured_s":$measuredS,"artifact_bytes":${fixedPart._1},""" +
      s""""gc_s":${(gc1._1 - gc0._1) / 1e3},"gc_count":${gc1._2 - gc0._2},"heap_peak_mb":$heapPeak,""" +
      s""""vm_hwm_mb":${fixedPart._2},"process_cpu_s":${processCpuS() - cpu0},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},"java":${Json.str(System.getProperty("java.version"))},""" +
      s""""load_start":$loadStart,"load_end":$loadEnd,"spark_conf":${Json.obj(spark.conf.getAll)}}""")
    Files.writeString(resultsPath, out.toString)
    spark.stop()
    sys.exit(0) // a stream or pool thread left running must not keep the JVM up
  }

  private def record(line: String): Unit = { out ++= line; out += '\n' }

  /** Rows of a timed collect, written as Parquet for the DuckDB check
   * (untimed). */
  private def dump(spark: SparkSession, rows: Array[Row], df: DataFrame, dir: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
}

object Columns {
  import org.apache.spark.sql.types._
  /** Columns the renderer emits a line for: every field at every depth. */
  def count(dt: DataType): Int = dt match {
    case st: StructType => st.fields.map(f => 1 + count(f.dataType)).sum
    case ArrayType(et, _) => count(et)
    case MapType(k, v, _) => count(k) + count(v)
    case _ => 0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
