package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 1-min load average at start and end, so the artifact shows whether
    // co-tenant load, not the plan, moved a run (-1.0 where unavailable)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    // untimed warmup: JIT/codegen/parquet-reader bring-up is session cost,
    // not query cost. The streaming engine has its own ~10s one-time
    // bring-up (micro-batch planner, state store machinery), so warm both
    // paths — against the bench's own data dir so the warmup cannot
    // silently miss when the default testdata path doesn't exist.
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case e: Throwable => System.err.println(s"[bench] batch warmup skipped: ${e.getMessage}") }
    try SparkEntry.queries("s_tumbling_counts")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench] stream warmup skipped: ${e.getMessage}") }
    // One sample per query made every round's numbers hostage to co-tenant
    // load: r2 read q_neardup_pairs at 7.4s where isolated reruns measured
    // 1.4-1.8s warm (VERDICT r2 finding 2). Run each query `reps` times and
    // report the MIN — the least-interference sample, and the one that
    // tracks the plan rather than the machine. All samples are emitted too
    // so a reader can see the noise envelope.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // optional comma-separated allowlist for local iteration on one query
    // (the driver never sets it, so round benches always run the full
    // set). A whitespace-only value (e.g. an unset shell interpolation)
    // is treated as unset — never as "run zero queries", which would
    // emit a vacuous all-green 0.000s bench.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    var failed = Set.empty[String]
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val samples = (1 to reps).toVector.map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        // drop builder-cached intermediates so blocks don't leak across
        // the bench session (cache population is timed with its query)
        finally spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      name -> samples
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val allSamples = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_.min).sum else 0.0
    val wall = if (results.nonEmpty) results.values.map(_.sum).sum else 0.0
    // a failed query must not masquerade as a fast success
    val errs = failed.toList.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver captures only the LAST 2000 bytes of stdout (r3 verdict:
    // 6771-char line vs 2000-char tail window → parsed:null three rounds
    // running). The final stdout line must therefore be COMPACT — totals
    // only, ~150 chars. The per-query min map and the raw samples go to
    // bench_out.json, which has no size limit.
    // Record the measurement environment INSIDE the artifact (r8 verdict
    // item 3: a bench JSON without config cannot distinguish a plan
    // regression from an environment delta — the q_cooccur 5.3x
    // driver/local gap was unattributable for a round because neither
    // side's JSON said what it ran under).
    val rt = Runtime.getRuntime
    val config = s"""{"master":"local[$cpus]","cpus":$cpus""" +
      s""","shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")}""" +
      s""","obj_hash_agg_fallback":${spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")}""" +
      s""","java":"${System.getProperty("java.version")}"""" +
      s""","heap_max_mb":${rt.maxMemory() / (1024 * 1024)}""" +
      s""","host_cpus":${rt.availableProcessors()}""" +
      s""","load1_start":$loadStart,"load1_end":${os.getSystemLoadAverage}}"""
    // the shared streaming runs' one-time bring-up walls: rep 1 pays
    // them, rep 2 serves the memo, so no entry's MIN carries the cost —
    // it is real and lives only in wall_sec unless recorded here
    // (VERDICT r12 item 3)
    val bringUp = graft.queries.StreamingOps.bringUpSeconds.toSeq.sorted
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","errors":$errs,"sf":"$sfDir","reps":$reps,"wall_sec":$wall%.3f}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","reps":$reps,"wall_sec":$wall,"config":$config,"stream_bring_up":$bringUp,"samples":$allSamples}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    println(compact)
    spark.stop()
  }
}
