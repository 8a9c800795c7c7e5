package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/**
 * Structured Streaming trio (SURVEY.md §2.C streaming): tumbling window,
 * sliding window, session window over the events table, each driven
 * through a real `readStream` file source → windowed aggregation →
 * memory sink, then returned as a batch DataFrame for the harness.
 *
 * Verification is batch-equivalence (SURVEY.md §5.4): the DuckDB oracles
 * are the batch window semantics. Complete output mode is used so final
 * (watermark-open) windows are emitted — with a bounded input in append
 * mode the last windows would stay in state forever, which is a
 * watermark property, not a bug.
 */
object StreamingOps {

  private def streamEvents(s: SparkSession, dir: String): DataFrame = {
    // file stream source needs an explicit schema: read it from the same
    // footer (metadata-only, like the batch path). ts is normalized to a
    // UTC TimestampType whatever the testdata generation encoded —
    // ns-since-epoch long (nanosAsLong) or µs TIMESTAMP_NTZ — because
    // event-time watermarks reject NTZ (see Q.events). The footer read
    // is Q's per-path memo, shared with the batch reader.
    val schema = Q.coreSchema(s, dir, "events")
    // the file-stream source wants a directory; glob-filter to the one table
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    Q.normalizeTs(raw)
  }

  /** Streaming state partitions should be sized to state volume, not to
   * the batch-side CPU count: these windowed aggs hold at most a few
   * thousand open keys (windows × types, users), and every micro-batch
   * pays per-partition state-store init/commit. 32 partitions measured
   * 4.5s for the sliding window at sf0.1 vs 2.7s at 8; the round-8
   * profile sweep (SURVEY.md) over the tumbling agg (tmpfs checkpoints)
   * measured addBatch 0.59s/0.70s/0.90s/1.11s at 4/8/16/32 partitions —
   * per-partition store overhead dominates parallelism at gate-scale
   * key counts. A round-9 whole-family A/B over all 15 entries (2-rep
   * mins, identical session) read 24.74 s at 4 partitions, 20.55 at 2,
   * 21.06 at 1 — but a round-10 PER-ENTRY sweep shows the uniform
   * setting was leaving time on the table: append/file-sink entries
   * (two microbatches, half their store commits pure eviction) win at
   * 1, while session windows (merging state) and
   * flatMapGroupsWithState hold their r9 best at 2 (family A/B on one
   * session, 2-rep mins: 21.65 → 18.68 s). Defaults below encode that
   * split; entries that measured otherwise pin stateParts explicitly.
   * At production state volumes this knob sizes UP
   * with keys; the point pinned here is that it must size to STATE,
   * never inherit the batch shuffle width. The same profile decomposes
   * the ~1s bounded-query floor: ~0.6s addBatch (the real aggregation),
   * ~0.13s incremental planning, ~0.17s query start, ~0.1s WAL+offset
   * commits — fixed engine cost a production stream amortizes over
   * hours, not a scale hazard.
   *
   * INVARIANT: the conf is session-global while the stream runs, so
   * callers must not plan other queries on this session concurrently
   * (Verify/Bench are strictly sequential). Restored on all exits. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Scope `spark.sql.streaming.noDataMicroBatches.enabled=false` around
   * a bounded COMPLETE/UPDATE-mode run. The engine's trailing no-data
   * batch exists to advance the watermark so APPEND mode can emit and
   * evict finalized windows; complete mode re-emits the whole result
   * every batch and never evicts, and update mode emits only changed
   * keys — for both, the no-data batch replays planning + state commit +
   * sink write to produce an identical result. Skipping it removes one
   * full microbatch (~a third of a bounded query's cost). APPEND-mode
   * runs must never use this — their finalized rows are emitted BY the
   * no-data batch (s_late_data's staged-eviction proof documents that
   * machinery). Same session-global caveat as [[withStatePartitions]]. */
  private def withoutNoDataBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** Temp root for streaming checkpoints and file-sink output: tmpfs
   * (/dev/shm) when present, else java.io.tmpdir. The offset/commit
   * metadata logs fsync once per microbatch and the state store
   * checkpoints per partition per batch — on a disk-backed /tmp those
   * synchronous writes are the bulk of each bounded query's fixed
   * bring-up cost, pure harness overhead that a long-running production
   * stream amortizes over hours but a bounded gate query pays in full. */
  private def streamTmpDir(name: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(root, s"graft_$name")
  }

  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }

  /** tmpfs is RAM: anything on /dev/shm that outlives its use is a
   * memory leak across sessions. Checkpoints are deleted as soon as the
   * bounded query stops; file-sink OUTPUT must stay readable for the
   * caller's (lazy) DataFrame, so it is registered for deletion at JVM
   * exit instead. */
  private val exitCleanup = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => exitCleanup.forEach(p =>
      try deleteRec(p) catch { case _: Throwable => () })))
  private def cleanupOnExit(p: java.nio.file.Path): Unit = {
    cleanupHook
    exitCleanup.add(p)
  }

  /** Run a (bounded) streaming aggregation to completion into a memory
   * sink and hand back the result table. `stateParts` sizes the state
   * store partitioning (see withStatePartitions); stream-stream joins
   * pay FOUR store inits/commits per partition per microbatch (two
   * sides × keyToNumValues/keyWithIndexToValue), so the interval join
   * runs at 2. */
  private def runToBatch(s: SparkSession, agg: DataFrame, name: String,
                         mode: String = "complete",
                         stateParts: Int = 1,
                         appendNeedsNoDataBatch: Boolean = true): DataFrame =
    runToBatchNamed(s, agg, name, mode, stateParts, appendNeedsNoDataBatch)._1

  /** As runToBatch, but also returns the memory-sink table name so a
   * caller that MEMOIZES the result (sharedWindowedRun) can drop the
   * superseded temp view when a stamp change replaces its entry —
   * without the name the orphaned sink table lives for the session's
   * lifetime (ADVICE r12). */
  private def runToBatchNamed(s: SparkSession, agg: DataFrame, name: String,
                              mode: String = "complete",
                              stateParts: Int = 1,
                              appendNeedsNoDataBatch: Boolean = true)
      : (DataFrame, String) =
    withStatePartitions(s, stateParts) {
      def run(): (DataFrame, String) = {
        val qn = name + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val base = streamTmpDir(name)
        val q = agg.writeStream.outputMode(mode).format("memory").queryName(qn)
          .option("checkpointLocation", base.resolve("chk").toString)
          .start()
        // the memory sink holds the result; the checkpoint is disposable
        // the moment the bounded query stops
        try { try q.processAllAvailable() finally q.stop() }
        finally deleteRec(base)
        (s.table(qn), qn)
      }
      // Append-mode WINDOWED AGG emission NEEDS the trailing no-data
      // batch (finalized windows emit in it); complete and update
      // replay an identical result in it — skip (see helper doc). An
      // append caller whose output provably does not depend on the
      // watermark advance — inner stream-stream join (matches emit in
      // the batch that completes them; the no-data batch only evicts
      // state) and dropDuplicates (first arrival emits immediately) —
      // opts out with appendNeedsNoDataBatch = false.
      if (mode == "append" && appendNeedsNoDataBatch) run()
      else withoutNoDataBatches(s)(run())
    }

  /** Run a streaming query in APPEND mode into a parquet file sink and
   * read the emitted rows back. This is the production shape at scale:
   * only watermark-finalized rows are written (each exactly once, state
   * evicted as it closes), and the sink is distributed files — nothing
   * accumulates on the driver, unlike the complete-mode memory sink
   * runToBatch uses as its harness adapter (VERDICT r1 finding on
   * s_session). With a bounded input the rows still open at the final
   * watermark are never emitted — a watermark property the caller's
   * declared semantics must include. */
  private[queries] def runToFileSink(s: SparkSession, agg: DataFrame,
                                     name: String,
                                     onComplete: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => (),
                                     stateParts: Int = 1)
      : DataFrame =
    withStatePartitions(s, stateParts) {
      val base = streamTmpDir(name)
      val out = base.resolve("out").toString
      val chk = base.resolve("chk")
      val q = agg.writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", chk.toString).start()
      // checkpoint dies with the query; the emitted parquet must stay
      // readable for the caller's lazy DataFrame → deleted at JVM exit.
      // onComplete runs while the query's progress is still inspectable
      // (between drain and stop) — s_late_data asserts its drop counter
      // there.
      try { try { q.processAllAvailable(); onComplete(q) } finally q.stop() }
      finally { deleteRec(chk); cleanupOnExit(base) }
      s.read.parquet(out)
    }

  /** Shared scaffold for the tumbling/sliding/session complete/append
   * twins (VERDICT r11 item 3 — "4 entries → 2 bring-ups"; the session
   * pair joined in round 13): each windowed
   * SHAPE's aggregation runs through the streaming engine ONCE per
   * (session, corpus content stamp), in complete mode (which emits
   * every window), and both of its gate entries serve declared views
   * of that one run — the complete entry verbatim, the append entry as
   * the watermark cut. The equivalence is exact, not approximate: with
   * a bounded input every window closed by the final watermark
   * (max ts − 10 min) has received all of its rows, so append mode's
   * emitted set IS the complete result filtered to
   * `window.end <= final watermark` — which is precisely the cut both
   * append oracles declare. One streaming job feeding multiple
   * consumers is also the production shape (you do not run the same
   * windowed aggregation twice to get two projections of it); the
   * append/file-sink machinery — exactly-once emission, state
   * eviction, distributed sink — stays independently exercised by
   * s_approx_users, s_heavy_hitters, s_incr_dedup, s_semantic_decon
   * and s_late_data (plus StreamingAppendSpec's real per-shape
   * append/file-sink runs, which pin the emission-cut equivalence
   * empirically for all three shared shapes). The memo is the same
   * weak-valued serve-frame memo the persisted artifacts use (memory-
   * sink tables are session-lived; a corpus change moves the stamp). */
  /** Strong memo for the shared runs — NOT ManifestStore.memoFrame:
   * that memo's WeakReference values are sized for a ~50 ms artifact
   * relation re-resolve, where a cleared entry is a cheap rebuild.
   * Here the value is a memory-sink-backed result whose rebuild is a
   * full streaming bring-up, and the twins run far enough apart that
   * any minor GC between them would clear a weak value — forfeiting
   * the one-run-per-shape saving nondeterministically and leaking the
   * orphaned memory-sink table each miss. Values strongly reference
   * their session, so entries are swept once their session stops
   * (checked on every call); size is bounded by live sessions ×
   * shapes, and a corpus change replaces the same key's entry (old
   * stamp evicted with it) rather than accreting. */
  private val sharedRuns = scala.collection.mutable.HashMap[
    (SparkSession, String, String), (String, String, DataFrame)]()

  /** One-time bring-up wall (seconds) of each shared windowed run,
   * keyed by shape — the cost the bench's min-of-reps accounting hides
   * (VERDICT r12 item 3: rep 1 pays the streaming bring-up, rep 2
   * serves the memo, so the min records ~0.09 s and the real cost
   * appears in NO entry's min, only in wall_sec). Bench emits this map
   * into bench_out.json as `stream_bring_up` so the committed artifact
   * carries the number; a stamp change overwrites with the newest
   * bring-up. */
  private val bringUps =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def bringUpSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    bringUps.asScala.toMap
  }

  private def sharedWindowedRun(s: SparkSession, dir: String,
                                shape: String, stateParts: Int = 1)
                               (agg: DataFrame => DataFrame): DataFrame = {
    val stamp = Q.contentStamp(dir, "events")
    // the lock spans the run itself: gate paths execute entries
    // sequentially per session, so contention is only ever a twin of
    // ANOTHER shape arriving mid-run, and the ceiling is one bring-up
    sharedRuns.synchronized {
      sharedRuns.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      sharedRuns.get((s, dir, shape)) match {
        case Some((`stamp`, _, df)) => df
        case stale =>
          // a stamp change replaces this key's entry; the superseded
          // run's memory-sink temp view would otherwise outlive it for
          // the session's lifetime (ADVICE r12) — drop it first
          stale.foreach { case (_, oldQn, _) => s.catalog.dropTempView(oldQn) }
          val t0 = System.nanoTime()
          val (df, qn) = runToBatchNamed(s, agg(streamEvents(s, dir)),
            "s_shared_" + shape, stateParts = stateParts)
          bringUps.put(shape, (System.nanoTime() - t0) / 1e9)
          sharedRuns.put((s, dir, shape), (stamp, qn, df))
          df
      }
    }
  }

  private def tumblingAgg(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  private def slidingAgg(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "1 hour", "15 minutes"))
    .agg(count(lit(1)).as("n_events"),
      (sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1)))
        .as("avg_value"))

  private def sessionAgg(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "10 minutes")
    .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
    .agg(count(lit(1)).as("n_events"))

  /** Test hook (StreamingAppendSpec): run a windowed shape through a
   * REAL append-mode file-sink execution. The gate's append twins are
   * served as watermark-cut views of the shared complete-mode run
   * (exact on bounded input — see sharedWindowedRun), which means the
   * gate itself no longer exercises append-mode EVICTION timing for
   * tumbling/sliding aggs (ADVICE r12); this hook keeps the
   * emission-cut equivalence empirically pinned per test run instead
   * of assumed. */
  private[graft] def appendModeRun(s: SparkSession, dir: String,
                                   shape: String): DataFrame =
    runToFileSink(s, shape match {
      case "tumbling" => tumblingAgg(streamEvents(s, dir))
      case "sliding"  => slidingAgg(streamEvents(s, dir))
      case "session"  => sessionAgg(streamEvents(s, dir))
    }, "s_append_pin_" + shape,
      stateParts = if (shape == "session") 2 else 1)

  /** The append-mode emission cut over a complete-mode windowed result:
   * windows whose end is at or before the final watermark
   * (max ts − 10 min), compared in exact µs (the cut carries the max
   * ts's µs offset; ms truncation could in principle flip a boundary).
   * `endCol` names the window-end struct field — `window.end` for the
   * time-window shapes, `session_window.end` for session windows (a
   * session [start, end) is final at the same wm ≥ end condition: any
   * admissible event has ts ≥ wm ≥ end and cannot merge into it).
   * Empty corpus → empty cut, matching an append run that emits
   * nothing. */
  private def watermarkCut(s: SparkSession, dir: String, df: DataFrame,
                           endCol: String = "window.end"): DataFrame = {
    val r = events(s, dir).agg(expr("max(unix_micros(ts))")).head()
    if (r.isNullAt(0)) df.filter(lit(false))
    else df.filter(expr(s"unix_micros($endCol)") <=
      lit(r.getLong(0) - 600000000L))
  }

  val defs: Vector[QueryDef] = Vector(

    // ---- 1h tumbling counts with a 10-min watermark ------------------
    QueryDef("s_tumbling_counts",
      (s, dir) => {
        sharedWindowedRun(s, dir, "tumbling")(tumblingAgg)
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n_events"), col("sum_value"))
          .orderBy("window_start", "event_type")
      },
      Some(s"""SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
              |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
              |FROM events GROUP BY 1, 2
              |ORDER BY window_start, event_type""".stripMargin)),

    // ---- 1h / 15m sliding average ------------------------------------
    QueryDef("s_sliding_value",
      (s, dir) => {
        sharedWindowedRun(s, dir, "sliding")(slidingAgg)
          .select(col("window.start").as("window_start"), col("n_events"), col("avg_value"))
          .orderBy("window_start")
      },
      // batch twin: each event belongs to the 4 slide-aligned windows
      // ending after it; time_bucket(15 min) is epoch-aligned like
      // Spark's window()
      Some(s"""SELECT time_bucket(INTERVAL '15 minutes', ts)
              |         - k.k * INTERVAL '15 minutes' AS window_start,
              |  COUNT(*) AS n_events,
              |  ${dsumSql("value")} / COUNT(*) AS avg_value
              |FROM events
              |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
              |GROUP BY 1 ORDER BY window_start""".stripMargin)),

    // ---- 30-min-gap session windows per user -------------------------
    QueryDef("s_session",
      (s, dir) => {
        sharedWindowedRun(s, dir, "session", stateParts = 2)(sessionAgg)
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      // batch twin: gaps-and-islands; a new session starts when the gap
      // is >= 30 min (session windows are half-open [start, last+gap))
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |y AS (SELECT user_id, ts,
             |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |          ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, MIN(ts) AS session_start,
             |  MAX(ts) + INTERVAL '30 minutes' AS session_end,
             |  COUNT(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- tumbling counts, the append-mode emission view ----------------
    // Declared semantics: the windows an append-mode run of the SAME
    // aggregation emits — each window exactly once, only after the
    // watermark passes its end, so windows still open at the final
    // watermark (max ts − 10 min) are absent; the oracle applies the
    // same cut. Served as the watermark cut of the shared tumbling run
    // (see sharedWindowedRun: for a bounded input the cut of the
    // complete result IS the append-emitted set — max ts carries a µs
    // offset at every sf, so the cut never lands exactly on an hour
    // boundary and the <= boundary is unambiguous; spec-enforced over
    // every sf dir by StreamingAppendSpec's boundary test). The
    // append/file-sink MACHINERY itself is exercised by the six
    // append-mode entries below.
    QueryDef("s_tumbling_append",
      (s, dir) => {
        watermarkCut(s, dir, sharedWindowedRun(s, dir, "tumbling")(tumblingAgg))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n_events"), col("sum_value"))
          .orderBy("window_start", "event_type")
      },
      Some(s"""WITH w AS (
              |  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type, value
              |  FROM events)
              |SELECT window_start, event_type,
              |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
              |FROM w
              |WHERE window_start + INTERVAL '1 hour'
              |        <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
              |GROUP BY window_start, event_type
              |ORDER BY window_start, event_type""".stripMargin)),

    // ---- sliding average, the append-mode emission view ----------------
    // Append twin of s_sliding_value, same watermark-cut semantics: a
    // slide-aligned window (end = start + 1h, both on the 15-min grid)
    // is emitted iff its end is at or before the final watermark.
    // Served as the cut of the shared sliding run (sharedWindowedRun).
    QueryDef("s_sliding_append",
      (s, dir) => {
        watermarkCut(s, dir, sharedWindowedRun(s, dir, "sliding")(slidingAgg))
          .select(col("window.start").as("window_start"), col("n_events"),
            col("avg_value"))
          .orderBy("window_start")
      },
      Some(s"""WITH w AS (
              |  SELECT time_bucket(INTERVAL '15 minutes', ts)
              |           - k.k * INTERVAL '15 minutes' AS window_start,
              |         value
              |  FROM events
              |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k)
              |SELECT window_start, COUNT(*) AS n_events,
              |  ${dsumSql("value")} / COUNT(*) AS avg_value
              |FROM w
              |WHERE window_start + INTERVAL '1 hour'
              |        <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
              |GROUP BY window_start ORDER BY window_start""".stripMargin)),

    // ---- session windows, the append-mode emission view ----------------
    // Declared semantics: the sessions an append-mode run of the SAME
    // aggregation emits — each exactly once when the watermark closes
    // it, so sessions still open at the final watermark (max ts −
    // 10 min) are absent; the oracle's batch twin applies the same
    // HAVING cut. Served as the watermark cut of the shared session
    // run (a session [start, end) is final iff wm ≥ end: any
    // admissible event has ts ≥ wm ≥ end and cannot merge into it —
    // the same bounded-input equivalence as the tumbling/sliding
    // twins; no session ends exactly AT the cut in any sf, so the <=
    // boundary is unambiguous — spec-enforced over every sf dir by
    // StreamingAppendSpec's boundary test). Append-mode session EMISSION
    // stays empirically pinned by StreamingAppendSpec's real
    // file-sink run per test, and the append/file-sink machinery by
    // the five append entries below.
    QueryDef("s_session_append",
      (s, dir) => {
        watermarkCut(s, dir,
          sharedWindowedRun(s, dir, "session", stateParts = 2)(sessionAgg),
          endCol = "session_window.end")
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |y AS (SELECT user_id, ts,
             |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |          ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, MIN(ts) AS session_start,
             |  MAX(ts) + INTERVAL '30 minutes' AS session_end,
             |  COUNT(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |HAVING MAX(ts) + INTERVAL '30 minutes'
             |         <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- stream-stream interval join ---------------------------------
    // Two live streams (signups, purchases of the same user) joined on a
    // time-range condition; the watermarks bound both sides' join state,
    // which is what makes this viable on unbounded streams. Append mode:
    // inner-join matches emit as soon as both rows are in state.
    QueryDef("s_stream_join",
      (s, dir) => {
        val base = streamEvents(s, dir)
        val signups = base.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts").as("signup_ts"),
            col("event_id").as("signup_id"))
          .withWatermark("signup_ts", "10 minutes")
        val purchases = base.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("purchase_ts", "10 minutes")
        val joined = signups.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("signup_ts") &&
            col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 30 MINUTES"))
        // append mode: inner stream-stream joins emit complete results for
        // a bounded input (unlike windowed aggs, which need complete mode)
        // inner-join matches emit in the batch that completes them — the
        // trailing no-data batch only evicts state (an OUTER join's
        // null-extended rows WOULD need it)
        runToBatch(s, joined, "s_stream_join", mode = "append", stateParts = 2,
          appendNeedsNoDataBatch = false)
          .select("user_id", "signup_id", "purchase_id", "signup_ts", "purchase_ts")
          .orderBy("user_id", "signup_id", "purchase_id")
      },
      Some("""SELECT a.user_id AS user_id, a.event_id AS signup_id,
             |       b.event_id AS purchase_id,
             |       a.ts AS signup_ts, b.ts AS purchase_ts
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'signup' AND b.event_type = 'purchase'
             | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
             |ORDER BY a.user_id, signup_id, purchase_id""".stripMargin)),

    // ---- streaming exact dedup ----------------------------------------
    // dropDuplicates on a stream: the first arrival of each key emits,
    // later duplicates are swallowed against the state store — the
    // standard exactly-once event-dedup stage of an ingest pipeline.
    // Only the KEY columns are output: which physical row arrives first
    // is partition-order-dependent (non-deterministic), but the key SET
    // equals batch DISTINCT, which is the oracle. Unbounded state here;
    // production bounds it with dropDuplicatesWithinWatermark (pinned in
    // StreamingDedupSpec) — semantics then depend on arrival time, which
    // an oracle over sorted parquet can't replay.
    QueryDef("s_dedup_keys",
      (s, dir) => {
        val keys = streamEvents(s, dir)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
        // first arrival of each key emits immediately; the no-data batch
        // adds nothing for dedup
        runToBatch(s, keys, "s_dedup_keys", mode = "append",
          appendNeedsNoDataBatch = false)
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // ---- custom state: per-user event counter ------------------------
    // flatMapGroupsWithState with an explicit GroupState — the escape
    // hatch for state machines windowed aggs can't express. With one
    // input batch the final state equals the batch group-by, which is
    // the oracle.
    QueryDef("s_stateful_counts",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val agg = streamEvents(s, dir)
          .select(col("user_id"), col("event_type"))
          .as[(Long, String)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[Long, (Long, Long)](
            OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (uid: Long, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
              val n = state.getOption.getOrElse(0L) + rows.size
              state.update(n)
              Iterator((uid, n))
          }
          .toDF("user_id", "n_events")
        // the update-mode memory sink appends one row per (user, batch);
        // counts are monotone per user, so max = final state even if the
        // source ever splits into multiple micro-batches
        runToBatch(s, agg, "s_stateful_counts", mode = "update",
          stateParts = 2)
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n_events
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- streaming cardinality sketch (HLL++ in a windowed agg) --------
    // The 100 TB streaming-cardinality shape (r3 verdict missing-item 3:
    // every sketch entry was batch-only): approx_count_distinct —
    // constant-size mergeable HLL++ state per open window — inside a
    // watermarked tumbling aggregation, append mode, file sink. Exact
    // COUNT(DISTINCT) is unsupported in streaming aggs precisely because
    // its state is unbounded; the sketch is the production answer. The
    // gate row is fully oracle-checked: each emitted window is joined
    // against the BATCH exact distinct count for the same window (gate
    // instrumentation, not part of the streaming path) and the declared
    // output is (exact count, est_ok) where est_ok pins the sketch
    // estimate within max(3, 5%) of exact — DuckDB reproduces the exact
    // side and TRUE, so estimate drift is a hash failure, like
    // q_heavy_hitters' exact regime. The absolute floor exists because
    // Spark's HLL++ has no sparse mode: tiny windows (n≈8) see ±1-2
    // register-bias error, which 5% alone would flag. StreamingSketchSpec
    // additionally pins streaming == batch sketch EQUALITY (HLL++ merge
    // is order-independent).
    QueryDef("s_approx_users",
      (s, dir) => {
        val agg = streamEvents(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        val streamed = runToFileSink(s, agg, "s_approx_users")
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n_approx"))
        val exact = events(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n_users"))
        streamed.join(exact, Seq("window_start", "event_type"))
          .select(col("window_start"), col("event_type"), col("n_users"),
            (abs(col("n_approx") - col("n_users"))
              <= greatest(lit(3.0), col("n_users") * lit(0.05))).as("est_ok"))
          .orderBy("window_start", "event_type")
      },
      Some("""WITH w AS (
             |  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type, user_id
             |  FROM events)
             |SELECT window_start, event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |  TRUE AS est_ok
             |FROM w
             |WHERE window_start + INTERVAL '1 hour'
             |        <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
             |GROUP BY window_start, event_type
             |ORDER BY window_start, event_type""".stripMargin)),

    // ---- streaming heavy hitters (SpaceSaving in a windowed agg) -------
    // The streaming top-talkers shape: the mergeable SpaceSaving
    // aggregator (graft.functions.HeavyHittersAgg) runs INSIDE a
    // watermarked tumbling aggregation — constant-size state per open
    // window where exact per-user counts would hold the full key set,
    // the same argument as s_approx_users' HLL. Append mode + file
    // sink; the per-window top-3 is batch post-processing of the
    // emitted sketches. The gate runs the exact regime (capacity 2048 ≥
    // per-window distinct users ⇒ floor 0 ⇒ every estimate exact,
    // order- and merge-tree-independent), so the DuckDB oracle computes
    // the identical ranking from plain counts; ranks compare the user
    // id AS A NUMBER on both sides (the sketch keys are strings — a
    // string tie-order would diverge from the oracle's integers).
    QueryDef("s_heavy_hitters",
      (s, dir) => {
        val agg = streamEvents(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(graft.functions.HeavyHittersAgg.heavyHitters(2048)(
            col("user_id").cast("string")).as("hh"))
        val w = Window.partitionBy("window_start")
          .orderBy(col("n_events").desc, col("user_id"))
        runToFileSink(s, agg, "s_heavy_hitters")
          .select(col("window.start").as("window_start"),
            explode(col("hh")).as(Seq("uid", "n_events")))
          .select(col("window_start"), col("uid").cast("long").as("user_id"),
            col("n_events"))
          .withColumn("rk", row_number().over(w).cast("int"))
          .filter(col("rk") <= 3)
          .orderBy("window_start", "rk")
      },
      Some("""WITH w AS (SELECT DATE_TRUNC('hour', ts) AS window_start,
             |             user_id
             |           FROM events),
             |c AS (SELECT window_start, user_id,
             |        CAST(COUNT(*) AS BIGINT) AS n_events
             |      FROM w
             |      WHERE window_start + INTERVAL '1 hour'
             |              <= (SELECT MAX(ts) - INTERVAL '10 minutes'
             |                  FROM events)
             |      GROUP BY 1, 2),
             |r AS (SELECT window_start, user_id, n_events,
             |        ROW_NUMBER() OVER (PARTITION BY window_start
             |          ORDER BY n_events DESC, user_id) AS rk
             |      FROM c)
             |SELECT window_start, user_id, n_events,
             |  CAST(rk AS INTEGER) AS rk
             |FROM r WHERE rk <= 3
             |ORDER BY window_start, rk""".stripMargin)),

    // ---- streaming incremental near-dup dedup (ingest-time) -----------
    // q_incr_dedup's ingestion shape made ONLINE: fresh documents arrive
    // on a stream and are checked against the static existing corpus as
    // they land — the dedup-at-ingest design that avoids ever
    // re-scanning the corpus for a new batch. Every stage is
    // append-safe: the MinHash signature is computed PER ROW with array
    // HOFs (no streaming aggregation — a groupBy-based signature could
    // never emit in append mode), the band join and the exact-Jaccard
    // verify are stateless stream-static equi-joins, and the only state
    // is dropDuplicates on candidate pairs (bounded by the candidate
    // set; at 100 TB a watermark on ingest time bounds it by window,
    // same note as s_dedup_keys). Emitted through the append file sink.
    // Declared semantics — exact cross-set Jaccard > 0.5 — are
    // identical to q_incr_dedup, so the two share an oracle: the
    // streaming and batch implementations are pinned to each other.
    QueryDef("s_incr_dedup",
      (s, dir) => {
        graft.functions.Shingles.register(s)
        val shingles = (df: DataFrame) => df
          .withColumn("toks", split(col("text"), " "))
          .withColumn("sh", graft.functions.Shingles.of(col("toks"), 3))
        // per-row 32-permutation MinHash (perm k: h -> xxhash64(h, k))
        // via the one-pass codegen MinHashSig kernel (32 interpreted
        // transform+array_min rounds otherwise), banded 16x2 — band
        // values need only agree between the two sides, both of which
        // run THIS function
        graft.functions.MinHashSig.register(s)
        val banded = (df: DataFrame) => {
          graft.functions.HashArray.register(s)
          val sig = df.withColumn("sig", graft.functions.MinHashSig.sig(
            graft.functions.HashArray.arrayHash(col("sh"))))
          val bandCols = (0 until 16).map { b =>
            struct(lit(b).as("band"),
              xxhash64(element_at(col("sig"), 2 * b + 1),
                element_at(col("sig"), 2 * b + 2)).as("bv"))
          }
          sig.select(col("doc_id"), col("sh"),
            explode(array(bandCols: _*)).as("bb"))
            .select(col("doc_id"), col("sh"),
              col("bb.band").as("band"), col("bb.bv").as("bv"))
        }
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val fresh = banded(shingles(
          s.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
            .filter(col("doc_id") % 10 === 0)))
          .select(col("doc_id").as("new_id"), col("sh").as("sa"),
            col("band"), col("bv"))
        // the static corpus INDEX (bands + shingles) is built once per
        // corpus content and persisted — the production shape: ingest
        // streams join a precomputed read-only index, they do not
        // re-shingle the corpus per batch. Content-stamped like
        // SourceOps.roundTripDir so a testdata regen rebuilds it.
        // md5 dirTag, not dir.hashCode (r18 ADVICE): a 32-bit tag
        // collision shared this prefix between two corpora, so one's
        // post-publish sweep deleted the other's index. incr_idx2 =
        // the tag-layout bump; old generation swept once per JVM.
        graft.sources.ManifestStore.sweepLegacyPrefixes(
          Seq("graft_incr_idx_"))
        val tag = graft.sources.ManifestStore.dirTag(dir)
        // shared stamped-artifact protocol (round 8): the two-part index
        // (bands + shingles) publishes in ONE atomic rename — the old
        // bare exists(idx) check could serve a half-built index forever
        // if a build died between the two writes. Marker = the
        // LAST-written component's _SUCCESS.
        val idx = Q.ensureStamped(s"graft_incr_idx2_${tag}_",
          Q.contentStamp(dir, "documents"),
          marker = "sh/_SUCCESS") { staging =>
          val corpus = shingles(
            rd(s, dir, "documents").filter(col("doc_id") % 10 =!= 0))
          banded(corpus)
            .select(col("doc_id").as("old_id"), col("band"), col("bv"))
            .write.mode("overwrite").parquet(s"$staging/bands")
          corpus.select(col("doc_id").as("old_id"), col("sh").as("sb"))
            .write.mode("overwrite").parquet(s"$staging/sh")
        }
        val corpusBands = s.read.parquet(s"$idx/bands")
        val corpusSh = s.read.parquet(s"$idx/sh")
        val verified = fresh.join(corpusBands, Seq("band", "bv"))
          .dropDuplicates("new_id", "old_id")
          .join(corpusSh, "old_id")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("jaccard") > 0.5)
          .select(col("new_id"), col("old_id"),
            round(col("jaccard"), 4).as("jaccard"))
        runToFileSink(s, verified, "s_incr_dedup")
          .orderBy("new_id", "old_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             |             FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
             |        len(list_intersect(a.s, b.s)) AS i,
             |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
             |      FROM sh a JOIN sh b
             |        ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
             |SELECT new_id, old_id, ROUND(CAST(i AS DOUBLE) / u, 4) AS jaccard
             |FROM p WHERE CAST(i AS DOUBLE) / u > 0.5
             |ORDER BY new_id, old_id""".stripMargin)),

    // ---- streaming semantic decontamination (ingest-time) --------------
    // q_semantic_decon made ONLINE, the same batch→stream promotion as
    // s_incr_dedup: fresh embeddings arrive on a stream (vec_id % 10 =
    // 0, excluding the eval slice) and are scored at ingest against the
    // broadcast held-out eval set. Entirely STATELESS — a stream-static
    // broadcast join plus a map-side cosine and threshold filter, so
    // append mode emits every flagged pair exactly once with zero state
    // store; at 100 TB/day the cost is one codegen cosine per
    // (arrival × eval vector), embarrassingly parallel. Emits the flat
    // (vec_id, eval_id) pair stream (the per-vector aggregate is batch
    // post-processing downstream); shares declared semantics with the
    // batch twin so the oracle pins the two implementations to each
    // other through the same IEEE cosine replay.
    QueryDef("s_semantic_decon",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
        val fresh = s.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(col("vec_id") % 10 === 0 && col("vec_id") % 100 =!= 0)
        val eval_ = s.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("eval_id"), col("embedding").as("pe"))
        val flagged = fresh.crossJoin(broadcast(eval_))
          .withColumn("cos",
            graft.functions.VectorFunctions.vecCosine(col("embedding"), col("pe")))
          .filter(col("cos") > 0.25)
          .select(col("vec_id"), col("eval_id"), round(col("cos"), 4).as("cosine"))
        runToFileSink(s, flagged, "s_semantic_decon")
          .orderBy("vec_id", "eval_id")
      },
      Some("""WITH ev AS (SELECT vec_id AS eval_id, embedding AS pe
             |            FROM embeddings WHERE vec_id % 100 = 0),
             |s AS (SELECT e.vec_id, ev.eval_id,
             |  list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
             |                   list_transform(pe, x -> CAST(x AS DOUBLE)))
             |  / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
             |                           list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
             |     * sqrt(list_dot_product(list_transform(pe, x -> CAST(x AS DOUBLE)),
             |                             list_transform(pe, x -> CAST(x AS DOUBLE)))))
             |    AS cos
             |  FROM embeddings e, ev
             |  WHERE e.vec_id % 10 = 0 AND e.vec_id % 100 <> 0)
             |SELECT vec_id, eval_id, ROUND(cos, 4) AS cosine
             |FROM s WHERE cos > 0.25
             |ORDER BY vec_id, eval_id""".stripMargin)),

    // ---- streaming CDC apply (incremental last-writer-wins merge) ------
    // The change-data-capture ingestion shape: a stream of keyed change
    // events applied incrementally to a materialized table via
    // foreachBatch MERGE — here last-writer-wins by (ts, event_id) per
    // user, with 'error' events acting as tombstones (key deleted from
    // the final view). The feed is staged as four time-ranged files
    // (content-stamped, rebuilt only when the source changes) and
    // consumed with maxFilesPerTrigger=1, so the merge genuinely runs
    // once per microbatch against the previous state version — the
    // snapshot-versioned convention q_snapshot_* reads. LWW is
    // commutative/associative/idempotent, so the result is independent
    // of how the feed is batched — the property that makes CDC apply
    // safe under replays and out-of-order delivery. State carries one
    // row per live key; at 100 TB the per-batch merge is a MERGE INTO
    // a table format keyed on user_id, and file-level min/max pruning
    // limits the rewrite to touched files.
    QueryDef("s_cdc_apply",
      (s, dir) => if (events(s, dir).take(1).isEmpty) {
        // empty change feed: the materialized view is empty — return
        // the declared shape without spinning up a streaming query
        // (an all-empty staged dir would otherwise fail schema
        // inference and emit no state version). The take(1) guard is a
        // limit-1 scan, negligible beside the stream start.
        events(s, dir).filter(lit(false))
          .select(col("user_id"), col("ts").as("last_ts"),
            col("event_type").as("last_type"), col("value").as("last_value"))
      } else {
        // "f2": feed layout version — bumped when the staged schema
        // changes (f2 = ts normalized to TimestampType) so a stale stage
        // from an older code version is never reused. Shared
        // stamped-artifact protocol: staged per-process, published by
        // one atomic rename, stale stamps swept — a concurrent driver
        // can never consume a half-staged feed.
        val feedDir = Q.ensureStamped("graft_cdc_feed_f2_",
          Q.contentStamp(dir, "events")) { staging =>
          events(s, dir)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .repartitionByRange(4, col("ts"))
            .write.mode("overwrite").parquet(staging.toString)
        }
        val schema = s.read.parquet(feedDir.toString).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feedDir.toString)
        val lww = (df: DataFrame) => df
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("w"))
          .select(col("user_id"), col("w.ts").as("ts"),
            col("w.event_id").as("event_id"),
            col("w.event_type").as("event_type"), col("w.value").as("value"))
        val base = streamTmpDir("s_cdc_apply")
        @volatile var cur: Option[String] = None
        def applyBatch(b: DataFrame, id: Long): Unit = {
          // r21: ONE aggregation per merge, `lww(prev ∪ batch)` — the
          // former `lww(prev ∪ lww(batch))` pre-reduced the batch
          // through its own exchange first, but LWW is an associative
          // max-of-struct, so the outer agg's map-side partial_max
          // already performs that per-key reduction before anything
          // shuffles, at any scale. One exchange per microbatch
          // instead of two; results identical (max is associative —
          // an interleaved A/B (OPTIMIZATION_r21.md) asserted the final
          // state byte-equal, min 1.981 → 1.751 s over 8 interleaved reps;
          // oracle re-pinned).
          val merged = cur match {
            case Some(prev) => lww(s.read.parquet(prev).unionByName(b))
            case None       => lww(b)
          }
          // one state file per version: the merged view is key-count
          // sized, and each microbatch's merge re-reads the previous
          // version — 32 shuffle-width shards would mean 32 tiny files
          // written and listed per batch, four times over
          val out = base.resolve(s"state_v$id").toString
          merged.coalesce(1).write.mode("overwrite").parquet(out)
          cur = Some(out)
        }
        // the merge jobs inside foreachBatch read the session's shuffle
        // width at job time: size it to the keyed state like every other
        // streaming entry, not to the 32-way batch default
        withStatePartitions(s, 2) {
          val q = stream.writeStream
            .option("checkpointLocation", base.resolve("chk").toString)
            .foreachBatch(applyBatch _)
            .start()
          try { try q.processAllAvailable() finally q.stop() }
          finally { deleteRec(base.resolve("chk")); cleanupOnExit(base) }
        }
        s.read.parquet(cur.getOrElse(
          sys.error("cdc apply emitted no state version")))
          .filter(col("event_type") =!= "error")
          .select(col("user_id"), col("ts").as("last_ts"),
            col("event_type").as("last_type"), col("value").as("last_value"))
          .orderBy("user_id")
      },
      Some("""WITH r AS (
             |  SELECT user_id, ts, event_type, value,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id, ts AS last_ts, event_type AS last_type,
             |  value AS last_value
             |FROM r WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY user_id""".stripMargin)),

    // ---- late-arrival drop accounting ----------------------------------
    // The watermark semantic the other append-mode entries DON'T
    // exercise: rows arriving for windows whose state was already
    // finalized are DROPPED, not aggregated. Spark's append-mode drop
    // is eviction-based and eviction lags the data max by one batch
    // (probed empirically: a 2-batch feed drops nothing — batch 0 runs
    // at watermark 0 so nothing evicts, and batch 1's late rows happily
    // re-create state), so the feed stages THREE event-time-ranged
    // files — newest half, second quarter, oldest quarter, in that
    // processing order via explicit modification times — consumed
    // maxFilesPerTrigger=1: batch 0 advances the watermark to
    // (global max − 10 min), batch 1's end-of-batch eviction finalizes
    // every closed window, and batch 2's oldest-quarter rows then land
    // on evicted state and are dropped (numRowsDroppedByWatermark > 0,
    // spec-pinned). Emitted windows therefore come from files 0+1
    // alone — exactly what the oracle recomputes from the raw table
    // (quartile split + watermark cut), so a batching regression (wrong
    // order, merged batches, no drop) hash-fails the gate rather than
    // passing silently. At scale this is the quantified answer to
    // "what does this watermark cost in dropped data" — the number a
    // pipeline alarms on.
    QueryDef("s_late_data",
      (s, dir) => {
        import java.nio.file.{Files, Paths}
        val stamp = Q.contentStamp(dir, "events")
        val feedDir = Paths.get(System.getProperty("java.io.tmpdir"),
          s"graft_late_feed_f2_$stamp")
        val staged: Boolean = Files.exists(feedDir.resolve("_STAGED")) || {
          // build the whole feed in a per-process staging dir and
          // publish by atomic rename (Q.publishDirAtomic doc): a
          // concurrent driver either sees the complete published feed
          // or none at all. The explicit mtimes (= microbatch order)
          // survive the rename. Stale stamps are swept.
          Q.sweepStaleSiblings("graft_late_feed_f2_", feedDir)
          val stagingDir = Q.stagingFor(feedDir)
          deleteRec(stagingDir)
          Files.createDirectories(stagingDir)
          val ev = events(s, dir)
          val r = ev.agg(expr("min(unix_micros(ts))"),
            expr("max(unix_micros(ts))")).head()
          // empty corpus: no feed to stage, no windows to emit — fall
          // through to the empty result below, never NPE on null min/max
          if (r.isNullAt(0)) { deleteRec(stagingDir); false }
          else {
            val (mn, mx) = (r.getLong(0), r.getLong(1))
            // floor quartile boundaries of the µs range — positive
            // operands, so Long division matches the oracle's // floor
            val q1 = mn + (mx - mn) / 4
            val q2 = mn + (mx - mn) / 2
            def stage(cond: String, name: String, mtime: Long): Unit = {
              val tmp = stagingDir.resolve(s"stage_$name")
              ev.filter(expr(cond)).coalesce(1).write.mode("overwrite")
                .parquet(tmp.toString)
              val part = {
                val st = Files.list(tmp)
                try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
                  .findFirst().get()
                finally st.close()
              }
              val dst = stagingDir.resolve(name)
              Files.move(part, dst)
              dst.toFile.setLastModified(mtime)
              deleteRec(tmp)
            }
            // processing order = ascending modification time
            stage(s"unix_micros(ts) >= ${q2}L", "00_newest.parquet", 1000000L)
            stage(s"unix_micros(ts) >= ${q1}L AND unix_micros(ts) < ${q2}L",
              "01_mid.parquet", 2000000L)
            stage(s"unix_micros(ts) < ${q1}L", "02_old.parquet", 3000000L)
            Files.createFile(stagingDir.resolve("_STAGED"))
            Q.publishDirAtomic(stagingDir, feedDir)
            Files.exists(feedDir.resolve("_STAGED"))
          }
        }
        if (!staged) {
          events(s, dir).filter(lit(false))
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"))
        } else {
          val schema = s.read.parquet(feedDir.resolve("00_newest.parquet").toString).schema
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(feedDir.toString)
          val agg = stream.withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"))
          // the whole point of this entry is that late rows get DROPPED;
          // the hash gate pins the emitted window set, and this asserts
          // the drop counter directly so a Spark upgrade that shifts the
          // version-specific eviction timing (see the Scaladoc above and
          // SCALING.md) fails HERE with a diagnosis, not as a bare hash
          // mismatch
          runToFileSink(s, agg, "s_late_data", q => {
            val dropped = q.recentProgress.toSeq
              .flatMap(_.stateOperators.toSeq)
              .map(_.numRowsDroppedByWatermark).sum
            require(dropped > 0,
              "s_late_data: staged 3-batch feed produced no " +
                "numRowsDroppedByWatermark — Spark's append-mode " +
                "eviction timing may have changed (SCALING.md note)")
          })
            .orderBy("window_start", "event_type")
        }
      },
      Some("""WITH b AS (
             |  SELECT make_timestamp(epoch_us(MIN(ts))
             |      + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 4) AS q1,
             |    MAX(ts) AS mx
             |  FROM events),
             |w AS (
             |  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type
             |  FROM events, b WHERE ts >= b.q1)
             |SELECT window_start, event_type, COUNT(*) AS n_events
             |FROM w, b
             |WHERE window_start + INTERVAL '1 hour' <= b.mx - INTERVAL '10 minutes'
             |GROUP BY window_start, event_type
             |ORDER BY window_start, event_type""".stripMargin))
  )
}
