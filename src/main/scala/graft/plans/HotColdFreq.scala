package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-wide frequency of a power-law key, attached to every row,
 * scale-safe under Zipf skew.
 *
 * The single-scan alternative — `sum(w) over (Window.partitionBy(key))`
 * — is the plan-minimal shape (one scan, one exchange) but a window
 * never partial-aggregates: every occurrence row of a hot key ("the",
 * "of the", a boilerplate 30-gram) lands in ONE WindowExec task, which
 * buffers and sorts the whole partition. At lake scale that task holds
 * ~n_docs rows and serializes the stage on one straggler.
 * `ZIPFPROBE_r*.json` record the knee; this helper is the routed shape
 * that removes it:
 *
 *  1. `freq = stream.groupBy(key).agg(sum(weight))` — a hash aggregate
 *     PARTIAL-combines map-side, so a hot key contributes one row per
 *     map task and the freq exchange is skew-immune. The frame is
 *     PERSISTED by default: without it AQE's runtime stage reuse DOES
 *     unify the hot/cold branches' shuffle (1 corpus scan + a
 *     ReusedExchange — the truthful post-finalization PlanAudit
 *     reading; an earlier 4-scan reading was a counter artifact, see
 *     PlanAudit.executedScans), but each consumer still re-runs the
 *     final aggregation over the reused map output, and the
 *     three-arm interleave (`ZIPFPROBE_r15_3arm.json`) read persist at
 *     2.9–3.6 s vs no-persist 4.5–5.5 s on the planted 110× corpus
 *     (every rep, both corpora) — materializing the
 *     distinct-keys-sized frame (8+8 bytes per key, MEMORY_AND_DISK,
 *     never corpus-sized) once beats re-aggregating it per consumer.
 *     `persistFreq = false` (or SPARK_GRAFT_HOT_PERSIST=0) keeps the
 *     stage-reuse shape for callers whose key space is too large to
 *     cache. The q_corpus_pipeline precedent: builders cache frames
 *     that multiple branches reference; the harness clears caches
 *     between entries.
 *  2. Keys with `freq >= hotMin` broadcast (bounded: at most
 *     total_weight / hotMin rows) and join map-side — hot occurrence
 *     rows NEVER shuffle by key.
 *  3. The cold tail shuffle-joins on the key; every hot row's join key
 *     is scattered to a deterministic per-row sentinel
 *     (`pmod(xxhash64(scatter), ways)` cast to the key type) so no
 *     reduce task inherits a hot partition. A sentinel that collides
 *     with a real cold key is harmless: the row already carries its
 *     broadcast frequency and the final coalesce prefers it, and the
 *     cold side has exactly one row per key so the join never
 *     multiplies.
 *
 * Cost: two corpus scans (freq + probe) and one skew-BOUNDED stream
 * exchange, vs the window's one scan and one skew-UNBOUNDED exchange.
 * `hotMin` is the declared knob: "route a key around the exchange when
 * its corpus mass alone exceeds a healthy reduce task's row budget".
 * Results are exact — routing changes where each frequency is computed,
 * never its value.
 *
 * FREQ SOURCING BY KEY-SPACE REGIME (`FREQPROBE_r16*.json` —
 * 6 GiB heap standing in for a cluster's per-executor storage budget):
 *
 *  - key space FITS the storage budget → PERSIST (the default here).
 *    Measured cache cost is ~9 B/key as compressed columnar (120M
 *    distinct keys cached at 1.08 GB, zero disk), far under the raw
 *    16 B/key estimate; the r15 three-arm probe holds in this regime
 *    (persist ≥ stage-reuse at every K in `FREQPROBE_r16.json`).
 *  - key space EXCEEDS the budget → neither in-memory shape merely
 *    "spills pathologically"; BOTH die. At 400M stream rows / 360M
 *    distinct keys under the 6 GiB heap the persist arm OOMs the JVM
 *    inside the cache build, and stage-reuse OOMs too — each consumer
 *    re-runs the final 360M-key hash aggregation over the reused map
 *    output, so the rebuild is itself storage-scale. The surviving
 *    shape is [[freqTable]]: write freq ONCE to a parquet table
 *    bucketed+sorted on the key, and serve every consumer from the
 *    scan — the join streams the pre-bucketed, pre-sorted freq side
 *    with no exchange, no sort, and no corpus-sized hash map held
 *    anywhere. Same point, same heap: 105 s end-to-end INCLUDING the
 *    one-time write, checksum-identical (`FREQPROBE_r16_360m_table
 *    .json`).
 *
 * Rule of thumb: distinct keys × ~9 B vs the executor storage pool —
 * within it, `withFreq`; anywhere near or past it, `freqTable` +
 * [[attachFreq]]. A ~10^10-key distinct-bigram space at lake scale
 * (~90 GB cached) is firmly in the table regime.
 */
object HotColdFreq {
  /** Default hot threshold: a key whose corpus mass exceeds ~2M rows
   * would dominate a reduce task on its own; below it, shuffling the
   * occurrences is safe. Env-overridable for probes. Parsed per call
   * (a `def`, not an eager `val`): an eager parse would turn a
   * malformed env var into an opaque ExceptionInInitializerError on
   * FIRST touch of the object — even for callers passing hotMin
   * explicitly, who should never pay for a bad default. */
  def DefaultHotMin: Long =
    sys.env.get("SPARK_GRAFT_HOT_MIN").map(_.toLong).getOrElse(2000000L)

  /** Whether withFreq persists its freq frame by default — decided by
   * the three-arm interleave of `ZIPFPROBE_r15_3arm.json` (see
   * scaladoc item 1).
   * Only "0"/"1" are accepted: a lenient parse would read
   * SPARK_GRAFT_HOT_PERSIST=true as DISABLE (the inversion footgun).
   * A `def` for the same initializer-error reason as [[DefaultHotMin]]. */
  def PersistFreqDefault: Boolean =
    sys.env.get("SPARK_GRAFT_HOT_PERSIST") match {
      case None | Some("1") => true
      case Some("0")        => false
      case Some(other) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_HOT_PERSIST must be 0 or 1, got '$other'")
    }

  /** Adds `freqName` = total `weight` of `keyCol` across `stream`.
   *
   * Contract: rows with a NULL key get a NULL frequency (they never
   * match either join side) — the window formulation would instead
   * count the null partition. The gate entries' keys are non-null by
   * construction (xxhash64 outputs, split tokens); callers with
   * nullable keys must decide their null semantics first. Keys whose
   * weights NET TO ZERO likewise get a NULL frequency — zero mass is
   * "absent", and every sourcing agrees (this freq frame, freqTable,
   * freqTableRefresh all drop zero-sum keys), so switching sourcing
   * per the regime rule can never change a value (r17 second-review
   * finding: the build-side filter alone broke that equivalence).
   * Null keys store no mass in ANY sourcing: an equi-join can never
   * serve a null-key row to a consumer, and the refresh merge's
   * full-outer equi-join could never unify null-key segments — all
   * three builders filter null keys before aggregating.
   *
   * LIFECYCLE: when `persistFreq` is true the freq frame stays cached
   * until somebody unpersists it. The gate harness clears caches
   * between entries, so `withFreq` is the right call there; any other
   * caller (a loop over corpora, a long-lived session) must either use
   * [[withFreqLoan]] (unpersists when the callback returns) or
   * [[withFreqHandle]] (returns the persisted frame to drain) —
   * otherwise each call accumulates a MEMORY_AND_DISK entry that only
   * a session-wide clearCache() evicts.
   *
   * @param scatter deterministic per-row column (e.g. doc_id) used to
   *                spread hot rows' sentinel join keys; never randomness
   *                (plans must be replay-stable). Must be NON-NULL on
   *                rows whose key is hot: a null hashes to the seed
   *                constant, re-concentrating those rows. Defensively,
   *                a null scatter falls back to hashing the key itself —
   *                correct, but it collapses that key's null-scatter
   *                rows onto one sentinel (per-key concentration, still
   *                strictly better than the all-keys-one-sentinel
   *                collapse the raw hash would give).
   */
  def withFreq(stream: DataFrame, keyCol: String, freqName: String,
               weight: Column, scatter: Column,
               hotMin: Long = DefaultHotMin, ways: Int = 0,
               persistFreq: Boolean = PersistFreqDefault): DataFrame =
    withFreqHandle(stream, keyCol, freqName, weight, scatter,
      hotMin, ways, persistFreq)._1

  /** [[withFreq]] that hands the caller the persisted freq frame (None
   * when `persistFreq` is false) so a non-harness caller can
   * `.unpersist()` it once its consumers have materialized. The loan
   * shape below is preferred when the materialization happens inside
   * one scope. */
  def withFreqHandle(stream: DataFrame, keyCol: String, freqName: String,
                     weight: Column, scatter: Column,
                     hotMin: Long = DefaultHotMin, ways: Int = 0,
                     persistFreq: Boolean = PersistFreqDefault)
      : (DataFrame, Option[DataFrame]) = {
    val freq0 = stream.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(weight).cast("long").as(freqName))
      // zero-net keys are ABSENT in every sourcing (scaladoc contract)
      .filter(col(freqName) =!= 0L)
    val freq = if (persistFreq) freq0.persist() else freq0
    // validation lives in attachFreq; if it rejects the call, the
    // just-registered (never materialized) cache entry must not leak
    val out =
      try attachFreq(stream, freq, keyCol, freqName, scatter, hotMin, ways)
      catch { case e: Throwable =>
        if (persistFreq) freq.unpersist()
        throw e
      }
    (out, if (persistFreq) Some(freq) else None)
  }

  /** The consume side of [[withFreq]]: joins a PREBUILT one-row-per-key
   * `(keyCol, freqName)` frame onto the stream via the hot/cold routed
   * shape. Split out so a freq frame sourced elsewhere — the persisted
   * build above, a stage-reuse rebuild, or a bucketed freq TABLE
   * (the third arm of `FREQPROBE_r16.json`, for key spaces too large to
   * cache) — flows through the IDENTICAL join, and arm comparisons
   * measure only the sourcing. */
  def attachFreq(stream: DataFrame, freq: DataFrame, keyCol: String,
                 freqName: String, scatter: Column,
                 hotMin: Long = DefaultHotMin, ways: Int = 0): DataFrame = {
    // sentinel-space width: each hot key's rows land in `nWays` groups
    // of ~mass/nWays rows, so a FIXED width would just re-create the
    // straggler at a bigger corpus (mass/64 of a 10^10-occurrence key
    // is still ~80x a healthy task). Auto scales with the session's
    // shuffle width — per-sentinel rows then track per-task averages
    // as the cluster grows; SPARK_GRAFT_HOT_WAYS overrides for probes.
    val nWays: Long =
      if (ways > 0) ways.toLong
      else sys.env.get("SPARK_GRAFT_HOT_WAYS").map(_.toLong)
        .filter(_ > 0) // "0" in the env means auto, same as the arg
        .getOrElse(math.max(64L,
          4L * stream.sparkSession.sessionState.conf.numShufflePartitions))
    require(nWays > 0, s"sentinel width must be positive, got $nWays")
    validate(stream, keyCol, freqName, nWays)
    val kt = stream.schema(keyCol).dataType
    // Null scatter would hash to xxhash64's seed constant — every such
    // hot row on ONE sentinel, the straggler this helper removes.
    // Fall back to the key itself (hot rows always have a non-null key:
    // null keys never match the broadcast side), degrading to per-key
    // concentration only for the null-scatter rows.
    val scatterSafe = coalesce(scatter.cast("string"), col(keyCol).cast("string"))
    val hot = broadcast(freq.filter(col(freqName) >= hotMin)
      .select(col(keyCol), col(freqName).as("__hot_f")))
    val cold = freq.filter(col(freqName) < hotMin)
      .select(col(keyCol).as("__ck"), col(freqName).as("__cold_f"))
    stream.join(hot, Seq(keyCol), "left")
      .withColumn("__ck",
        when(col("__hot_f").isNotNull,
          pmod(xxhash64(scatterSafe), lit(nWays)).cast(kt))
          .otherwise(col(keyCol)))
      .join(cold, Seq("__ck"), "left")
      .withColumn(freqName, coalesce(col("__hot_f"), col("__cold_f")))
      .drop("__hot_f", "__cold_f", "__ck")
  }

  /** The uncacheable-key-space sourcing (scaladoc regime table): builds
   * the freq frame and writes it ONCE as a parquet table bucketed and
   * sorted on the key, returning the table's DataFrame for
   * [[attachFreq]]. Bucketing must match the consumer's join
   * parallelism (default: the session's shuffle width) so the cold
   * join reads the freq side pre-bucketed — no exchange, no
   * corpus-sized hash map in any task (a merge-side SORT remains:
   * Spark does not trust a bucketed scan's per-bucket order — same
   * caveat as the refresh merge; the exchange elision is the scale
   * win). The
   * write replaces the persist as the "materialize once" step; its
   * cost is the price of surviving a key space where both in-memory
   * sourcings OOM (`FREQPROBE_r16_360m_table.json`, 360M keys / 6 GiB heap:
   * persist and stage-reuse both die, this shape finishes in 105 s
   * including the write).
   *
   * The table is OVERWRITTEN if present — the full-rebuild semantics.
   * For a corpus that changes by small deltas, [[freqTableRefresh]]
   * is the measured-in shape: `FREQREFRESH_r17.json` (110× corpus, 2%
   * append) read the full rebuild at 63–74% of an end-to-end
   * incremental refresh cycle (sig + pair + freq) on the 140M-key
   * gram stream — past the declared ~30% build criterion, and the
   * merge cut it 4.3–4.7× — while the small-key bigram shape read
   * 7–12% (there the persist regime applies anyway and overwrite is
   * fine). */
  def freqTable(stream: DataFrame, keyCol: String, freqName: String,
                weight: Column, tableName: String,
                buckets: Int = 0): DataFrame = {
    // validate BEFORE the corpus-scale aggregation + write — this
    // shape exists for multi-hour key spaces, and a key type or name
    // collision that attachFreq would reject must not cost the caller
    // the whole build plus an orphaned table (r16 review finding)
    validate(stream, keyCol, freqName, nWays = 0L)
    val spark = stream.sparkSession
    val nBuckets =
      if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions
    stream.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(sum(weight).cast("long").as(freqName))
      // freq tables never store zero-sum keys: a weight stream that
      // nets to 0 for a key means "no mass" — attachFreq serves null
      // for it, and freqTableRefresh's zero-drop then matches a
      // rebuild exactly (r17 review: an unfiltered build would keep
      // freq-0 rows the first refresh silently dropped). Null keys
      // store no mass either: no consumer can ever read a null-key
      // row (attachFreq's equi-joins never match null), and keeping
      // them would split across segments in the refresh merge (a
      // full-outer equi-join cannot unify null keys) — absent
      // everywhere is the one coherent choice.
      .filter(col(freqName) =!= 0L)
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(tableName)
    spark.table(tableName)
  }

  /** Incremental [[freqTable]] refresh: folds a DELTA occurrence
   * stream into the existing bucketed freq table without re-scanning
   * the corpus — frequency is additive, so
   * `freq(corpus ++ delta) = freq(corpus) + freq(delta)` key-wise.
   *
   * Shape: aggregate the delta (delta-sized shuffle), full-outer
   * sort-merge it against the table on the key — the table side reads
   * BUCKETED, so it pays no exchange (and no corpus-scale
   * aggregation); only the delta side is repartitioned. A table-side
   * SORT does remain: Spark trusts a bucketed scan's per-bucket order
   * only under conditions this write does not guarantee (r17 ADVICE —
   * the "no sort" half of the original claim was overstated; the
   * executed-plan pin in HotColdFreqSpec asserts exactly what holds:
   * one bucketed table scan, one delta-side exchange). Sum the two
   * frequencies and write
   * the merge back bucketed+sorted under the table's OWN bucket count
   * (inherited from the catalog, never a parameter: a mismatched
   * width would silently break the exchange-free serve property every
   * consumer relies on). Cost is one freq-table scan + delta-sized
   * work + one table write; the rebuild's corpus scan + explode +
   * corpus-wide aggregation never happens. Measured (r17,
   * 110× corpus, 140M-key gram stream, 2% delta,
   * `FREQREFRESH_r17.json`): rebuild 35–37 s vs merge 8.0–8.2 s
   * (4.3–4.7× across two windows), refresh-cycle share 66–74% →
   * 31–38%, table checksums identical every run; the remaining ~8 s
   * is the table scan + rewrite — the floor any materialized-freq
   * maintenance pays.
   *
   * Key-hash-range pruning (rebuild only buckets whose keys changed)
   * is deliberately NOT layered on: a uniformly-hashed delta touches
   * every bucket (2% of a corpus spreads its keys across all of
   * them), so pruning buys nothing exactly where this path matters;
   * the win is corpus-scan avoidance, and the whole-table merge keeps
   * one segment per bucket (no chain, no serve-time reconcile).
   *
   * Semantics: ADDITIVE deltas. Appends pass positive weights; a
   * retraction passes the removed occurrences with NEGATED weights —
   * keys whose merged frequency reaches zero are dropped, matching a
   * from-scratch rebuild exactly (and the build filters zero-sum keys
   * for the same reason). A retraction EXCEEDING the stored mass is a
   * caller error: the merge stores the negative frequency rather than
   * silently clamping it, so the corruption is visible downstream;
   * exactly-once submission discipline belongs to the caller — which
   * is what `refreshToken` provides under crash re-runs.
   *
   * DURABILITY (the swap is write-staging → drop → rename; the Spark
   * catalog has no atomic replace). Every crash window has a defined
   * re-run story:
   *  - before the staging write completes: the staging table is never
   *    registered (CTAS registers only on success); the target is
   *    intact and a re-run simply redoes the merge.
   *  - between DROP and RENAME: the target is gone but the staging
   *    holds the COMPLETE merge — the next call finds it by prefix
   *    scan (staging names are token-derived, so the crashed batch's
   *    name differs from this call's), validates it (schema,
   *    bucketing, key and freq types), finishes the swap, and then
   *    decides by token whether its own delta still needs applying:
   *    same token as the recovered merge → no-op (the crashed call
   *    was this batch); different token → a NEW batch, merged
   *    normally on the recovered table. A token-less call fails
   *    loudly AFTER completing the swap (the table is healthy, but
   *    skipping would silently lose a new delta and applying would
   *    silently double-count a re-run — the ambiguity is the
   *    caller's to resolve).
   *  - after the RENAME: the swap completed; a re-run would re-apply
   *    the delta (double-count). Pass a `refreshToken` unique to the
   *    delta (a manifest stamp, a batch id): it joins the table's
   *    applied-token HISTORY at swap time (the newest
   *    [[TokenHistorySize]] batches), and a re-run that finds its own
   *    token anywhere in that history is a no-op — so even a re-run of
   *    batch N that arrives after N+1..N+15 have committed is caught;
   *    only a re-run delayed past the history horizon is not. With an
   *    empty token this last window is the caller's to manage.
   *
   * ON A TRANSACTIONAL CATALOG (Iceberg/Delta), this whole protocol
   * collapses: the write→DROP→RENAME swap becomes ONE atomic
   * `replaceTransaction`/`REPLACE TABLE AS SELECT` commit (no crash
   * window between drop and rename, so the orphan-staging recovery
   * and post-swap sweep become dead code), and the lost-update CAS
   * below becomes the catalog's native optimistic-concurrency
   * conflict detection (the commit fails if the base snapshot moved,
   * exactly the staleness this code detects by token-history
   * comparison). The token HISTORY itself stays useful — snapshot
   * properties carry it — but only for the delayed-re-run dedup, not
   * for crash recovery. This implementation is the ceiling of what a
   * non-transactional catalog (Spark's built-in session catalog /
   * plain Hive metastore) can guarantee; port the swap to one atomic
   * commit if this library ever grows a transactional-catalog sink.
   *
   * CONCURRENCY: refreshes of one table are SINGLE-WRITER — run them
   * sequentially (one outstanding batch at a time), which any
   * manifest-driven refresh loop does naturally. The shape defends
   * against violations rather than supporting them: staging names are
   * token-derived (two batches can never DROP or clobber each other's
   * in-flight staging), and the pre-swap applied-history check fails
   * loudly when another batch committed mid-merge (both merges read
   * the same base; installing the second would silently lose the
   * first's delta). Token-less concurrent writers share one staging
   * name and an empty history — undetectable; the discipline is the
   * contract there. */
  def freqTableRefresh(delta: DataFrame, keyCol: String, freqName: String,
                       weight: Column, tableName: String,
                       refreshToken: String = ""): DataFrame = {
    val spark = delta.sparkSession
    validate(delta, keyCol, freqName, nWays = 0L)
    require(refreshToken.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || "-_.:".contains(c)),
      s"freqTableRefresh: token must be [A-Za-z0-9._:-]*, got '$refreshToken'")
    // bounded so the comma-joined 16-deep history stays under external
    // metastore property limits (Hive's PARAM_VALUE is varchar(4000);
    // a truncated token would no longer match its own re-run — the
    // exact double-apply the history exists to prevent). 128*16+15 <
    // 2.1KB. (r18 review finding)
    require(refreshToken.length <= 128,
      s"freqTableRefresh: token must be <= 128 chars, got " +
        s"${refreshToken.length}")
    val cat = spark.sessionState.catalog
    // parse, don't wrap: TableIdentifier(raw) would treat 'db.tbl' as
    // a single-part name and the SQL below would backtick the dot
    // into the identifier (r17 review finding)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val stagingIdent =
      ident.copy(table = stagingName(ident.table, refreshToken))
    def q(part: String) = "`" + part.replace("`", "``") + "`"
    def sqlName(i: org.apache.spark.sql.catalyst.TableIdentifier) =
      (i.database.toSeq :+ i.table).map(q).mkString(".")
    val target = sqlName(ident)
    val staging = sqlName(stagingIdent)

    // crash recovery: a previous refresh died between DROP and RENAME
    // — a registered staging table holds that call's COMPLETE merge
    // (CTAS registers only on success). Staging names are
    // token-derived, so scan for ANY staging of this table rather
    // than one fixed name (the crashed batch need not be this one).
    // Validate the orphan BEFORE installing it (a stale staging from
    // an unrelated experiment must not become the served table),
    // finish the swap, then let the token check below decide whether
    // THIS call's delta still needs applying — an unconditional skip
    // would silently lose a NEW batch's delta that merely arrived
    // after a crash (r17 second-review finding).
    if (!cat.tableExists(ident)) {
      val db = ident.database.getOrElse(cat.getCurrentDatabase)
      // catalog tables only: a local temp VIEW matching the prefix has
      // no catalog metadata to validate (getTableMetadata would throw
      // on debris that isn't even a table). Compare LOWERCASED: the
      // catalog stores formatted (lowercased) names, so a mixed-case
      // tableName's prefix would never match the returned identifiers
      // and recovery would silently report "table does not exist" (r18
      // review finding).
      val prefixLc = stagingPrefix(ident.table).toLowerCase(
        java.util.Locale.ROOT)
      val orphans = cat.listTables(db, stagingPrefix(ident.table) + "*",
          includeLocalTempViews = false)
        .filter(_.table.toLowerCase(java.util.Locale.ROOT)
          .startsWith(prefixLc))
      require(orphans.size <= 1,
        s"freqTableRefresh: table '$tableName' is missing and MULTIPLE " +
          s"staging tables survive (${orphans.map(_.table).mkString(", ")})" +
          " — concurrent refreshes crashed mid-swap and their merges " +
          "cannot be ordered; inspect them, keep at most one, and " +
          "re-run (refreshes are single-writer: see the CONCURRENCY " +
          "note)")
      orphans.headOption.foreach { orphanIdent =>
        val sMeta = cat.getTableMetadata(orphanIdent)
        require(sMeta.schema.fieldNames.toSet == Set(keyCol, freqName) &&
            sMeta.bucketSpec.isDefined &&
            sMeta.schema(keyCol).dataType == delta.schema(keyCol).dataType &&
            // an INT/DOUBLE freq column would install cleanly and then
            // silently widen through coalesce+sum on later merges
            // (r17 ADVICE): require the artifact's LONG exactly
            sMeta.schema(freqName).dataType ==
              org.apache.spark.sql.types.LongType,
          s"freqTableRefresh: found an orphaned staging table for " +
            s"'$tableName' but it is not a ($keyCol, $freqName LONG) " +
            "bucketed freq table — drop it and rebuild with freqTable")
        spark.sql(s"ALTER TABLE ${sqlName(orphanIdent)} RENAME TO $target")
        // whose delta does the recovered merge contain? With a token
        // the check below answers exactly: the recovered table carries
        // the crashed call's token history, so own token present →
        // no-op (the crashed call was this batch), absent → a NEW
        // batch, merged normally. A token-less caller cannot be
        // disambiguated — fail loudly rather than choose between
        // silently losing this delta and silently double-applying it.
        // The swap is already complete, so the table itself is healthy
        // either way.
        require(refreshToken.nonEmpty,
          s"freqTableRefresh: completed an interrupted swap for " +
            s"'$tableName' from its staging table, but without a " +
            "refreshToken this call cannot tell whether the recovered " +
            "merge already includes its delta — inspect the table, or " +
            "re-run refreshes with a per-batch token to make recovery " +
            "unambiguous")
      }
    }
    require(cat.tableExists(ident),
      s"freqTableRefresh: table '$tableName' does not exist — build it " +
        "once with freqTable before refreshing")
    val meta = cat.getTableMetadata(ident)
    // post-swap crash re-run OR delayed re-run: this delta's token is
    // in the served table's applied-batch history — the refresh
    // already happened; no-op. A HISTORY (not just the newest token)
    // so a re-run of batch N arriving after N+1 committed is still
    // caught (r17 ADVICE: a single-token check would double-apply N).
    if (refreshToken.nonEmpty &&
        tokenHistory(meta.properties).contains(refreshToken))
      return spark.table(target)
    val nBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"freqTableRefresh: table '$tableName' is not bucketed — not a " +
          "freqTable artifact"))
    val old = spark.table(target)
    require(old.columns.toSet == Set(keyCol, freqName),
      s"freqTableRefresh: table '$tableName' has columns " +
        s"${old.columns.mkString(",")}, expected ($keyCol, $freqName)")
    require(old.schema(keyCol).dataType == delta.schema(keyCol).dataType,
      s"freqTableRefresh: key type mismatch — table has " +
        s"${old.schema(keyCol).dataType}, delta has " +
        s"${delta.schema(keyCol).dataType}")
    val merged = refreshMerge(old, delta, keyCol, freqName, weight)
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    merged.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(staging)
    // the token HISTORY rides the staging table THROUGH the rename —
    // this batch's token prepended to the base table's history
    // (bounded to TokenHistorySize), stamped before the swap so no
    // crash window can lose it. A token-LESS refresh must still carry
    // the existing history forward: the fresh staging table has no
    // properties, and dropping the history here would let a later
    // delayed re-run of an already-applied batch double-apply.
    val hist = (if (refreshToken.isEmpty) tokenHistory(meta.properties)
                else refreshToken +: tokenHistory(meta.properties))
      .distinct.take(TokenHistorySize).mkString(",")
    if (hist.nonEmpty)
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES " +
        s"('$TokenProp' = '$hist')")
    // lost-update guard: if ANOTHER refresh committed between this
    // call's metadata read and this swap, our merge was computed from
    // a base that is no longer the served table — swapping it in would
    // silently discard the concurrent batch's delta. The applied-token
    // history moves on every tokened commit, so compare it and fail
    // loudly instead (a token-less concurrent pair is undetectable —
    // the single-writer discipline in the CONCURRENCY note is the
    // contract; this check just turns most violations into errors).
    // The re-read is GUARDED: a concurrent writer inside its own
    // DROP→RENAME window makes the target momentarily missing, which
    // is the same staleness verdict, not an internal error (r18
    // review finding). The stale staging is dropped FIRST: it has no
    // recovery value (a crash recovery that installed it would BE the
    // lost update), and leaving it would poison a later orphan scan.
    val servedNow =
      if (cat.tableExists(ident))
        try Some(cat.getTableMetadata(ident).properties.get(TokenProp))
        catch {
          case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
            None
        }
      else None
    if (!servedNow.contains(meta.properties.get(TokenProp))) {
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      throw new IllegalArgumentException(
        s"freqTableRefresh: table '$tableName' was refreshed CONCURRENTLY " +
          "while this merge was computing — this merge is stale and " +
          "installing it would lose the other batch's delta. Re-run this " +
          "batch; refreshes are single-writer (see the CONCURRENCY note)")
    }
    spark.sql(s"DROP TABLE $target")
    spark.sql(s"ALTER TABLE $staging RENAME TO $target")
    // post-swap orphan sweep (r18 ADVICE): a refresh that crashed AFTER
    // its CTAS registered but BEFORE the DROP left its token-derived
    // staging behind while the target lived on — invisible to the
    // recovery scan above (which only runs when the target is missing),
    // and a LATER genuine DROP→RENAME crash would then find TWO
    // stagings and trip the MULTIPLE-orphans hard failure where the old
    // fixed-name layout self-recovered. After a successful swap every
    // staging still matching the prefix is such an orphan (our own was
    // just renamed away; under the single-writer discipline none can be
    // live), so sweep them here.
    val sweepDb = ident.database.getOrElse(cat.getCurrentDatabase)
    val sweepPrefixLc = stagingPrefix(ident.table).toLowerCase(
      java.util.Locale.ROOT)
    cat.listTables(sweepDb, stagingPrefix(ident.table) + "*",
        includeLocalTempViews = false)
      .filter(_.table.toLowerCase(java.util.Locale.ROOT)
        .startsWith(sweepPrefixLc))
      .foreach(o => spark.sql(s"DROP TABLE IF EXISTS ${sqlName(o)}"))
    spark.table(target)
  }

  /** [[freqTableRefresh]]'s merge: delta-sized aggregation full-outer
   * joined against the served table, frequencies summed, zero-sum
   * keys dropped (matching a rebuild under retraction — the build
   * filters the same way, so the invariant holds through any
   * build/refresh interleaving). Split out and private[graft] so the
   * executed-plan pin (HotColdFreqSpec: table side bucketed, no
   * exchange above it) inspects the PRODUCTION merge rather than a
   * hand-copied mirror that could silently drift (r18 review
   * finding). */
  private[graft] def refreshMerge(old: DataFrame, delta: DataFrame,
                                  keyCol: String, freqName: String,
                                  weight: Column): DataFrame = {
    val dAgg = delta.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(weight).cast("long").as(freqName))
    old.withColumnRenamed(freqName, "__base_f")
      .join(dAgg.withColumnRenamed(freqName, "__delta_f"),
        Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("__base_f"), lit(0L)) +
          coalesce(col("__delta_f"), lit(0L))).as(freqName))
      .filter(col(freqName) =!= 0L)
  }

  /** Table property carrying [[freqTableRefresh]]'s exactly-once
   * tokens — a comma-separated, newest-first history of the last
   * [[TokenHistorySize]] applied batch tokens (the token charset
   * admits no comma, so the join is unambiguous). A HISTORY rather
   * than a single token because a delayed re-run of batch N can
   * arrive after batch N+1 has committed: a single-token property
   * would read a mismatch and silently double-apply N (r17 ADVICE).
   * A re-run delayed past the horizon — more than TokenHistorySize
   * batches behind the head — is undetectable; keep re-run windows
   * within it. A full [[freqTable]] rebuild RESETS the history (the
   * overwrite recreates the table propertyless — deliberately: the
   * rebuild redefines the corpus baseline, and whether a pre-rebuild
   * delta is inside that baseline is unknowable here), so quiesce
   * in-flight re-runs before rebuilding. */
  val TokenProp = "graft.refresh.token"

  /** How many recent batch tokens [[TokenProp]] retains. Bounds the
   * delayed-re-run detection window; 16 covers any sane retry policy
   * while keeping the property tiny. */
  val TokenHistorySize = 16

  /** Newest-first applied-token history from a table's properties. */
  private def tokenHistory(props: Map[String, String]): Seq[String] =
    props.get(TokenProp).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Prefix every refresh-staging table name shares; the recovery
   * scan keys on it. */
  private def stagingPrefix(table: String): String =
    table + "__refresh_staging"

  /** Staging-table name for a refresh of `table` under `token` —
   * TOKEN-DERIVED so two refreshes of distinct batches can never
   * share (and thus never DROP or clobber) each other's in-flight
   * staging table (r17 ADVICE: a shared name let caller B destroy
   * caller A's staging mid-swap). The suffix is the sanitized token
   * plus an md5 fragment: sanitization maps the token charset's
   * [.:-] to '_' for metastore-safe names, and the hash keeps
   * sanitization collisions ("a.b" vs "a_b") apart. A token-less
   * refresh keeps the bare prefix — single-writer discipline is the
   * caller's there (see [[freqTableRefresh]]'s CONCURRENCY note). */
  private[graft] def stagingName(table: String, token: String): String =
    if (token.isEmpty) stagingPrefix(table)
    else {
      val safe = token.map(c =>
        if (c.isLetterOrDigit || c == '_') c else '_').take(40)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(token.getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString
      stagingPrefix(table) + "_" + safe + "_" + h
    }

  /** Shared pre-flight checks for every entry point. `nWays = 0` skips
   * the IntegerType width bound (the sentinel width is not decided
   * yet — attachFreq re-validates with the real width). Messages name
   * no single entry point: the same failure is reachable from
   * withFreq, attachFreq, and freqTable. */
  private def validate(stream: DataFrame, keyCol: String,
                       freqName: String, nWays: Long): Unit = {
    // reserved internals + the output column must not collide with the
    // caller's schema (the r14 Salting reserved-name precedent: fail
    // loudly, never silently shadow)
    for (c <- Seq("__hot_f", "__cold_f", "__ck", freqName))
      require(!stream.columns.contains(c),
        s"HotColdFreq: stream already has a column named '$c'")
    // The sentinel is a small non-negative long cast to the key type.
    // Long/String carry it losslessly; Int does too because nWays is
    // bounded far below 2^31. Anything narrower overflows the cast
    // (ANSI runtime error / silent wrap), and non-numeric types (date,
    // boolean, binary) cast to null or a collapsed space — values stay
    // correct but every hot row lands on few sentinels and the skew
    // bound this helper exists for silently disappears. Fail loudly
    // instead (the reserved-name precedent above).
    stream.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => ()
      case org.apache.spark.sql.types.IntegerType =>
        require(nWays <= Int.MaxValue,
          s"sentinel width $nWays overflows the IntegerType key '$keyCol'")
      case other => throw new IllegalArgumentException(
        s"HotColdFreq: key '$keyCol' has type $other; the hot-row " +
          "sentinel requires a Long, Int, or String key (cast the key, or " +
          "hash it with xxhash64, before routing)")
    }
  }

  /** Loan-pattern [[withFreq]]: builds the routed frame, hands it to
   * `use`, and unpersists the freq frame when `use` returns (the r13
   * neardupPairsCross idiom). The callback must MATERIALIZE everything
   * it needs — frames that escape `use` lazily will recompute freq
   * unpersisted (correct, just uncached). */
  def withFreqLoan[T](stream: DataFrame, keyCol: String, freqName: String,
                      weight: Column, scatter: Column,
                      hotMin: Long = DefaultHotMin, ways: Int = 0,
                      persistFreq: Boolean = PersistFreqDefault)
                     (use: DataFrame => T): T = {
    val (out, handle) = withFreqHandle(stream, keyCol, freqName, weight,
      scatter, hotMin, ways, persistFreq)
    try use(out) finally handle.foreach(_.unpersist())
  }
}
