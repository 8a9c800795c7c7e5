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
 * `archive/ZIPFPROBE_r*.json` record the knee; this helper is the routed shape
 * that removes it:
 *
 *  1. `freq = stream.groupBy(key).agg(sum(weight))` — a hash aggregate
 *     PARTIAL-combines map-side, so a hot key contributes one row per
 *     map task and the freq exchange is skew-immune. The frame is
 *     PERSISTED: without it AQE's runtime stage reuse DOES unify the
 *     hot/cold branches' shuffle (1 corpus scan + a ReusedExchange —
 *     the truthful post-finalization PlanAudit reading; an earlier
 *     4-scan reading was a counter artifact, see
 *     PlanAudit.executedScans), but each consumer still re-runs the
 *     final aggregation over the reused map output, and the three-arm
 *     interleave (`archive/ZIPFPROBE_r15_3arm.json`) read persist at 2.9–3.6 s
 *     vs no-persist 4.5–5.5 s on the planted 110× corpus (every rep,
 *     both corpora) — materializing the distinct-keys-sized frame
 *     (8+8 bytes per key, MEMORY_AND_DISK, never corpus-sized) once
 *     beats re-aggregating it per consumer.
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
 * The persisted frame costs ~9 B per distinct key as compressed
 * columnar (`archive/FREQPROBE_r16.json`: 120M keys cached at 1.08 GB). A key
 * space past the executor storage pool does not fit this shape:
 * `archive/FREQPROBE_r16_360m_table.json` records 360M keys under a 6 GiB heap,
 * where persist OOMs and a bucketed parquet freq table survives.
 */
object HotColdFreq {
  /** Default hot threshold: a key whose corpus mass exceeds ~2M rows
   * would dominate a reduce task on its own; below it, shuffling the
   * occurrences is safe. */
  val DefaultHotMin: Long = 2000000L

  /** Adds `freqName` = total `weight` of `keyCol` across `stream`.
   *
   * Contract: rows with a NULL key get a NULL frequency (they never
   * match either join side) — the window formulation would instead
   * count the null partition. The gate entries' keys are non-null by
   * construction (xxhash64 outputs, split tokens); callers with
   * nullable keys must decide their null semantics first. Keys whose
   * weights NET TO ZERO likewise get a NULL frequency — zero mass is
   * "absent".
   *
   * LIFECYCLE: the freq frame stays cached until somebody unpersists
   * it. The gate harness clears caches between entries; any other
   * caller (a loop over corpora, a long-lived session) accumulates one
   * MEMORY_AND_DISK entry per call that only a session-wide
   * clearCache() evicts.
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
   * @param ways    sentinel-space width; 0 picks the automatic width
   */
  def withFreq(stream: DataFrame, keyCol: String, freqName: String,
               weight: Column, scatter: Column,
               hotMin: Long = DefaultHotMin, ways: Int = 0): DataFrame = {
    // sentinel-space width: each hot key's rows land in `nWays` groups
    // of ~mass/nWays rows, so a FIXED width would just re-create the
    // straggler at a bigger corpus (mass/64 of a 10^10-occurrence key
    // is still ~80x a healthy task). Auto scales with the session's
    // shuffle width — per-sentinel rows then track per-task averages
    // as the cluster grows.
    val nWays: Long =
      if (ways > 0) ways.toLong
      else math.max(64L,
        4L * stream.sparkSession.sessionState.conf.numShufflePartitions)
    validate(stream, keyCol, freqName, nWays)
    val freq = stream.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(weight).cast("long").as(freqName))
      // zero-net keys are ABSENT (scaladoc contract)
      .filter(col(freqName) =!= 0L)
      .persist()
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

  /** Pre-flight checks, run before the freq frame is built or cached. */
  private def validate(stream: DataFrame, keyCol: String,
                       freqName: String, nWays: Long): Unit = {
    // reserved internals + the output column must not collide with the
    // caller's schema (the r14 Salting reserved-name precedent: fail
    // loudly, never silently shadow)
    for (c <- Seq("__hot_f", "__cold_f", "__ck", freqName))
      require(!stream.columns.contains(c),
        s"HotColdFreq: stream already has a column named '$c'")
    // The sentinel is a small non-negative long cast to the key type.
    // Long/String carry it losslessly; Int does too while nWays fits
    // in 31 bits. Anything narrower overflows the cast (ANSI runtime
    // error / silent wrap), and non-numeric types (date, boolean,
    // binary) cast to null or a collapsed space — values stay correct
    // but every hot row lands on few sentinels and the skew bound this
    // helper exists for silently disappears. Fail loudly instead (the
    // reserved-name precedent above).
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
}
