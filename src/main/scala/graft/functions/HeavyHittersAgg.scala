package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** SpaceSaving summary state: at most `capacity` counters plus a floor.
 * Invariant (maintained by reduce/merge): for every key,
 * `true ≤ est ≤ true + floor`, where an absent key's estimate is
 * `floor`. The floor only rises on eviction, so while the counter table
 * never fills (capacity ≥ global distinct keys) the floor stays 0 and
 * every estimate is EXACT — independent of row order and merge tree,
 * which is what lets the gate query oracle-check the sketch. */
case class HHState(counts: Map[String, Long], floor: Long)

/**
 * Mergeable heavy-hitters (frequent items) aggregator — SpaceSaving with
 * the mergeable-summaries combine (Agarwal et al., PODS'12): the
 * constant-size-state member of the sketch family beside HLL
 * (q_approx_distinct) and the quantile sketch (q_percentiles_approx),
 * for the case where exact `groupBy(token).count` would shuffle the full
 * distinct-key set at 100 TB.
 *
 * State is ≤ `capacity` counters + one floor; reduce is O(1) amortized
 * (O(capacity) on eviction), merge is a pointwise sum over the union
 * followed by a prune back to `capacity` — map-side combinable, bounded
 * shuffle payload regardless of input size. Estimates overestimate true
 * counts by at most the floor (≤ N/capacity sequentially; floors add
 * across merges).
 */
class HeavyHittersAgg(capacity: Int)
  extends Aggregator[String, HHState, Map[String, Long]] {

  override def zero: HHState = HHState(Map.empty, 0L)

  override def reduce(s: HHState, key: String): HHState =
    // a null key carries no frequency mass AND cannot live in the
    // state: Catalyst map keys are non-nullable, so storing it would
    // crash the buffer encoder at the first shuffle (r18 review) —
    // the same no-null-mass contract as HotColdFreq's freq frame
    if (key == null) s
    else s.counts.get(key) match {
      case Some(n) => HHState(s.counts.updated(key, n + 1), s.floor)
      case None if s.counts.size < capacity =>
        HHState(s.counts.updated(key, s.floor + 1), s.floor)
      case None =>
        // evict the min-estimate counter (ties: smallest key, so the
        // exact-regime result is deterministic even near the boundary)
        val (evictKey, evictEst) = s.counts.minBy { case (k, n) => (n, k) }
        HHState(s.counts - evictKey + (key -> (evictEst + 1)),
          math.max(s.floor, evictEst))
    }

  override def merge(a: HHState, b: HHState): HHState = {
    val combined = (a.counts.keySet ++ b.counts.keySet).iterator.map { k =>
      k -> (a.counts.getOrElse(k, a.floor) + b.counts.getOrElse(k, b.floor))
    }.toMap
    if (combined.size <= capacity) HHState(combined, a.floor + b.floor)
    else {
      val kept = combined.toSeq
        .sortBy { case (k, n) => (-n, k) }.take(capacity)
      val maxEvicted = combined.valuesIterator.toSeq.sorted.reverse
        .drop(capacity).headOption.getOrElse(0L)
      HHState(kept.toMap, math.max(a.floor + b.floor, maxEvicted))
    }
  }

  override def finish(s: HHState): Map[String, Long] = s.counts

  override def bufferEncoder: Encoder[HHState] = ExpressionEncoder[HHState]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}

object HeavyHittersAgg {
  /** Column function: `heavyHitters(capacity)(tokenCol)` →
   * map<string,long> of counter estimates. */
  def heavyHitters(capacity: Int): Column => Column = {
    val fn = udaf(new HeavyHittersAgg(capacity))
    (c: Column) => fn(c)
  }
}
