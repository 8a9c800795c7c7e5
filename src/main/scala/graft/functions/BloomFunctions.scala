package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64

/**
 * Column-level surface for Spark's own runtime-filter kernels
 * (`BloomFilterAggregate` / `BloomFilterMightContain` — the exact pair
 * Catalyst's InjectRuntimeFilter plants under AQE): build a Bloom filter
 * over a join key in one distributed aggregation, then prefilter the
 * other side map-side with the codegen membership probe.
 *
 * Exposing the pair explicitly covers the cases the optimizer's
 * heuristics miss (no selective creation-side predicate it can prove, a
 * filter reused across several downstream joins, or a filter persisted
 * between pipeline stages) while keeping the same on-wire format and
 * hash (xxhash64) as the built-in rule, so a filter built here is
 * byte-compatible with what AQE would have injected.
 *
 * Both sides hash with xxhash64 first — the aggregate stores 64-bit
 * hashes, never values — so the filter's size is O(numBits) regardless
 * of key type or width.
 */
object BloomFunctions {

  /** Aggregate `key` into Bloom-filter bytes sized for `expectedItems`
   * distinct keys at ~10 bits/key (≈1% fpp), capped at 2^26 bits (8 MiB,
   * the built-in rule's default ceiling). */
  def bloomAgg(key: Column, expectedItems: Long): Column = {
    val items = math.max(expectedItems, 1L)
    val bits = math.min(items * 10L, 1L << 26)
    column(BloomFilterAggregate(expr(xxhash64(key)), Literal(items), Literal(bits), 0, 0)
      .toAggregateExpression())
  }

  /** Codegen membership probe of `key` against serialized filter bytes
   * (false positives possible, false negatives never). */
  def bloomContains(filterBytes: Array[Byte], key: Column): Column =
    column(BloomFilterMightContain(Literal(filterBytes), expr(xxhash64(key))))
}
