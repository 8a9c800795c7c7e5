package graft

import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The Bloom runtime-filter contract (q_bloom_join): the filter can never
 * drop a matching row (no false negatives — that would silently change
 * join results), it must actually reject most non-matching keys (a
 * degenerate all-true filter would still pass the end-to-end oracle),
 * and the membership probe must run MAP-SIDE, below the join — that
 * placement is the whole point at 100 TB.
 */
class BloomJoinSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  test("bloom filter has zero false negatives and rejects most non-keys") {
    import spark.implicits._
    val keys = (1L to 1000L).toDF("k")
    val bytes = keys
      .agg(graft.functions.BloomFunctions.bloomAgg(col("k"), 1000L).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val inserted = keys
      .filter(graft.functions.BloomFunctions.bloomContains(bytes, col("k")))
      .count()
    assert(inserted == 1000L, s"false negatives: only $inserted/1000 pass")
    val disjoint = (100001L to 110000L).toDF("k")
      .filter(graft.functions.BloomFunctions.bloomContains(bytes, col("k")))
      .count()
    // 10 bits/key targets ~1% fpp; 5% leaves slack without letting a
    // degenerate filter through
    assert(disjoint < 500L, s"filter not selective: $disjoint/10000 pass")
  }

  test("q_bloom_join probes the filter below the join, on the fact side") {
    val p = SparkEntry.queries("q_bloom_join")(spark, sf)
      .queryExecution.sparkPlan

    def subtree(n: SparkPlan): Seq[SparkPlan] = n +: n.children.flatMap(subtree)

    val joins = subtree(p).filter {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec |
           _: ShuffledHashJoinExec => true
      case _ => false
    }
    assert(joins.nonEmpty, s"no equi-join in plan:\n$p")
    // the fact-side child of the lowest join must contain the probe
    val factSide = joins.last.children.flatMap(subtree).collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(factSide.nonEmpty, s"might_contain not below the join:\n$p")
  }
}
