package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed connected components by iterative min-label propagation —
 * the operator that turns pairwise near-duplicate matches into
 * transitive duplicate CLUSTERS (production dedup keeps one document
 * per cluster, not per pair; pair-level removal can drop both ends or
 * leave chains).
 *
 * Each iteration propagates the smallest known component id across
 * edges (one shuffle on node id) and converges in O(graph diameter)
 * iterations — duplicate clusters are near-cliques, so diameter is 2-3
 * in practice. The driver loop only evaluates a `changed` count per
 * iteration; labels are `localCheckpoint`ed to truncate the growing
 * lineage, the standard Spark idiom for iterative convergence. For
 * high-diameter graphs (where min-propagation's O(diameter) rounds are
 * the bottleneck) [[runStar]] implements the large-star/small-star
 * alternation, which converges in O(log² n) rounds regardless of
 * diameter; StarCCSpec property-tests it against GraphX on random and
 * pathological (long-path) graphs.
 */
object ConnectedComponents {

  /** GraphX-backed variant — the default. GraphX's Pregel connected
   * components is the Spark-native graph engine for exactly this shape:
   * RDD-based, so the fixpoint loop pays NO per-iteration plan/codegen
   * compilation (the dominant cost of the DataFrame loop on small
   * graphs: each iteration is a fresh whole-stage-codegen unit), and
   * its label IS the min vertex id, matching the declared semantics.
   * [[run]] remains as the pure-DataFrame formulation (useful where
   * GraphX isn't shipped and as executable documentation of the
   * algorithm); both are spec-pinned to identical output. */
  def runGraphX(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val edgeRdd = edges.toDF("a", "b").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val graph = org.apache.spark.graphx.Graph.fromEdgeTuples(edgeRdd, 1)
    graph.connectedComponents().vertices
      .map { case (id, comp) => (id, comp) }
      .toDF("id", "comp")
  }

  /** @param edges two-column DataFrame of undirected edges (a, b)
   * @return (id, comp) — comp is the min node id of the component;
   *         isolated nodes absent from `edges` are absent here too */
  def run(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val a = edges.toDF("a", "b")
    val symAll = a.union(a.select(col("b"), col("a"))).distinct().cache()
    // size the iteration partitioning to the GRAPH, not the session
    // default: duplicate graphs are usually a tiny fraction of the
    // corpus, and each iteration pays per-partition scheduling on every
    // shuffle/checkpoint. ~50k edges per partition keeps one task per
    // core busy at scale while a small graph iterates in one task.
    val m = symAll.count()
    val parts = math.max(1L, math.min(symAll.rdd.getNumPartitions.toLong,
      m / 50000L + 1L)).toInt
    val sym = symAll.repartition(parts, col("a")).cache()
    symAll.unpersist()
    // initialization fuses the first propagation step: comp0(n) =
    // min(n, neighbors(n)) in ONE aggregation — for near-clique
    // duplicate clusters (diameter 1) this is already the fixpoint and
    // the loop only runs the confirming pass, saving a full
    // join+aggregate+codegen round
    var labels = sym
      .select(col("a").as("id"), least(col("a"), col("b")).as("comp"))
      .groupBy("id").agg(min(col("comp")).as("comp"))
      .cache()
    // convergence via the label-sum invariant: labels only ever
    // decrease, so the (exact, decimal) sum of labels is strictly
    // monotone and stabilizes exactly at the fixpoint. The sum is ALSO
    // the action that materializes each iteration's cache, so one job
    // per iteration covers both persistence and the convergence check
    // (a localCheckpoint would cost a second action per iteration;
    // lineage depth is bounded by maxIter, which planning absorbs).
    // sum over an EMPTY label set is SQL null — coalesce to zero so an
    // empty edge input converges to the empty result like runStar and
    // runGraphX do, instead of NPE-ing out of compareTo (r20 review;
    // empty pairs is a real input: a corpus with no near-duplicates)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor labels + own label, take the min per node
      val next = sym.join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("comp"))
        .union(labels)
        .groupBy("id").agg(min(col("comp")).as("comp"))
        .cache()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      i += 1
    }
    sym.unpersist()
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) — the
   * diameter-independent variant. Min-propagation ([[run]]) needs
   * O(diameter) rounds, which is fine for near-clique duplicate
   * clusters but pathological on chain-shaped graphs; the star
   * alternation contracts every component onto its minimum node in
   * O(log² n) rounds:
   *
   *  - large-star (per node u over the SYMMETRIC edge view): link every
   *    strictly-larger neighbor of u to m(u) = min(Γ(u) ∪ {u})
   *  - small-star (per node u over down-oriented edges v < u): link u
   *    and all its smaller neighbors to their minimum
   *
   * The fixpoint LOOP runs on RDDs, not DataFrames — the same reason
   * [[runGraphX]] is the default: an iterative algorithm pays fresh
   * Catalyst analysis + whole-stage-codegen compilation for EVERY round
   * of a DataFrame loop (measured as the dominant cost: 7+ s of an
   * ~9 s bench entry on a graph whose actual shuffles are milliseconds,
   * with round-to-round variance tracking co-tenant scheduler load, not
   * data). RDD lineage is a shared DAG — referencing a round's edge set
   * twice does not copy a plan subtree, so no localCheckpoint plan
   * truncation is needed either; caching each round and unpersisting
   * the previous one bounds recomputation.
   *
   * Both star steps are one reduceByKey-min plus one join — the same
   * shuffle shape as a propagation round. Convergence is detected by
   * testing the star-graph property directly — every source has exactly
   * one out-edge and no target is itself a source (no chains) — folded
   * into ONE single-shuffle job per round (per-node (outDegree,
   * isTarget) via reduceByKey, then a driver-side sum of violations);
   * that action also materializes the round's cache, so each round is
   * exactly one job. The test is exact and fires on the round that
   * REACHES the fixpoint — no extra confirming round.
   *
   * @param edges two-column DataFrame of undirected edges (a, b)
   * @return (id, comp) with the same contract as [[run]]: comp is the
   *         min node id of the component; every node appearing in
   *         `edges` (including self-loop-only nodes) gets a row */
  def runStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // One Catalyst plan total: the upstream edge pipeline (MinHash/LSH
    // candidates) executes exactly once into a cached RDD; everything
    // after this line is RDD-only.
    val e0 = edges.toDF("a", "b")
      .select(col("a").cast("long"), col("b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1))).cache()
    val m0 = e0.count()
    // size every shuffle to the GRAPH, not the session default (same
    // policy as run()): a duplicate graph is tiny relative to the
    // corpus, and each round's stages pay per-partition scheduling.
    val parts = math.max(1L, math.min(e0.getNumPartitions.toLong,
      m0 / 50000L + 1L)).toInt
    // node set materialized once from the cached edge input (self-loop-
    // only nodes are restored from it at the end)
    val nodes = e0.flatMap { case (a, b) => Iterator(a, b) }
      .distinct(parts).cache()
    nodes.count()
    // canonical down-oriented edge set (u > v); self-loops drop out of
    // the iteration
    var cur = e0.map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .filter { case (u, v) => u != v }
      .distinct(parts).cache()
    // Exact fixpoint test in ONE job: a down-oriented edge set is the
    // converged star graph iff no source carries two edges and no node
    // is both source and target. Per-node (outDegree, isTarget) via one
    // reduceByKey, then a driver-side sum of violations; the action
    // doubles as the round's cache materializer.
    def starTest(r: org.apache.spark.rdd.RDD[(Long, Long)]): Boolean = {
      val perNode = r
        .flatMap { case (u, v) => Iterator((u, (1L, false)), (v, (0L, true))) }
        .reduceByKey(
          (x: (Long, Boolean), y: (Long, Boolean)) => (x._1 + y._1, x._2 || y._2),
          parts)
      perNode
        .map { case (_, (c, t)) => if (c >= 2L || (c >= 1L && t)) 1L else 0L }
        .fold(0L)(_ + _) == 0L
    }
    var converged = starTest(cur)
    e0.unpersist(blocking = false)
    var i = 0
    while (!converged && i < maxIter) {
      // ---- large-star ------------------------------------------------
      val sym = cur.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      // m(u) = min(Γ(u) ∪ {u})
      val mins = sym.reduceByKey(math.min(_, _), parts)
        .map { case (u, mn) => (u, math.min(u, mn)) }
      // every strictly-larger neighbor v of u links to m(u); output
      // stays down-oriented because m(u) <= u < v
      val ls = sym.join(mins, parts)
        .flatMap { case (u, (v, mu)) =>
          if (v > u && v != mu) Iterator((v, mu)) else Iterator.empty }
        .distinct(parts)
      // ---- small-star ------------------------------------------------
      // ls feeds small-star twice (min aggregation + relink join); its
      // distinct ends in a shuffle, so both consumers read the same
      // shuffle files — shared DAG, no recompute, no plan copy.
      val mins2 = ls.reduceByKey(math.min(_, _), parts)
      val ss = ls.join(mins2, parts)
        .map { case (u, (v, mu)) => (if (v == mu) u else v, mu) }
        .filter { case (u, v) => u != v }
        .distinct(parts).cache()
      converged = starTest(ss)
      cur.unpersist(blocking = false)
      cur = ss
      i += 1
    }
    // at the fixpoint `cur` is the star graph (node, component-min);
    // roots and self-loop-only nodes label themselves. cur and nodes
    // stay cached (graph-sized, same residue GraphX leaves) so the
    // caller's action reads blocks, not the full round lineage.
    val labels = cur.reduceByKey(math.min(_, _), parts)
    nodes.map(id => (id, ()))
      .leftOuterJoin(labels, parts)
      .map { case (id, (_, comp)) => (id, comp.getOrElse(id)) }
      .toDF("id", "comp")
  }
}
