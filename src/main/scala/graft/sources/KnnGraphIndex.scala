package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Q

/**
 * Content-stamped persisted kNN edge set — the shared graph artifact the
 * whole graph family (q_knn_graph, q_pagerank, q_triangles, q_graph_bfs)
 * serves from; each vector's top-[[KMAX]] in-bucket cosine neighbors,
 * rn-labelled, any `k <= KMAX` served as an `rn <= k` filter.
 *
 * One stamped dir per corpus state, published through
 * [[Q.ensureStampedIncr]]: `edges/` holds the edge set, `vecs/` the
 * coverage table (vec_id, bucket, vec_hash) it was built from, written
 * LAST so `vecs/_SUCCESS` marks a complete artifact. An edge depends
 * ONLY on vectors in its own LSH sign bucket, so the bucket is the
 * exact refresh unit in BOTH directions: a refresh rebuilds only the
 * buckets whose membership changed (any vector added, removed, or
 * re-embedded — anti-joins on (vec_id, vec_hash) against the base's
 * `vecs/`) and carries every other bucket's edges from the base as
 * written. Refresh COMPUTE is therefore ∝ the changed buckets' pair
 * mass; the write is the graph-sized edge set.
 *
 * Incremental ≡ full rebuild unconditionally (KnnGraphIndexSpec pins
 * carry-over actually happening and equivalence): a rebuilt bucket
 * runs the same deterministic plan on the same in-bucket vector set.
 *
 * At 100 TB this is exactly a materialized edge table in the lake with
 * a table-format commit: the build is the one Σ|bucket|²-bounded job,
 * a refresh recomputes only changed buckets, and every downstream
 * graph algorithm joins against graph-sized parquet.
 */
object KnnGraphIndex {

  /** Edges kept per vector in the persisted artifact; [[edges]] serves
   * any k up to this from one build. */
  val KMAX = 8

  /** Served edge schema (unchanged from r9 — consumers untouched). */
  val schema: StructType = StructType(Seq(
    StructField("a_id", LongType),
    StructField("b_id", LongType),
    StructField("bucket", IntegerType),
    StructField("cos", DoubleType),
    StructField("rn", IntegerType)))

  /** Coverage schema (`vecs/`): which (vec_id, content) each bucket's
   * edges were built from. */
  val vecsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("bucket", IntegerType),
    StructField("vec_hash", LongType)))

  /** KMAX is part of the layout: a width change must address a fresh
   * artifact, or a serve would silently return old-width neighbors.
   * v4: one stamped dir per corpus state (v3 was a segment store). */
  private val PREFIX = s"graft_knn_edges_k${KMAX}_v4_"

  private def artifact(dir: String) =
    ArtifactStore.stamped(PREFIX, dir, "embeddings")

  /** The artifact dir the current corpus state publishes to — exposed
   * for the spec's tamper probe. */
  private[graft] def artifactDir(dir: String): Path = artifact(dir).path

  /** 16-way LSH sign bucket from the first 4 embedding components —
   * the blocking key (same definition as LlmOps's pairwise family, and
   * declared in every graph oracle's SQL). private[graft] so the
   * queries reproduce the build's EXACT blocking key instead of
   * drifting on a copy. */
  private[graft] def signBucket(a: String) =
    expr(s"""CAST(element_at($a, 1) > 0 AS INT)
            |+ 2 * CAST(element_at($a, 2) > 0 AS INT)
            |+ 4 * CAST(element_at($a, 3) > 0 AS INT)
            |+ 8 * CAST(element_at($a, 4) > 0 AS INT)""".stripMargin)

  /** The corpus as the coverage table sees it: (vec_id, bucket,
   * vec_hash, embedding). vec_hash is xxhash64 over the float array — a
   * re-embedded vector changes its hash, so delta detection needs no
   * append-only assumption. */
  private def corpusVecs(s: SparkSession, dir: String): DataFrame =
    Q.rd(s, dir, "embeddings")
      // null and <4-dim embeddings are UNINDEXABLE: the sign-bucket
      // blocking key is undefined (element_at past the end is null →
      // bucket null), so such a row would land in a null `pb` dir — or,
      // pre-r18, NPE the refresh's changed-bucket collect. No cosine
      // consumer can ever return them (cosine with null is null), so
      // filtering at the source is the coherent contract — the same
      // no-null-mass posture as HotColdFreq and the sig index;
      // dimension QA beyond this belongs to ingest, not the index.
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) >= 4)
      .select(col("vec_id"), col("embedding"),
        signBucket("embedding").as("bucket"),
        xxhash64(col("embedding")).as("vec_hash"))

  /** Hot-bucket split thresholds (VERDICT r11 item 4). The sign bucket
   * is the pair join's blocking key, so a bucket's |B|² pair mass lands
   * in ONE shuffle task — one dense embedding cluster makes the build
   * (and any refresh touching that bucket) as slow as its hottest
   * bucket, regardless of cluster width. Buckets larger than
   * [[SPLIT_ROWS]] split for the BUILD: the a-side subdivides by an
   * extra vec_id hash into ceil(|B|/SPLIT_ROWS) sub-buckets (capped at
   * [[MAX_SUB]]) and the b-side replicates to every sub-bucket, so each
   * sub-task probes the FULL parent bucket (the multiprobe side). Every
   * in-bucket pair still meets exactly once — the edge set is
   * row-identical to the unsplit build (spec-pinned) — while the hot
   * bucket's quadratic mass spreads over nsub tasks of ≤ ~SPLIT_ROWS
   * a-rows each. Replication is linear (nsub·|B| extra b-rows), the
   * price of parallelizing the quadratic term. Cold buckets get
   * nsub = 1 (sub ≡ 0), the pre-split plan. Gate corpora peak at 137
   * rows/bucket — far under threshold; the split engages only at scale
   * (`archive/SCALESMOKE_r*.json` time both variants on a planted hot bucket).
   * Past MAX_SUB·SPLIT_ROWS rows in ONE bucket the shared Salting
   * helper goes two-dimensional (round 13; Salting.scala scaladoc):
   * the b-side also chunks and `sub` becomes a grid cell, so per-task
   * b-rows stay bounded instead of one sub-task buffering the full
   * parent bucket — the knee moves to MAX_SUB²·SPLIT_ROWS (~8.4M
   * rows/bucket). */
  val SPLIT_ROWS = 2048L
  val MAX_SUB = 64

  /** The salted build sides over a (vec_id, embedding, bucket) frame:
   * a-side rows carry sub = hash(vec_id) mod nsub(bucket); b-side rows
   * replicate to all nsub subs. Exposed to the spec so it can pin the
   * per-sub-task a-row bound and the b-side replication factor.
   * `sizesIn`: per-bucket row counts (bucket, bucket_n) when the
   * caller already has a cheap source — [[edges]]' build passes its cached
   * 24-byte (vec_id, bucket, vec_hash) projection's counts so the size
   * pass never re-scans (and re-sign-buckets) the embedding vectors;
   * bucket is COMPUTED from the embedding column, so column pruning
   * cannot save a sizes aggregation taken from `e` itself. */
  private[graft] def saltedSides(e: DataFrame, splitRows: Long,
                                 sizesIn: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // the split machinery itself is the shared graft.plans.Salting
    // helper (q_semdedup's hot-cluster split reuses it); this wrapper
    // only applies the edge build's column naming
    val (a0, b0) = graft.plans.Salting.saltedSelfSides(
      e, "bucket", "vec_id", splitRows, MAX_SUB,
      sizesIn.map(_.withColumnRenamed("bucket_n", "group_n")))
    val a = a0.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("bucket"), col("sub"))
    val b = b0.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("bucket"), col("sub"))
    (a, b)
  }

  /**
   * The edge-BUILD plan over a (vec_id, embedding, bucket) frame:
   * every vector's top-[[KMAX]] in-bucket cosine neighbors,
   * rn-labelled. Per-bucket work is (N/16)², never global N² — and a
   * hot bucket's share spreads over sub-bucket tasks (see
   * [[SPLIT_ROWS]]); the per-vector cut is the TopKPerKey map-side
   * prune (a bare window would sort each bucket's full pair set in one
   * partition). Under the 1D split an a_id's candidates sit whole in
   * one (bucket, sub) partition, so the partial prune alone bounds the
   * key; once the 2D salt engages (buckets past MAX_SUB×SPLIT_ROWS)
   * an a-row replicates across b-chunk cells and its candidates SPAN
   * partitions — the partial prune then bounds each cell at KMAX and
   * TopKPerKey's final per-key pass after the a_id exchange restores
   * the global top-K (up to KMAX×nb rows per key cross that exchange —
   * the bounded cost of not sorting a hot bucket in one task; stale
   * pre-r13 wording fixed in the r18 review). The rn label is then a
   * window over ≤ KMAX rows per vector.
   */
  private def edgesFor(e: DataFrame,
                       sizesIn: Option[DataFrame] = None): DataFrame =
    edgesFor(e, SPLIT_ROWS, sizesIn)

  private[graft] def edgesFor(e: DataFrame, splitRows: Long): DataFrame =
    edgesFor(e, splitRows, None)

  private[graft] def edgesFor(e: DataFrame, splitRows: Long,
                              sizesIn: Option[DataFrame]): DataFrame = {
    val (a, b) = saltedSides(e, splitRows, sizesIn)
    // SORT-MERGE, pinned: the blocking key has ~16·nsub distinct values
    // over corpus-cardinality sides, so every probe key matches a whole
    // sub-bucket. SMJ streams each a-row against the b-group buffered
    // CONTIGUOUSLY; a hash join walks the HashedRelation's match chain
    // per pair — profiling (SCALING.md) read the identical 382M-pair plan at
    // 125 s CPU under SMJ vs 1015 s when the refresh path's cached-
    // projection stats tipped the planner into BroadcastHashJoin. The
    // sort is over the SIDES (corpus-cardinality), never the pairs.
    val scored = a.hint("merge").join(b, Seq("bucket", "sub"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.vecCosine(col("ea"), col("eb")))
    val w = Window.partitionBy("a_id")
      .orderBy(col("cos").desc, col("b_id"))
    graft.plans.TopK.perKey(scored, Seq("a_id"),
        Seq(col("cos").desc, col("b_id").asc), KMAX)
      .withColumn("rn", row_number().over(w).cast("int"))
      .select(col("a_id"), col("b_id"), col("bucket"), col("cos"), col("rn"))
  }

  /** The full-corpus edge-build plan, unpersisted — exposed so
   * PlanAuditSpec pins the build shape (TopKPerKey present, no
   * cartesian) on the plan that actually pays the cost, and so specs
   * can compare a k-filtered serve against a fresh compute. */
  def buildPlan(s: SparkSession, dir: String): DataFrame =
    edgesFor(corpusVecs(s, dir))

  /** Write the edge set into `out`, clustered on (bucket, rn ≤ KMAX/2)
   * at up to two files per bucket, each spanning exactly half the rn
   * range — parquet min/max stats then let a small-k serve skip the
   * top-k tail's files (the pushed `rn <= k` filter). The bucket dirs
   * are `pb=<b>` copies of the bucket, layout only: the serve lists the
   * one root recursively with no partition discovery, so the data
   * files carry every served column. The split is a HASH repartition
   * on the deterministic half bit, NOT repartitionByRange (round 13):
   * RangePartitioning samples its child, which RE-EXECUTES the full
   * quadratic edge-build plan once for the sample and again for the
   * write — profiling (SCALING.md) read the artifact build at 2× the
   * bare plan (41.9 vs 17.8 s at 50k vecs) from exactly this. A hash
   * collision merges a bucket's two halves into one file (~40% chance
   * SOME bucket collides per build at 32 keys into 32 partitions), so
   * rows also sort by (pb, rn) WITHIN partitions — a graph-sized sort
   * — which keeps row-group min/max stats tight on rn in merged files
   * (interleaved rn would make every row group span the full range and
   * defeat the pushed rn <= k filter for that bucket). */
  private def writeEdges(df: DataFrame, out: Path): Unit =
    df.withColumn("pb", col("bucket"))
      .repartition(2 * 16, col("pb"), col("rn") <= lit(KMAX / 2))
      .sortWithinPartitions(col("pb"), col("rn"))
      .write.mode("overwrite").partitionBy("pb").parquet(out.toString)

  private def readEdges(s: SparkSession, artDir: Path): DataFrame =
    s.read.schema(schema).option("recursiveFileLookup", "true")
      .parquet(artDir.resolve("edges").toString)

  /**
   * The persisted edge set for `dir`'s embeddings, filtered to each
   * vector's top-`k` (`k <= KMAX`): build-if-absent — changed-bucket
   * refresh against the newest surviving base when one exists — then
   * a scan of the one artifact dir.
   */
  def edges(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    require(k >= 1 && k <= KMAX,
      s"edge index serves k in [1, $KMAX], got $k — raise KMAX to widen")
    val art = artifact(dir)
    // same-family builders serialize within the JVM (refreshes across
    // corpus states too, so none races the base sweep)
    val idx = ArtifactStore.lockFor(ArtifactStore.root.resolve(art.family))
      .synchronized {
      // vecs is written LAST, so its marker is the completeness marker
      Q.ensureStampedIncr(art, marker = "vecs/_SUCCESS") { (staging, baseOpt) =>
        build(s, dir, staging, baseOpt)
      }
    }
    ArtifactStore.memoFrame[DataFrame](s, idx, art.stamp) {
      readEdges(s, idx)
    }.filter(col("rn") <= k) // pushed to parquet; rn-clustered files skip
  }

  private def build(s: SparkSession, dir: String, staging: Path,
                    baseOpt: Option[Path]): Unit = {
    val cur = corpusVecs(s, dir)
    // the 24-byte/row coverage view is reused across the delta
    // detection (twice), the split sizes and the vecs write; caching
    // keeps those passes off the full embedding scan + rehash. Vectors
    // themselves are never cached — only the changed-bucket slice
    // re-reads them.
    val curMeta = cur.select("vec_id", "bucket", "vec_hash").cache()
    try {
      val edgeSet = baseOpt match {
        case Some(base) =>
          val oldVecs = s.read.schema(vecsSchema)
            .parquet(base.resolve("vecs").toString)
          // a bucket must rebuild iff its membership changed in either
          // direction; both anti-joins shuffle only (id, hash, bucket)
          val changed = curMeta
            .join(oldVecs.select("vec_id", "vec_hash"),
              Seq("vec_id", "vec_hash"), "left_anti")
            .select("bucket")
            .union(oldVecs
              .join(curMeta.select("vec_id", "vec_hash"),
                Seq("vec_id", "vec_hash"), "left_anti")
              .select("bucket"))
            .distinct().collect().map(_.getInt(0)).toSeq // ≤ 16 values
          val carried = readEdges(s, base)
            .filter(!col("bucket").isin(changed: _*))
          if (changed.isEmpty) carried
          else {
            // the changed-bucket slice re-reads the embeddings scan and
            // filters on the COMPUTED bucket — no pushdown. At lake
            // scale the upgrade is storing the corpus bucketed by the
            // sign key, turning this into a pruned scan of exactly the
            // changed buckets' files.
            val slice = cur.filter(col("bucket").isin(changed: _*))
            // split sizes from the CACHED 24-byte projection — never a
            // second scan+rehash of the embedding vectors (saltedSides)
            val sliceSizes = curMeta
              .filter(col("bucket").isin(changed: _*))
              .groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
            carried.unionByName(edgesFor(slice, Some(sliceSizes)))
          }
        case None =>
          val sizes = curMeta.groupBy("bucket")
            .agg(count(lit(1)).as("bucket_n"))
          edgesFor(cur, Some(sizes))
      }
      writeEdges(edgeSet, staging.resolve("edges"))
      curMeta.repartition(1).write.mode("overwrite")
        .parquet(staging.resolve("vecs").toString)
    } finally curMeta.unpersist()
  }
}
