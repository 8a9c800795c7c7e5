package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Q._

/**
 * LLM-training-data pipeline operators (SURVEY.md §2.C "LLM extension"):
 * dedup (exact, MinHash-LSH near-dup), similarity search (brute-force and
 * IVF/LSH-bucketed cosine), text analysis (tokens, stats, quality,
 * fingerprint), and multimodal metadata plumbing — all over the driver's
 * `documents` / `embeddings` tables.
 *
 * Scale posture: nothing here is O(N²) in the corpus. Near-dup pair
 * generation goes through MinHash banding (candidates only), similarity
 * pair scoring is blocked by an LSH sign-bucket, and top-k search is a
 * single scan + TakeOrdered. Float outputs are either integer ratios
 * (exact in both engines) or rounded doubles of identical expression
 * trees (see Q's determinism notes).
 */
object LlmOps {

  /** BFS lineage-truncation interval (r16: localCheckpoint every N
   * rounds kills the exponential plan-tree wall; `archive/ITERSCAN_r16*.json`
   * and `archive/ITERSCAN_r17.json` record the sweep). */
  private val BfsTruncateEvery = 5

  /** tokens of the space-separated document text */
  private def toks(c: Column): Column = split(c, " ")

  /** 3-gram word shingles (distinct), the near-dup unit. Guarded so docs
   * with <3 tokens yield an empty set rather than a descending
   * `sequence`. */
  private[graft] val shingleExpr =
    """array_distinct(CASE WHEN size(toks) >= 3
      |  THEN transform(sequence(0, size(toks) - 3),
      |                 i -> concat_ws(' ', slice(toks, i + 1, 3)))
      |  ELSE array() END)""".stripMargin

  /** The declared composite the word_bigram_hashes kernel replaces —
   * kept ONLY as the parity truth for BigramHashesSpec (ArrayTransform
   * is CodegenFallback; the kernel is the shipped path). Expects a
   * token-array column named `ts`. */
  private[graft] val bigramHashExpr =
    """CASE WHEN size(ts) < 2 THEN array()
      |ELSE transform(sequence(0, size(ts) - 2),
      |               i -> xxhash64(concat(ts[i], ' ', ts[i + 1]))) END"""
      .stripMargin

  /** (doc_id, h) hashed-bigram occurrence stream of the corpus — the
   * shared scan under q_lm_score and q_repetition. Bigrams are hashed
   * inside the array and the LONGS exploded (string Generate output
   * measured ~5x slower; see neardupPairs), via the codegen kernel
   * (r16 — the composite lambda ran interpreted per token pair). */
  private def bigramStream(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"),
        explode(graft.functions.BigramHashes.of(col("ts"))).as("h"))
  }

  /** q_pagerank's fixed-point-integer rank loop, depth-parameterized so
   * PlanAuditSpec can pin that executed file scans stay
   * O(1) as iterations grow (VERDICT r15 item 2). The gate entry runs
   * iters = 3.
   *
   * Scan shape per iteration: edges and NODES are both cached —
   * `nodes` joins into EVERY iteration's rank rebuild, so uncached it
   * re-scanned embeddings once per round (the r15 audit's
   * 1 + iterations reading, a real O(iterations) scan growth on the
   * corpus's widest table); cached it is one vec_id-only scan
   * (graph-sized, 8 B/row cluster-wide) at any depth. `deg` is cached
   * for the same reason: it feeds every iteration's contribution join,
   * and uncached each round would re-aggregate the edge cache
   * (one extra graph-sized exchange per iteration). */
  private[graft] def pageRankRanks(s: SparkSession, dir: String,
                                   iters: Int): DataFrame = {
    val SCALE = 1000000000000L
    // served from the shared content-stamped edge index (round 8);
    // cached because every iteration joins it twice
    val edges = graft.sources.KnnGraphIndex.edges(s, dir)
      .select(col("a_id"), col("b_id")).cache()
    val nodes = rd(s, dir, "embeddings").select(col("vec_id")).cache()
    // empty corpus: no nodes to rank (and SCALE/n would divide by 0);
    // the count also materializes the nodes cache before the loop
    val n = math.max(nodes.count(), 1L)
    val deg = edges.groupBy("a_id").agg(count(lit(1)).as("d")).cache()
    val base = (3L * SCALE) / (20L * n)
    var ranks = nodes.withColumn("r", lit(SCALE / n))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("vec_id", "a_id"), "a_id")
        .join(deg, "a_id")
        .groupBy("b_id").agg(sum(expr("r DIV d")).as("sc"))
      ranks = nodes
        .join(contrib.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(base) + expr("(17 * coalesce(sc, 0L)) DIV 20")).as("r"))
    }
    ranks.select(col("vec_id"), col("r").as("rank_fp"))
      .orderBy("vec_id")
  }

  /** q_graph_bfs's min-hop frontier loop, depth-parameterized for the
   * same O(1)-scans-per-iteration pin as [[pageRankRanks]]. The gate
   * entry runs hops = 3. Each round joins only the CURRENT frontier
   * (hop = k-1) against the cached symmetrized edge set.
   *
   * Every round's dist frame is CACHED (node-sized: vec_id + hop) —
   * not an optimization but the O(1)-scan requirement: dist appears
   * TWICE per round (the union and the frontier filter), so an
   * uncached loop doubles the lineage each iteration and the executed
   * plan re-runs the whole prior chain per reference (the r16 pin
   * measured 3 → 9 direct scans from depth 2 → 4; there is no
   * exchange at the seed for AQE to reuse). With the cache, round k
   * reads round k-1's in-memory frame twice and the lake never —
   * the GraphX/Pregel per-superstep persist shape. Intermediate
   * caches stay live until the session's cache clear (unpersisting
   * mid-loop would force the rebuild chain the cache exists to
   * prevent); at h ≫ 3 the RDD fixpoint of
   * ConnectedComponents.runStar remains the documented swap-in. */
  private[graft] def graphBfsDist(s: SparkSession, dir: String,
                                  hops: Int): DataFrame = {
    // served from the shared content-stamped edge index (round 8)
    val und = graft.sources.KnnGraphIndex.edges(s, dir)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .cache()
    var dist = rd(s, dir, "embeddings").select(col("vec_id"))
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), lit(0).cast("int").as("hop"))
      .cache()
    // BFS references dist TWICE per round (frontier extraction + the
    // min-merge union), so the LOGICAL tree doubles per iteration even
    // though executed scans stay O(1) — the r16 wall sweep
    // (`archive/ITERSCAN_r16_wall.json`) measured the knee: 0.78 s at depth 2
    // growing ~1.6× per added depth to 20.5 s of mostly plan analysis
    // at depth 12
    // (pagerank references ranks once per round and stays linear).
    // Fix: every TruncateEvery rounds, localCheckpoint(eager) replaces
    // the accumulated tree with a materialized leaf — the GraphX
    // Pregel checkpoint-interval pattern. Depths ≤ TruncateEvery (the
    // gate's hops=3 and the audit's 1..4 pins) plan EXACTLY as before.
    // Caveat a reliable-cluster caller should know: localCheckpoint is
    // executor-local — an executor loss fails the job (GraphX's
    // reliable checkpoint() is the durable variant; local mode and the
    // gate never see the difference). Intermediate per-round caches
    // are dropped at each truncation (everything before the checkpoint
    // is materialized into it), and the PREVIOUS checkpoint's blocks
    // are explicitly unpersisted once the next eager checkpoint has
    // materialized (ADVICE r16: relying on GC + ContextCleaner held
    // every checkpoint's MEMORY_AND_DISK blocks live for the whole
    // session in a deep multi-truncation sweep).
    val sinceTruncate = scala.collection.mutable.ArrayBuffer(dist)
    var prevCkpt: Option[DataFrame] = None
    for (k <- 1 to hops) {
      val next = dist.filter(col("hop") === k - 1)
        .join(sym, col("vec_id") === col("src"))
        .select(col("dst").as("vec_id"), lit(k).cast("int").as("hop"))
      dist = dist.union(next).groupBy("vec_id")
        .agg(min("hop").cast("int").as("hop"))
        .cache()
      if (k % BfsTruncateEvery == 0) {
        val trunc = dist.localCheckpoint(true) // eager: materialized NOW
        sinceTruncate.foreach(_.unpersist())
        sinceTruncate.clear()
        dist.unpersist()
        // the prior checkpoint fed the rounds just materialized into
        // `trunc`; nothing references its blocks any more — release
        // them instead of waiting on GC
        prevCkpt.foreach(releaseLocalCheckpoint)
        prevCkpt = Some(trunc)
        dist = trunc
      } else sinceTruncate += dist
    }
    dist.orderBy("vec_id")
  }

  /** Unpersists the storage blocks backing a `localCheckpoint`ed frame
   * (Dataset.localCheckpoint persists its internal RDD at
   * MEMORY_AND_DISK and wraps it in a LogicalRDD leaf — the RDD is
   * reachable only through that leaf). Non-blocking: the caller has
   * already materialized the successor checkpoint. COUPLED to a
   * non-public plan shape: if a Spark upgrade stops exposing the
   * checkpoint as a LogicalRDD leaf this degrades to a no-op (r16's
   * GC-reliant behavior, never wrong) — PlanAuditSpec pins the
   * blocks actually dropping so the regression is loud.
   * private[graft] for that pin. */
  private[graft] def releaseLocalCheckpoint(ckpt: DataFrame): Unit =
    ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  private[graft] def docsWithShingles(s: SparkSession, dir: String): DataFrame =
    shingled(rd(s, dir, "documents"))

  /** Shingle derivation over any (doc_id, text, ...) frame — split out
   * of [[docsWithShingles]] so the incremental pair-table verify can
   * shingle ONLY candidate-restricted docs (a semi-join placed BEFORE
   * this projection keeps the expensive tokenize+shingle off
   * non-candidate rows; placed after, every corpus row would pay it). */
  private[graft] def shingled(docs: DataFrame): DataFrame = {
    docs.withColumn("toks", toks(col("text")))
      .withColumn("sh", graft.functions.Shingles.of(col("toks"), 3))
      .select("doc_id", "sh")
  }

  /** 32-permutation MinHash signature per doc over a (doc_id, sh)
   * frame — shingles hash ONCE inside the array (longs, not strings,
   * cross the Generate), then the single-pass MinHashAgg folds all 32
   * permutation minima into one state. Shared by neardupPairs (LSH
   * banding) and q_minhash_est (estimator accuracy pin). */
  private def minhashSigs(docs: DataFrame): DataFrame = {
    // n_sh rides the same aggregation: explode emits one row per
    // shingle (sh is distinct), so count(1) is EXACTLY |sh| — the
    // length-filter bound travels with the signature and no consumer
    // pays a second corpus join for sizes
    docs.select(col("doc_id"),
        explode(graft.functions.HashArray.arrayHash(col("sh"))).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash(32)(col("h")).as("sig"),
        count(lit(1)).cast("int").as("n_sh"))
  }

  /** The signature-BUILD plan for the unfiltered corpus — the artifact
   * [[graft.sources.MinHashSigIndex]] persists (round 8): the one
   * corpus-wide explode + 32-permutation fold the whole LSH dedup
   * family used to re-run per entry. Since round 9 each row also
   * carries xxhash64(text) as `text_hash` — the content key the
   * artifact's INCREMENTAL maintenance path uses for delta detection
   * (re-sign only docs whose (doc_id, text_hash) is not already
   * covered; a changed text changes its hash, so no append-only
   * assumption is needed). */
  private[graft] def sigsPlan(s: SparkSession, dir: String): DataFrame =
    sigsPlanFor(rd(s, dir, "documents").select(col("doc_id"), col("text")))

  /** [[sigsPlan]] over an arbitrary (doc_id, text) frame — the
   * incremental path signs just the delta slice through this. The
   * text_hash rides the groupBy key (functionally dependent on doc_id,
   * so cardinality is unchanged) rather than a post-hoc join. */
  private[graft] def sigsPlanFor(docs: DataFrame): DataFrame = {
    docs
      .withColumn("toks", toks(col("text")))
      .withColumn("sh", graft.functions.Shingles.of(col("toks"), 3))
      .select(col("doc_id"), xxhash64(col("text")).as("text_hash"),
        explode(graft.functions.HashArray.arrayHash(col("sh"))).as("h"))
      .groupBy("doc_id", "text_hash")
      .agg(graft.functions.MinHashAgg.minhash(32)(col("h")).as("sig"),
        count(lit(1)).cast("int").as("n_sh"))
      .select("doc_id", "sig", "text_hash", "n_sh")
  }

  /** MinHash-LSH candidate generation + exact-Jaccard scoring over a
   * (doc_id, sh) frame — shared by q_neardup_pairs and the corpus
   * pipeline. Returns (a_id, b_id, jaccard) for pairs above `threshold`
   * with a_id < b_id. */
  /** As [[neardupPairs]] below, with the signature aggregation served
   * from a pre-built frame instead of recomputed — candidates and
   * verify are unchanged. Callers over the UNFILTERED corpus pass the
   * persisted MinHashSigIndex directly; a caller over a FILTERED
   * SUBSET of the corpus may pass the artifact semi-joined on its
   * surviving doc_ids (q_corpus_pipeline does — a signature depends
   * only on its row's text, so filtering cannot change it). Only a
   * frame whose texts differ from the corpus (e.g. q_incr_dedup's
   * re-keyed split) must compute its own signatures. */
  private[graft] def neardupPairs(docs: DataFrame, threshold: Double,
                                  sigsOpt: Option[DataFrame]): DataFrame =
    neardupPairsImpl(docs, threshold, sigsOpt)

  private[graft] def neardupPairs(docs: DataFrame, threshold: Double): DataFrame =
    neardupPairsImpl(docs, threshold, None)

  private def neardupPairsImpl(docs: DataFrame, threshold: Double,
                               sigsOpt: Option[DataFrame]): DataFrame = {
    // hash each shingle string ONCE, INSIDE the array (transform), and
    // explode the resulting longs: Generate materializes every output
    // row, and emitting 8-byte longs instead of shingle strings measured
    // ~5x faster at sf0.1 (3.1 s → 0.6 s for the corpus-wide explode) —
    // strings never leave their array. The single-pass MinHashAgg
    // aggregator (graft.functions) then folds all 32 permutations into
    // one signature state — one aggregation state/pass instead of 32 agg
    // expressions (the shuffle already carried 32 partial-min longs
    // per doc either way; the win is plan width and per-row CPU)
    val cand = selfCandidates(sigsOpt.getOrElse(minhashSigs(docs)), threshold)
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") > threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** LSH self-join candidate pairs over a signature frame, a_id < b_id,
   * distinct. Band rows carry the doc's shingle-set SIZE (n_sh,
   * computed with the signature itself — no second corpus join) so the
   * EXACT length filter (PPJoin's) can prune candidates inside the
   * join, BEFORE the distinct shuffle and the doc-array verify:
   * jacc(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair failing
   * min/max > threshold is provably below threshold — no true pair is
   * ever dropped. This is the quadratic-candidate guard at scale: a
   * 2-row band collides with probability s², so the LOW-similarity
   * pair mass (which grows ~quadratically with corpus size on a
   * self-similar corpus) leaks candidates linearly in Σ|bucket|² —
   * the scale smoke (SCALING.md) measured candidates 2.7M → 10.4M for
   * 100k → 200k synthetic docs, 99.8% of them spurious. Size filtering
   * cuts the cross-size portion of every bucket for free; the residual
   * same-size junk is the banding selectivity trade documented in
   * SCALING.md (more rows per band would square it away, at the cost
   * of recall at the declared 0.5 threshold — the oracle's
   * exact-pair-set contract keeps 16×2). */
  private def selfCandidates(sigs: DataFrame, threshold: Double): DataFrame = {
    val bands = bandsOf(sigs)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")).cast("double") >
            lit(threshold) * greatest(col("x.sz"), col("y.sz")))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** (doc_id, sz, band, bv) band rows of a signature frame — the LSH
   * blocking unit, 16 bands × 2 rows hashed to one 8-byte value.
   * Shared by the self-join candidate path above and the cross-set
   * incremental path below; a signature is a pure function of its
   * row's text, so band rows from the persisted index and from a fresh
   * aggregation are interchangeable. */
  private def bandsOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 16).map(b => struct(lit(b).as("band"),
      xxhash64(element_at(col("sig"), 2 * b + 1),
        element_at(col("sig"), 2 * b + 2)).as("bv")))
    sigs
      .select(col("doc_id"), col("n_sh").as("sz"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sz"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** Cross-set near-dup pairs for INCREMENTAL pair-table maintenance
   * (NeardupPairsIndex refresh; the q_incr_dedup cross-set shape
   * applied to the persisted artifact): candidates are band collisions
   * between the DELTA's signatures and the FULL signature table —
   * never corpus × corpus — normalized to a_id < b_id (a delta-delta
   * pair collides from both sides; the distinct absorbs it), with the
   * same exact length filter as the self-join path. A pair (x, y)
   * survives iff it shares a band AND verifies above threshold — the
   * identical condition the full rebuild applies — which is what makes
   * incremental ≡ rebuild exact (NeardupPairsIndexSpec pins it). The
   * verify is the shared two-phase [[verifyCandidates]]. */
  private[graft] def neardupPairsCross[T](s: SparkSession, dir: String,
                                          threshold: Double,
                                          deltaSigs: DataFrame,
                                          fullSigs: DataFrame)
                                         (use: DataFrame => T): T = {
    val dx = bandsOf(deltaSigs)
    val fy = bandsOf(fullSigs)
    val cand = dx.as("x").join(fy.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")).cast("double") >
            lit(threshold) * greatest(col("x.sz"), col("y.sz")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .distinct()
    verifyCandidates(cand, threshold, ids =>
      shingled(rd(s, dir, "documents").join(ids, Seq("doc_id"), "left_semi")))(use)
  }

  /** The pair-table FULL-build fast path (artifact first build; the
   * one corpus-scale job a new corpus cannot avoid): LSH self-join
   * candidates from the persisted signature frame, verified by the
   * two-phase [[verifyCandidates]]. Output ≡ [[neardupPairs]]'s
   * single-stage plan — NeardupPairsIndexSpec pins the published
   * artifact against that reference plan, so the equivalence is
   * re-proven on every spec run, not assumed. */
  private[graft] def neardupPairsBuild[T](s: SparkSession, dir: String,
                                          threshold: Double,
                                          sigs: DataFrame)
                                         (use: DataFrame => T): T =
    verifyCandidates(selfCandidates(sigs, threshold), threshold, ids =>
      shingled(rd(s, dir, "documents").join(ids, Seq("doc_id"), "left_semi")))(use)

  /** [[neardupPairsBuild]] over an in-memory (doc_id, sh) frame — the
   * standalone pipeline the specs pin. */
  private[graft] def neardupPairsFast[T](docs: DataFrame, threshold: Double)
                                        (use: DataFrame => T): T =
    verifyCandidates(selfCandidates(minhashSigs(docs), threshold), threshold,
      ids => docs.join(ids, Seq("doc_id"), "left_semi"))(use)

  /** The verify prefilter's keep condition — inputs `na`/`nb` (string
   * shingle counts), `da`/`db` (sorted DISTINCT hashed shingle
   * arrays), `ih` (their merge-intersect count). Split out so the
   * exactness-critical routing is directly unit-testable
   * (SortedIntersectSpec evaluates it over crafted frames — real hash
   * collisions cannot be planted), and parameterized on Columns so the
   * same expression serves both the frame form and the fused
   * JOIN-CONDITION form (see [[verifyCandidates]]).
   *
   * Exactness argument: when the prefilter hash h (any DETERMINISTIC
   * per-element hash — the shipped one is xxhash64's high 32 bits,
   * which halves the pair-shuffle's array bytes) is injective on a
   * doc's shingle set (inj ⟺ size(d) = n, checkable per doc), |A_h| = |A|
   * and |h(A∩B)| = |A∩B|; h(A∩B) ⊆ A_h∩B_h always (equal strings hash
   * equal), so I_h ≥ I_s and U_h = |A_h|+|B_h|−I_h ≤ U_s — hence
   * jacc_h = I_h/U_h ≥ jacc_s. Cross-collisions between the two docs
   * can only INFLATE jacc_h, never deflate it. So for a pair with both
   * sides injective, jacc_h > threshold keeps every true pair
   * (jacc_s > threshold ⟹ jacc_h > threshold); a pair with EITHER
   * side non-injective bypasses the prefilter entirely (kept
   * unconditionally — the bound needs injectivity). False survivors
   * are eliminated by the string-exact phase 2, so the two-phase
   * result is equal to the single-stage plan BY CONSTRUCTION, not
   * probabilistically.
   *
   * The comparison is the single-`ih`-reference algebraic form
   * ih·(1+t) + 0.5 > t·(|da|+|db|) — over the reals equivalent to
   * jacc_h > t — with a HALF-INTEGER slack: ih is an integer, so the
   * slack changes the outcome only for pairs whose jacc_h sits within
   * rounding distance of t (kept, then killed by phase 2 — a
   * graph-sized handful), while swallowing any double-rounding
   * asymmetry between this form and phase 2's division form — the
   * losslessness proof needs no floating-point case analysis. Single
   * reference matters in the fused join condition, where each `ih`
   * occurrence re-runs the merge kernel. */
  private[graft] def prefilterKeepExpr(threshold: Double,
                                       na: Column, da: Column,
                                       nb: Column, db: Column,
                                       ih: Column): Column =
    na =!= size(da) || nb =!= size(db) ||
      ih.cast("double") * lit(1.0 + threshold) + lit(0.5) >
        lit(threshold) * (size(da) + size(db))

  /** [[prefilterKeepExpr]] over the phase-1 frame's column names. */
  private[graft] def prefilterKeep(threshold: Double): Column =
    prefilterKeepExpr(threshold, col("na"), col("da"),
      col("nb"), col("db"), col("ih"))

  /** Two-phase EXACT verify of LSH candidate pairs — the near-dup
   * family's scale fix for the verify stage, which profiling measured
   * as 86 s of the 109 s full build at 220k docs (7.6M candidates, 20k
   * true pairs — 99.7% spurious, each paying a string-array
   * `array_intersect`).
   *
   * Phase 1 joins the candidate pairs to a NARROW per-doc frame —
   * sorted distinct hashed shingles (4 bytes/shingle, the hi32 form,
   * instead of the ~20-byte strings) — and prunes with [[prefilterKeep]]'s
   * jacc-over-hashes bound via the [[graft.functions.SortedIntersect]]
   * merge kernel: provably lossless (see prefilterKeep), so survivors
   * ⊇ true pairs and are graph-sized. Phase 2 joins ONLY the survivors
   * back to the string shingle arrays and applies the original exact
   * string-Jaccard condition — identical output to the single-stage
   * plan, with the corpus-scale join mass carried on hashed longs and
   * the string `array_intersect` paid by the graph-sized remnant.
   *
   * `docsFor(ids)` supplies the (doc_id, sh) verify frame restricted
   * to the candidate-endpoint ids — callers place the semi-join BELOW
   * their shingle projection so non-candidate rows never pay
   * tokenize+shingle (the r12 cross-path trick, now shared by the full
   * build).
   *
   * Loan-pattern: cand feeds three subtrees (endpoint ids + the
   * phase-1 join) and the restricted docs frame feeds both phase-1
   * hashed sides and both phase-2 string sides; relying on
   * ReuseExchange to dedupe them did not materialize (r12
   * measurement), so both are cached for the duration of `use`'s
   * action and dropped on exit. */
  private def verifyCandidates[T](cand0: DataFrame, threshold: Double,
                                  docsFor: DataFrame => DataFrame)
                                 (use: DataFrame => T): T = {
    val cand = cand0.cache()
    val ids = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // one cached frame carries both representations; columnar cache
    // pruning serves phase 1 the long arrays only and phase 2 the
    // strings only
    val v = docsFor(ids)
      .withColumn("d", sort_array(array_distinct(
        graft.functions.HashArray.arrayHashHi32(col("sh")))))
      .withColumn("n", size(col("sh")))
      .cache()
    try {
      val ha = v.select(col("doc_id").as("a_id"), col("d").as("da"),
        col("n").as("na"))
      val hb = v.select(col("doc_id").as("b_id"), col("d").as("db"),
        col("n").as("nb"))
      // SHUFFLE-HASH, not sort-merge: the candidate side is the big one
      // (SCALING.md: 47.65M pairs at 550k docs) and under SMJ the
      // second join SORTS it carrying the first join's array payload —
      // tens of GB of spill that dominated the whole build. Hash-
      // building on the hashed-doc side (narrow, corpus-CARDINALITY —
      // per-partition build fits by sizing shuffle.partitions, the
      // standard lake-scale knob) streams the candidate side with no
      // sort. The prefilter is FUSED into join 2's condition, not a
      // filter above it: the probe evaluates it per match and emits
      // ONLY survivors, so the 47.65M spurious pairs never materialize
      // as joined output rows — materializing them (two array copies
      // per row) was the dominant cost even under shuffle-hash
      // (SCALING.md, 550k docs: survivors-as-filter 74 s, fused 11.8 s).
      val j1 = cand.join(ha.hint("shuffle_hash"), "a_id")
      val surv = j1.as("l").join(hb.hint("shuffle_hash").as("r"),
          col("l.b_id") === col("r.b_id") &&
            prefilterKeepExpr(threshold,
              col("l.na"), col("l.da"), col("r.nb"), col("r.db"),
              graft.functions.SortedIntersect.of(col("l.da"), col("r.db"))))
        .select(col("l.a_id").as("a_id"), col("l.b_id").as("b_id"))
      val a = v.select(col("doc_id").as("a_id"), col("sh").as("sa"))
      val b = v.select(col("doc_id").as("b_id"), col("sh").as("sb"))
      // phase 2's build side is the graph-sized survivor set
      use(surv.hint("shuffle_hash").join(a, "a_id").join(b, "b_id")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("jaccard") > threshold)
        .select("a_id", "b_id", "jaccard"))
    } finally { v.unpersist(); cand.unpersist() }
  }

  /** Sequential-fold double dot product over two float arrays, via the
   * codegen [[graft.functions.FloatVecDot]] kernel (bit-identical to the
   * zip_with/aggregate HOF fold and to the oracle's list_dot_product
   * over double-cast lists, ~20x faster). */
  private def dot(a: String, b: String): Column =
    graft.functions.VectorFunctions.vecDot(col(a), col(b))

  private def l2(a: String): Column = sqrt(dot(a, a))

  /** Single-pass cosine via [[graft.functions.FloatVecCosine]]:
   * bit-identical to dot(a,b)/(l2(a)*l2(b)) at a third of the array
   * traffic (one fused loop instead of three). */
  private def cosine(a: String, b: String): Column =
    graft.functions.VectorFunctions.vecCosine(col(a), col(b))

  /** q_semdedup's hot-cluster split threshold: clusters past this many
   * rows subdivide through [[graft.plans.Salting.saltedSelfSides]]
   * (same defaults as the kNN edge build's hot-bucket split — the
   * sibling skewed-key quadratic). Gate corpora sit far under it, so
   * gate plans keep the pre-split broadcast shape. */
  private[graft] val SEMDEDUP_SPLIT = 2048L

  /** The q_semdedup dropped set — (label, bi) pairs where some
   * lower-id same-cluster vector is within τ=0.3 cosine — with the
   * cluster self-join hot-split at `splitRows` (VERDICT r12 item 1).
   * Every in-cluster pair meets exactly once whatever the split (the
   * Salting contract), and `ai < bi` dedups orientation, so the result
   * is row-identical to the unsplit join; SaltingSpec plants a hot
   * cluster and pins the equivalence. Exposed for that spec. */
  private[graft] def semdedupDropped(e: DataFrame,
                                     splitRows: Long): DataFrame = {
    val (a0, b0) = graft.plans.Salting.saltedSelfSides(
      e, "label", "vec_id", splitRows, graft.sources.KnnGraphIndex.MAX_SUB)
    val a = a0.select(col("label"), col("sub"), col("vec_id").as("ai"),
      col("embedding").as("ea"))
    val b = b0.select(col("label"), col("sub"), col("vec_id").as("bi"),
      col("embedding").as("eb"))
    // merge-pinned for the same reason as the kNN edge build (see
    // KnnGraphIndex.edgesFor): a blocked self-join's probe keys each
    // match a whole cluster, and walking a HashedRelation chain per
    // pair measured ~8x the CPU of SMJ's contiguous buffered group
    a.hint("merge").join(b, Seq("label", "sub"))
      .filter(col("ai") < col("bi"))
      .withColumn("cos", cosine("ea", "eb"))
      .filter(col("cos") > 0.3)
      .select(col("label"), col("bi")).distinct()
  }

  /** 16-way LSH sign bucket from the first 4 embedding components —
   * the blocking key for pairwise similarity (bounded candidates at any
   * scale) and the IVF cell for probe-bucket search. */
  private def signBucket(a: String): Column =
    expr(s"""CAST(element_at($a, 1) > 0 AS INT)
            |+ 2 * CAST(element_at($a, 2) > 0 AS INT)
            |+ 4 * CAST(element_at($a, 3) > 0 AS INT)
            |+ 8 * CAST(element_at($a, 4) > 0 AS INT)""".stripMargin)

  private val signBucketSql =
    """CAST(embedding[1] > 0 AS INTEGER) + 2 * CAST(embedding[2] > 0 AS INTEGER)
      | + 4 * CAST(embedding[3] > 0 AS INTEGER) + 8 * CAST(embedding[4] > 0 AS INTEGER)""".stripMargin

  private val cosSql =
    """list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                 list_transform(pe, x -> CAST(x AS DOUBLE)))
      | / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE))))
      |    * sqrt(list_dot_product(list_transform(pe, x -> CAST(x AS DOUBLE)),
      |                            list_transform(pe, x -> CAST(x AS DOUBLE)))))""".stripMargin

  /** Per-(doc, query-term) BM25 partial scores (k1=1.2, b=0.75, Lucene
   * idf) for the fixed 5-term query — shared by q_bm25 and
   * q_rrf_fusion. tf comes from filtering the tiny term array against
   * each doc's token array MAP-SIDE (no corpus token explode); df/N/
   * avgdl are tiny broadcasts; the per-term score truncates to
   * decimal(18,6) so cross-term sums are exact (see q_bm25's
   * determinism note). Returns (doc_id, dl, term, tf, tscore). */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    // ONE pass over the text: the corpus reduces to a compact
    // (doc_id, dl, ≤5 tf entries) projection — ~20 bytes/doc, no text —
    // and stats/tf/df all derive from that cached table. Without this,
    // each derivation (and each ranker branch in q_rrf_fusion) re-scans
    // and re-tokenizes the corpus: 6 parquet scans of `documents` in
    // the uncached plan vs 1 here.
    val base = rd(s, dir, "documents")
      .withColumn("toks", toks(col("text")))
      .withColumn("dl", size(col("toks")).cast("long"))
      .withColumn("qterms",
        array(Seq("spark", "query", "window", "hash", "stream").map(lit): _*))
      .select(col("doc_id"), col("dl"), expr(
        """filter(transform(qterms,
          |         t -> struct(t AS term,
          |                     CAST(size(filter(toks, x -> x = t)) AS BIGINT)
          |                       AS tf)),
          |       p -> p.tf > 0)""".stripMargin).as("tfs"))
      .cache()
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("tfs")).as("p"))
      .select(col("doc_id"), col("dl"),
        col("p.term").as("term"), col("p.tf").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("tscore",
        (log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))
          * ((col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") + lit(1.2)
              * (lit(0.25) + lit(0.75)
                * (col("dl").cast("double")
                  / (col("sum_dl").cast("double")
                    / col("n_docs").cast("double")))))))
          .cast(DecimalType(18, 6)))
      .select("doc_id", "dl", "term", "tf", "tscore")
  }

  val defs: Vector[QueryDef] = Vector(

    // ---- exact dedup: hash-groupBy on normalized text ----------------
    // At 100 TB this is one shuffle on a 32-byte digest; the text itself
    // never travels (md5 computed map-side, min-id reduce).
    QueryDef.sql("q_dedup_exact",
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |       md5(LOWER(TRIM(text))) AS text_md5
        |FROM documents GROUP BY md5(LOWER(TRIM(text)))
        |ORDER BY keep_id""".stripMargin),

    // ---- near-dup pairs: MinHash + LSH banding, exact-Jaccard verify -
    // The declared semantics are EXACT (3-gram-shingle Jaccard > 0.5);
    // MinHash banding (32 hashes, 16 bands x 2 rows) only bounds the
    // candidate set. Band-collision probability is 1-(1-j^2)^16: ≈0.99
    // at j=0.5 and ≈1-1e-12 at j≥0.9. This corpus is bimodal — planted
    // near-dups sit at j≥0.9 and random word-soup pairs below 0.15 with
    // nothing in between — so candidates+verify equals the exact oracle
    // with probability ~1-1e-10 per round. A corpus with mass AT the
    // threshold would need more bands (recall) traded against candidate
    // volume; the exact-verify step keeps precision exact regardless.
    QueryDef("q_neardup_pairs",
      (s, dir) => {
        // round 12: served from the persisted pair-table artifact
        // (sources.NeardupPairsIndex) — candidates+verify run once per
        // corpus stamp, every downstream consumer reads the graph-sized
        // pair table. Build path = the same banded pipeline as before
        // (buildPlan), spec-pinned equivalent to a fresh run.
        graft.sources.NeardupPairsIndex.pairs(s, dir)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |        len(list_intersect(a.s, b.s)) AS i,
             |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
             |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             |SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / u, 4) AS jaccard
             |FROM p WHERE CAST(i AS DOUBLE) / u > 0.5
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- MinHash estimator accuracy (the sketch's own contract) --------
    // q_neardup_pairs uses MinHash only to GENERATE candidates and
    // verifies with exact Jaccard; this entry pins the ESTIMATOR itself
    // — matching-component fraction of the 32-perm signatures — within
    // ±0.3 of exact Jaccard for every surfaced pair (σ ≈ 0.09 at
    // J ≈ 0.55, so the bound is ~3.4σ; fixed xxhash64 seeds make every
    // estimate deterministic, pre-validated at all three sfs). The
    // MinHash analog of the HLL/CMS/quantile est_ok pins: a permutation
    // or fold regression in MinHashAgg now hash-fails the gate, not
    // just MinHashAggSpec. Signatures join back to the 25-pair
    // candidate set — 64 longs per pair, never shingle sets.
    QueryDef("q_minhash_est",
      (s, dir) => {
        // pairs from the persisted pair table (round 12), signatures
        // from the persisted signature table — the estimator audit is a
        // pure graph-sized join of the two artifacts
        val sigs = graft.sources.MinHashSigIndex.sigs(s, dir)
        graft.sources.NeardupPairsIndex.pairs(s, dir)
          .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
          .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sigb")), "b_id")
          .withColumn("est", expr(
            "size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v)) / 32.0D"))
          .select(col("a_id"), col("b_id"),
            round(col("jaccard"), 4).as("jaccard"),
            (abs(col("est") - col("jaccard")) <= 0.3).as("est_ok"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |        len(list_intersect(a.s, b.s)) AS i,
             |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
             |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             |SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / u, 4) AS jaccard,
             |  TRUE AS est_ok
             |FROM p WHERE CAST(i AS DOUBLE) / u > 0.5
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- incremental signature maintenance ≡ full rebuild ------------
    // The oracle pin for the signature index's incremental refresh
    // (MinHashSigIndex through Q.ensureStampedIncr): a scenario corpus
    // (the even-doc_id half of documents, for bench economy) is grown
    // in two steps inside a content-stamped tmp twin — base slice
    // (doc_id % 14 != 0) written and signed, then the delta appended
    // and the artifact refreshed through the INCREMENTAL path (keep
    // still-covered rows, sign only the delta, union, atomic
    // republish). The entry then full-outer joins the served artifact
    // against a from-scratch sigsPlan over the grown corpus and emits
    // the three disagreement counts, which the oracle pins to ZERO —
    // rows only the artifact has, rows only the rebuild has, and
    // doc_ids where signatures or text hashes differ. n_docs (= the
    // scenario's row count) comes from the same deterministic filter in
    // both engines, so a scenario-construction bug cannot hide behind
    // vacuous zero counts. Scenario and artifact are both stamped by
    // the SOURCE corpus content: reruns serve the incrementally-built
    // artifact and re-verify equivalence without re-paying
    // construction; a regenerated corpus rebuilds both and sweeps the
    // stale twins.
    // Not QueryDef.sql: the persisted signature index's incremental refresh.
    QueryDef("q_incr_sigs",
      (s, dir) => {
        import java.nio.file.Files
        val scenario = graft.sources.ArtifactStore.stamped(
          "graft_incrscn2_", dir, "documents")
        val scn = scenario.path
        val ready = scn.resolve("_READY")
        if (!Files.exists(ready)) {
          // single-writer scenario construction (the driver runs one
          // process; a crashed half-scenario is rebuilt from scratch).
          // Built in place, not through Q.ensureStamped: its signature
          // index is tagged by the scenario's own path, so a build in
          // staging would orphan that index at publish
          Q.deleteRecursively(scn)
          val docs = rd(s, dir, "documents")
            .filter(col("doc_id") % 2 === 0)
            .select("doc_id", "text")
          docs.filter(col("doc_id") % 14 =!= 0)
            .write.parquet(scn.resolve("documents.parquet").toString)
          graft.sources.MinHashSigIndex.sigs(s, scn.toString).count()
          docs.filter(col("doc_id") % 14 === 0)
            .write.mode("append")
            .parquet(scn.resolve("documents.parquet").toString)
          // the stamp changed, a complete sibling survives → this call
          // runs the incremental path and republishes
          graft.sources.MinHashSigIndex.sigs(s, scn.toString).count()
          Files.createFile(ready)
          Q.sweepStaleSiblings(scenario)
        }
        val art = graft.sources.MinHashSigIndex.sigs(s, scn.toString)
        val full = graft.queries.LlmOps.sigsPlan(s, scn.toString)
        val cmp = art.select(col("doc_id"), col("sig").as("asig"),
            col("text_hash").as("ah"), col("n_sh").as("an"))
          .join(full.select(col("doc_id"), col("sig").as("fsig"),
            col("text_hash").as("fh"), col("n_sh").as("fn")),
            Seq("doc_id"), "full_outer")
          .agg(
            // coalesce: on an empty corpus the full_outer join has no
            // rows and sum() yields NULL; the oracle declares 0
            coalesce(sum(when(col("fsig").isNull, lit(1L)).otherwise(lit(0L))),
              lit(0L)).as("n_only_artifact"),
            coalesce(sum(when(col("asig").isNull, lit(1L)).otherwise(lit(0L))),
              lit(0L)).as("n_only_full"),
            coalesce(sum(when(col("asig").isNotNull && col("fsig").isNotNull &&
                (col("asig") =!= col("fsig") || col("ah") =!= col("fh") ||
                  col("an") =!= col("fn")),
              lit(1L)).otherwise(lit(0L))), lit(0L)).as("n_sig_diff"))
        rd(s, scn.toString, "documents")
          .agg(count(lit(1)).as("n_docs")).crossJoin(cmp)
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
             |    AS n_docs,
             |  0::BIGINT AS n_only_artifact,
             |  0::BIGINT AS n_only_full,
             |  0::BIGINT AS n_sig_diff""".stripMargin)),

    // ---- asymmetric containment join (prefix filter, EXACT) ----------
    // Finds docs mostly CONTAINED in another doc — C(A,B) = |sh(A) ∩
    // sh(B)| / |sh(A)| ≥ 0.8 — the decontamination / quote-detection
    // case MinHash-LSH structurally misses (a small doc inside a big
    // one has low Jaccard but high containment). Candidates come from
    // the PPJoin prefix filter, which is EXACT, not probabilistic: if
    // C(A,B) ≥ t then B misses at most (1−t)·|A| of A's shingles, so A
    // and B must share one of A's ⌊(1−t)·|A|⌋+1 first shingles under
    // ANY fixed global order. We order by (global df asc, hash asc) —
    // rarest first — so each probe key's inverted-index posting list is
    // the SHORTEST available, bounding candidates per doc at any corpus
    // size (the common-shingle hot keys are exactly the ones the prefix
    // never probes). Shuffles carry 8-byte shingle hashes; the string
    // arrays appear only in the final candidate-only verify join (the
    // neardupPairs posture). Per-doc window sorts are bounded by doc
    // length, never corpus size.
    QueryDef("q_containment",
      (s, dir) => {
        // shingle strings are hashed ONCE at the scan into SORTED long
        // arrays and never appear again — the inverted index, the
        // prefix, and the verify all run over 8-byte hashes (the
        // neardupPairs explode lesson: long Generate output measured
        // ~5x faster), with the verify a sorted_long_intersect merge
        // instead of array_intersect's per-row hash-set build.
        // 64-bit collisions across a corpus's distinct shingles are
        // ~1e-9-probability; the sf0.01 oracle pass pins the actual data.
        // cached: feeds the maxK driver scalar's own action plus three
        // branches of the final plan (ex derivation + both verify
        // sides) — uncached, the scan + shingle + hash prefix re-ran
        // per branch (A/B: 2.58 s vs 2.20 s, 3-rep mins). Sorted at
        // the scan so the verify can run the sorted_long_intersect
        // merge kernel — nothing downstream is order-sensitive (the
        // explode, df counts, and prefix ranking all re-order anyway),
        // and |hs| is unchanged, so the containment value is identical.
        val docs = docsWithShingles(s, dir)
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"), sort_array(
            graft.functions.HashArray.arrayHash(col("sh"))).as("hs"))
          .cache()
        // one explode, NOT cached (round 10): its three consumers all
        // sit in the one final plan over the already-cached docs, and
        // re-reading the cache beats materializing the exploded rows
        // (same A/B as q_cooccur's basket frame)
        val ex = docs.select(col("doc_id"), size(col("hs")).as("sz"),
          explode(col("hs")).as("h"))
        val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
        // prefix cut via the TopKPerKey partial prune: every doc needs
        // its ⌊0.2·sz⌋+1 rarest shingles, so pruning to the CORPUS-max
        // k map-side before the per-doc ranking shuffle cuts that
        // exchange to ~20% of the exploded rows (the bare window
        // shuffled every (doc, shingle, df) row). maxK is one scalar
        // over the cached docs — doc-cardinality, not corpus-scale.
        val maxSzRow = docs.agg(max(size(col("hs")))).head()
        // same floor(sz*0.2)+1 arithmetic as the per-doc filter below,
        // evaluated at the corpus max — so the prune can never drop a
        // row the filter would keep
        val maxK =
          if (maxSzRow.isNullAt(0)) 1
          else math.floor(maxSzRow.getInt(0) * 0.2).toInt + 1
        val prefix = graft.plans.TopK.perKey(ex.join(dfreq, "h"),
            Seq("doc_id"), Seq(col("df").asc, col("h").asc), maxK)
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)))
          .filter(col("rk") <= floor(col("sz") * lit(0.2)).cast("int") + lit(1))
          .select(col("doc_id").as("a_id"), col("sz").as("sza"), col("h"))
        // candidate distinct stays BEFORE the verify: deduping after
        // it instead (dropping this exchange) measured 2.38 s vs
        // 2.07 s — a pair surfacing via several prefix shingles pays
        // its array intersection per duplicate, which outweighs the
        // candidate-set shuffle. The EXACT length filter prunes inside
        // the join (PPJoin's, same as the LSH family's): C(A,B) =
        // |A∩B|/|A| ≥ 0.8 forces |B| ≥ |A∩B| ≥ 0.8·|A|, so any pair
        // with |B| < 0.8·|A| is provably below threshold — no true
        // pair can be lost, and the cross-size candidate mass never
        // reaches the distinct shuffle or the verify.
        val cand = prefix
          .join(ex.select(col("doc_id").as("b_id"), col("sz").as("szb"),
              col("h")),
            Seq("h"))
          .filter(col("a_id") =!= col("b_id") &&
            col("szb").cast("double") >= col("sza") * lit(0.8))
          .select("a_id", "b_id").distinct()
        cand
          .join(docs.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
          .join(docs.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
          .withColumn("containment",
            graft.functions.SortedIntersect.of(col("ha"), col("hb"))
              .cast("double") / size(col("ha")))
          .filter(col("containment") >= 0.8)
          .select(col("a_id"), col("b_id"),
            round(col("containment"), 4).as("containment"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 4)
             |    AS containment
             |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
             |WHERE len(a.s) > 0 AND len(b.s) > 0
             |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- token frequencies: top-5 per language -----------------------
    QueryDef("q_text_tokens",
      (s, dir) => {
        // top-5 per lang cut by the TopKPerKey partial prune first (the
        // aggregated table is vocabulary-sized — a bare per-lang window
        // would sort the language's whole vocabulary in one partition)
        val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
        graft.plans.TopK.perKey(
            rd(s, dir, "documents")
              .select(col("lang"), explode(toks(col("text"))).as("token"))
              .groupBy("lang", "token").agg(count(lit(1)).as("cnt")),
            Seq("lang"), Seq(col("cnt").desc, col("token").asc), 5)
          .withColumn("rn", row_number().over(w).cast("int"))
          .select("lang", "token", "cnt", "rn")
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, token, cnt, rn FROM (
             |  SELECT lang, token, cnt,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY cnt DESC, token) AS INTEGER) AS rn
             |  FROM (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
             |        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
             |              FROM documents) u
             |        GROUP BY lang, token) c) r
             |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),

    // ---- per-source corpus stats -------------------------------------
    QueryDef("q_text_stats",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("n_words", size(toks(col("text"))).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
            (sum(col("n_words")).cast("double") / count(lit(1))).as("avg_words"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
             |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_words,
             |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- per-doc unigram entropy (information-density filter) ---------
    // Shannon entropy of each document's token distribution in bits —
    // the standard low-information filter (boilerplate / keyword-stuffed
    // / template docs score low, natural prose high). One map-side
    // explode + (doc_id, tok) count + per-doc agg: shuffles carry
    // (doc, token-hashable) count rows, never text bodies, and every
    // aggregation is partial-merge-friendly — the same two-shuffle shape
    // at any corpus size. Float determinism: H = log2(n) − (Σ c·log2 c)/n
    // keeps log2 applied only to exact integers (identical IEEE inputs
    // in both engines); the per-row c·log2(c) term is rounded onto a
    // 6-dp decimal grid so the SUM is order-independent (the Q.dsumS
    // policy), and the final `+ 0.0` collapses any −0.0 from the
    // rounding so both engines print the same zero.
    QueryDef("q_token_entropy",
      (s, dir) => {
        val cnt = rd(s, dir, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        cnt.groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            Q.dsumS(col("c").cast("double") * log2(col("c").cast("double")), 6)
              .as("slc"))
          .withColumn("entropy_bits",
            round(log2(col("n_tokens").cast("double"))
              - col("slc") / col("n_tokens").cast("double"), 4) + lit(0.0))
          .select("doc_id", "n_tokens", "n_distinct", "entropy_bits")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |           FROM documents),
             |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
             |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |        COUNT(*) AS n_distinct,
             |        ${Q.dsumSqlS("CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))", 6)} AS slc
             |      FROM c GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_distinct,
             |  ROUND(log2(CAST(n_tokens AS DOUBLE))
             |        - slc / CAST(n_tokens AS DOUBLE), 4) + 0.0 AS entropy_bits
             |FROM a ORDER BY doc_id""".stripMargin)),

    // ---- tokenizer vocabulary coverage (OOV rate per source) ----------
    // The tokenizer-health metric a pipeline checks before committing to
    // a vocab: with vocab = the top-k corpus tokens (deterministic cut:
    // count desc, token asc — a TOTAL order, so the rank-k boundary
    // cannot wobble between engines), what fraction of each source's
    // token OCCURRENCES falls outside it? Plan shape: one explode →
    // (token)-keyed partial-agg counts (vocab-sized ≪ corpus), top-k via
    // TakeOrdered, vocab BROADCAST back over the token stream (a real
    // vocab is ≤ a few hundred k entries — always broadcastable), one
    // (source)-keyed agg. OOV rate is a ratio of exact integers —
    // bit-identical IEEE in both engines.
    QueryDef("q_oov_rate",
      (s, dir) => {
        val tok = rd(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok").asc).limit(10)
          .select(col("tok"), lit(1).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             |           FROM documents),
             |v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM t
             |        GROUP BY tok ORDER BY c DESC, tok LIMIT 10)),
             |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             |             AS BIGINT) AS n_oov
             |      FROM t LEFT JOIN v ON t.tok = v.tok
             |      GROUP BY source)
             |SELECT source, n_tokens, n_oov,
             |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
             |FROM a ORDER BY source""".stripMargin)),

    // ---- per-doc quality scores (stopword ratio, TTR, token count) ---
    QueryDef("q_text_quality",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("toks", toks(col("text")))
          .select(col("doc_id"),
            size(col("toks")).cast("int").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("int").as("n_uniq"),
            (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
              .as("ttr"),
            (size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))"))
              .cast("double") / size(col("toks"))).as("stopword_ratio"),
            (col("n_chars").cast("double") / size(col("toks"))).as("avg_token_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(ts) AS INTEGER) AS n_tokens,
             |  CAST(len(list_distinct(ts)) AS INTEGER) AS n_uniq,
             |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS ttr,
             |  CAST(len(list_filter(ts, t -> t IN ('the', 'a', 'of', 'and', 'to')))
             |       AS DOUBLE) / len(ts) AS stopword_ratio,
             |  CAST(n_chars AS DOUBLE) / len(ts) AS avg_token_len
             |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ts
             |      FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // ---- array-function battery (size/sort/slice/contains/distinct) --
    QueryDef("q_array_fns",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("toks", toks(col("text")))
          .select(col("doc_id"),
            expr("element_at(toks, 1)").as("first_tok"),
            expr("element_at(toks, -1)").as("last_tok"),
            concat_ws(",", slice(array_sort(array_distinct(col("toks"))), 1, 3))
              .as("first3_sorted"),
            array_contains(col("toks"), "spark").as("has_spark"),
            expr("size(array_intersect(toks, array('join', 'merge', 'sort')))")
              .cast("int").as("n_verbs"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  ts[1] AS first_tok,
             |  ts[-1] AS last_tok,
             |  array_to_string(list_sort(list_distinct(ts))[1:3], ',') AS first3_sorted,
             |  list_contains(ts, 'spark') AS has_spark,
             |  CAST(len(list_intersect(ts, ['join', 'merge', 'sort'])) AS INTEGER)
             |    AS n_verbs
             |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // ---- order-insensitive bag fingerprint (dedup primitive) ---------
    QueryDef("q_fingerprint",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("toks", toks(col("text")))
          .select(col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(col("toks")))))
              .as("token_set_md5"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             |    AS token_set_md5,
             |  md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- vector sanity: dims, norms ----------------------------------
    QueryDef("q_vec_norm",
      (s, dir) => {
        rd(s, dir, "embeddings")
          .select(col("vec_id"),
            size(col("embedding")).cast("int").as("dim"),
            round(l2("embedding"), 4).as("l2_norm"),
            expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)")
              .as("max_abs"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
             |  ROUND(sqrt(list_dot_product(
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS l2_norm,
             |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
             |    AS max_abs
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- int8 embedding quantization (vector compression) -------------
    // The storage/serving compression step of an embedding pipeline:
    // symmetric per-vector int8 quantization (scale = 127 / max|x|, the
    // faiss/SQ8 shape) — 4x smaller vectors for the ANN index. Pure
    // map-side array arithmetic, no shuffle. Verified EXACTLY: both
    // engines build the identical double (x * scale) and round it
    // away-from-zero, so the quantized vector is pinned through integer
    // checksums (sum/min/max/saturation-count) — no float-error columns
    // that could drift. All-zero vectors quantize to zeros (scale
    // guard), never NaN.
    QueryDef("q_vec_quantize",
      (s, dir) => {
        rd(s, dir, "embeddings")
          .withColumn("max_abs",
            expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)"))
          .withColumn("q", expr(
            """transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
              |  (CASE WHEN max_abs = 0.0 THEN 0.0 ELSE 127.0 / max_abs END))
              |  AS INT))""".stripMargin))
          .select(col("vec_id"),
            size(col("embedding")).cast("int").as("dim"),
            expr("aggregate(q, 0L, (a, v) -> a + v)").as("sum_q"),
            expr("array_min(q)").as("min_q"),
            expr("array_max(q)").as("max_q"),
            expr("size(filter(q, v -> abs(v) = 127))").cast("int").as("n_sat"))
          .orderBy("vec_id")
      },
      Some("""WITH m AS (SELECT vec_id, embedding,
             |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
             |    AS max_abs
             |  FROM embeddings),
             |q AS (SELECT vec_id, len(embedding) AS dim,
             |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
             |    (CASE WHEN max_abs = 0.0 THEN 0.0 ELSE 127.0 / max_abs END))
             |    AS INTEGER)) AS qv
             |  FROM m)
             |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
             |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
             |  CAST(list_min(qv) AS INTEGER) AS min_q,
             |  CAST(list_max(qv) AS INTEGER) AS max_q,
             |  CAST(len(list_filter(qv, v -> abs(v) = 127)) AS INTEGER) AS n_sat
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ---- brute-force cosine top-k (the baseline ANN path) ------------
    // One scan, map-side scoring, TakeOrdered(10): no shuffle of vectors.
    QueryDef("q_knn_cosine",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pe"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .withColumn("cos", cosine("embedding", "pe"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), round(col("cos"), 4).as("cosine"))
      },
      Some(s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
              |s AS (SELECT vec_id, $cosSql AS cos
              |      FROM embeddings, p WHERE vec_id <> 0)
              |SELECT vec_id, ROUND(cos, 4) AS cosine FROM s
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- batched ANN: many probes, one scan ---------------------------
    // The serving shape for k-NN at scale: broadcast the (small) probe
    // set, score every (vector, probe) pair map-side in ONE pass over
    // the corpus, keep top-3 per probe with a window — corpus is read
    // once no matter how many probes ride along.
    QueryDef("q_knn_batch",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
        // per-probe top-3 via TopKPerKey, NOT a window: a per-probe
        // window partition is the whole scored corpus (and windows get
        // no AQE skew split) — the partial prune caps each map
        // partition's contribution at 3 rows per probe before anything
        // shuffles; the rn label is then a window over ≤ 3 rows/probe
        val scored = e.filter(col("vec_id") >= 5).crossJoin(broadcast(probes))
          .withColumn("cos", cosine("embedding", "pe"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("vec_id"))
        graft.plans.TopK.perKey(scored, Seq("probe_id"),
            Seq(col("cos").desc, col("vec_id").asc), 3)
          .withColumn("rn", row_number().over(w).cast("int"))
          .select(col("probe_id"), col("vec_id"), col("rn"),
            round(col("cos"), 4).as("cosine"))
          .orderBy("probe_id", "rn")
      },
      Some(s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
              |           FROM embeddings WHERE vec_id < 5),
              |s AS (SELECT probe_id, vec_id, $cosSql AS cos
              |      FROM embeddings, p WHERE vec_id >= 5),
              |r AS (SELECT probe_id, vec_id,
              |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              |          ORDER BY cos DESC, vec_id) AS INTEGER) AS rn,
              |        cos
              |      FROM s)
              |SELECT probe_id, vec_id, rn, ROUND(cos, 4) AS cosine
              |FROM r WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin)),

    // ---- IVF-style bucketed ANN: probe only the matching LSH cell ----
    QueryDef("q_knn_ivf",
      (s, dir) => {
        val e = rd(s, dir, "embeddings").withColumn("bucket", signBucket("embedding"))
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pe"), col("bucket").as("pb"))
        e.filter(col("vec_id") =!= 0).join(broadcast(probe), col("bucket") === col("pb"))
          .withColumn("cos", cosine("embedding", "pe"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("bucket"), round(col("cos"), 4).as("cosine"))
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |           FROM embeddings),
              |p AS (SELECT embedding AS pe, bucket AS pb FROM b WHERE vec_id = 0),
              |s AS (SELECT vec_id, bucket, $cosSql AS cos
              |      FROM b, p WHERE vec_id <> 0 AND bucket = pb)
              |SELECT vec_id, bucket, ROUND(cos, 4) AS cosine FROM s
              |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin)),

    // ---- embedding near-dup pairs, LSH-bucket-blocked ----------------
    // Declared semantics include the blocking key (same sign bucket), so
    // Spark and the oracle compute identical bounded pair sets: per-
    // bucket N/16 rows → the pair join is (N/16)² per bucket, linear in
    // bucket count, never global N².
    QueryDef("q_cosine_pairs",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), signBucket("embedding").as("bucket"))
        // hot-bucket split + merge pin, the semdedupDropped posture
        // (round 13): this was the last UN-SPLIT blocked pairwise
        // self-join — one dense sign bucket put its |B|² pair mass in
        // one task, and stats drift could flip the join to the
        // hash-chain-walk regime (see KnnGraphIndex.edgesFor). Split ≡
        // unsplit rows by the Salting contract; ai < bi dedups
        // orientation; gate corpora sit far under the threshold so the
        // gate plan keeps its pre-split shape apart from sub ≡ 0.
        val (a0, b0) = graft.plans.Salting.saltedSelfSides(
          e, "bucket", "vec_id", SEMDEDUP_SPLIT,
          graft.sources.KnnGraphIndex.MAX_SUB)
        val a = a0.select(col("vec_id").as("a_id"),
          col("embedding").as("ea"), col("bucket"), col("sub"))
        val b = b0.select(col("vec_id").as("b_id"),
          col("embedding").as("eb"), col("bucket"), col("sub"))
        a.hint("merge").join(b, Seq("bucket", "sub"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("cos", cosine("ea", "eb"))
          .filter(col("cos") > 0.35)
          .select(col("a_id"), col("b_id"), col("bucket"), round(col("cos"), 4).as("cosine"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |           FROM embeddings),
              |s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
              |  list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
              |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT a_id, b_id, bucket, ROUND(cos, 4) AS cosine FROM s
              |WHERE cos > 0.35 ORDER BY a_id, b_id""".stripMargin)),

    // ---- kNN graph construction (bucketed, TopKPerKey-pruned) ----------
    // The neighbor-graph builder under graph-based near-dup and
    // clustering (SemDeDup-style pipelines, HNSW bootstrap): every
    // vector's top-2 nearest neighbors WITHIN its LSH sign bucket —
    // declared semantics include the blocking key (as in
    // q_cosine_pairs), so both engines rank identical bounded candidate
    // sets and per-bucket work is (N/16)², never global N². The
    // per-vector cut goes through TopKPerKey (map-side ≤ k rows per
    // vector reach the shuffle; a bare window would sort each bucket's
    // full pair set in one partition); the rn label is then a window
    // over ≤ 2 rows per vector.
    // Since round 8 the edge set is SERVED from the shared
    // content-stamped index ([[graft.sources.KnnGraphIndex]]): the
    // Σ|bucket|²-bounded build runs once per corpus content, and this
    // entry (like the rest of the graph family) is a scan of graph-sized
    // parquet. PlanAuditSpec pins the build shape on
    // KnnGraphIndex.buildPlan, where the cost actually lives.
    QueryDef("q_knn_graph",
      (s, dir) => {
        graft.sources.KnnGraphIndex.edges(s, dir)
          .select(col("a_id"), col("rn"), col("b_id"), col("bucket"),
            round(col("cos"), 4).as("cosine"))
          .orderBy("a_id", "rn")
      },
      Some(s"""WITH bk AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |            FROM embeddings),
              |s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket,
              |  list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
              |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM bk a JOIN bk b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
              |r AS (SELECT a_id, b_id, bucket, cos,
              |        CAST(ROW_NUMBER() OVER (PARTITION BY a_id
              |          ORDER BY cos DESC, b_id) AS INTEGER) AS rn
              |      FROM s)
              |SELECT a_id, rn, b_id, bucket, ROUND(cos, 4) AS cosine
              |FROM r WHERE rn <= 2 ORDER BY a_id, rn""".stripMargin)),

    // ---- PageRank authority scoring over the kNN graph -----------------
    // Iterative graph scoring (the corpus-weighting primitive: a
    // document linked by many well-linked near-neighbors carries more
    // authority) over the same directed top-2 edge set q_knn_graph
    // builds. All arithmetic is FIXED-POINT INTEGER — ranks scaled by
    // 10^12, every division a truncating integer DIV, damping 0.85 as
    // (17·x) DIV 20 — so three unrolled iterations stay bit-exact
    // against the oracle's identical integer CTE chain (float PageRank
    // would drift per-iteration with aggregation order). Each iteration
    // is ONE shuffle: contributions aggregate on dst with map-side
    // combine; edges/degrees are computed once and reused. Dangling
    // mass is dropped (the standard simplification), mirrored in the
    // oracle. At many iterations the DataFrame loop would re-plan per
    // round — the RDD fixpoint shape of ConnectedComponents.runStar is
    // the swap-in — but at 3 unrolled rounds Catalyst plans once.
    QueryDef("q_pagerank",
      (s, dir) => pageRankRanks(s, dir, 3),
      Some(s"""WITH bk AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |            FROM embeddings),
              |sc AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
              |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM bk a JOIN bk b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
              |rk AS (SELECT a_id, b_id,
              |        ROW_NUMBER() OVER (PARTITION BY a_id
              |          ORDER BY cos DESC, b_id) AS rn
              |      FROM sc),
              |e AS (SELECT a_id, b_id FROM rk WHERE rn <= 2),
              |nn AS (SELECT COUNT(*) AS n FROM embeddings),
              |deg AS (SELECT a_id, COUNT(*) AS d FROM e GROUP BY a_id),
              |r0 AS (SELECT vec_id, 1000000000000::BIGINT // nn.n AS r
              |       FROM embeddings, nn),
              |r1 AS (SELECT v.vec_id,
              |         3000000000000::BIGINT // (20 * nn.n)
              |           + (17 * COALESCE(c.s, 0)) // 20 AS r
              |       FROM embeddings v CROSS JOIN nn
              |       LEFT JOIN (SELECT e.b_id, SUM(r0.r // deg.d) AS s
              |                  FROM e JOIN r0 ON e.a_id = r0.vec_id
              |                         JOIN deg ON e.a_id = deg.a_id
              |                  GROUP BY e.b_id) c ON c.b_id = v.vec_id),
              |r2 AS (SELECT v.vec_id,
              |         3000000000000::BIGINT // (20 * nn.n)
              |           + (17 * COALESCE(c.s, 0)) // 20 AS r
              |       FROM embeddings v CROSS JOIN nn
              |       LEFT JOIN (SELECT e.b_id, SUM(r1.r // deg.d) AS s
              |                  FROM e JOIN r1 ON e.a_id = r1.vec_id
              |                         JOIN deg ON e.a_id = deg.a_id
              |                  GROUP BY e.b_id) c ON c.b_id = v.vec_id),
              |r3 AS (SELECT v.vec_id,
              |         3000000000000::BIGINT // (20 * nn.n)
              |           + (17 * COALESCE(c.s, 0)) // 20 AS r
              |       FROM embeddings v CROSS JOIN nn
              |       LEFT JOIN (SELECT e.b_id, SUM(r2.r // deg.d) AS s
              |                  FROM e JOIN r2 ON e.a_id = r2.vec_id
              |                         JOIN deg ON e.a_id = deg.a_id
              |                  GROUP BY e.b_id) c ON c.b_id = v.vec_id)
              |SELECT vec_id, CAST(r AS BIGINT) AS rank_fp
              |FROM r3 ORDER BY vec_id""".stripMargin)),

    // ---- triangle count over the kNN graph (graph density) -------------
    // Triangles measure local clustering in the neighbor graph — dense
    // triangle neighborhoods flag semantic near-dup clusters that
    // pairwise thresholds miss, and the count is the canonical
    // graph-density health metric. Algorithm: degree-ordered
    // orientation — every undirected edge points from its smaller
    // (degree, id) endpoint to the larger, a DAG under a total order —
    // then each triangle is counted EXACTLY once as a wedge
    // (a→b, a→c) closed by the oriented edge between b and c. Out-degree
    // under this orientation is O(√m) regardless of hubs (a
    // high-in-degree kNN hub never fans out), so the wedge self-join is
    // Σ outdeg² — bounded at any scale where the naive shared-endpoint
    // join (Σ deg²) explodes. The oracle counts the same triangles with
    // the simple a<b<c triple join — same set, sf-scale cost.
    QueryDef("q_triangles",
      (s, dir) => {
        // served from the shared content-stamped edge index (round 8)
        val und = graft.sources.KnnGraphIndex.edges(s, dir)
          .select(least(col("a_id"), col("b_id")).as("u"),
            greatest(col("a_id"), col("b_id")).as("v"))
          .distinct().cache()
        val deg = und.select(col("u").as("node"))
          .union(und.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val oriented = und
          .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
          .select(
            when(col("du") < col("dv")
              || (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("s"),
            when(col("du") < col("dv")
              || (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("d"))
          .cache()
        val e1 = oriented.select(col("s").as("a"), col("d").as("b"))
        val e2 = oriented.select(col("s").as("a"), col("d").as("c"))
        val e3 = oriented.select(col("s").as("b"), col("d").as("c"))
        val tri = e1.join(e2, "a").filter(col("b") =!= col("c"))
          .join(e3, Seq("b", "c"))
          .agg(count(lit(1)).as("n_triangles"))
        und.select(col("u").as("node")).union(und.select(col("v").as("node")))
          .distinct().agg(count(lit(1)).as("n_nodes"))
          .crossJoin(und.agg(count(lit(1)).as("n_edges")))
          .crossJoin(tri)
      },
      Some(s"""WITH bk AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |            FROM embeddings),
              |sc AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
              |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM bk a JOIN bk b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
              |rk AS (SELECT a_id, b_id,
              |        ROW_NUMBER() OVER (PARTITION BY a_id
              |          ORDER BY cos DESC, b_id) AS rn
              |      FROM sc),
              |und AS (SELECT DISTINCT LEAST(a_id, b_id) AS u,
              |          GREATEST(a_id, b_id) AS v
              |        FROM rk WHERE rn <= 2),
              |nodes AS (SELECT u AS node FROM und
              |          UNION SELECT v AS node FROM und),
              |tri AS (SELECT COUNT(*) AS n_triangles
              |        FROM und ab JOIN und bc ON ab.v = bc.u
              |             JOIN und ac ON ac.u = ab.u AND ac.v = bc.v)
              |SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
              |  (SELECT COUNT(*) FROM und) AS n_edges,
              |  n_triangles
              |FROM tri""".stripMargin)),

    // ---- multi-source BFS over the kNN graph (seed expansion) ----------
    // Bounded-hop breadth-first search from a seed set over the
    // symmetrized top-2 kNN edge set — the label-propagation /
    // contamination-spread primitive: "everything within h hops of a
    // flagged document" (GPLD-style seed expansion; also the recall set
    // for graph-based retrieval). Exact min-hop per reached node, three
    // unrolled frontier rounds — each round is one equi-join of the
    // CURRENT frontier (hop = k-1 only, never the whole visited set)
    // against the edge list plus one min-aggregate, all map-side
    // combined; frontier size is bounded by the reachable set, edges by
    // 2N, so every shuffle is graph-sized at any corpus scale. Integer
    // hops — no float anywhere; the oracle unrolls the identical
    // d0→d1→d2→d3 chain. At h≫3 the DataFrame loop would re-plan per
    // round — ConnectedComponents.runStar's RDD fixpoint is the
    // documented swap-in, same as q_pagerank.
    QueryDef("q_graph_bfs",
      (s, dir) => graphBfsDist(s, dir, 3),
      Some(s"""WITH bk AS (SELECT vec_id, embedding, $signBucketSql AS bucket
              |            FROM embeddings),
              |sc AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
              |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM bk a JOIN bk b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
              |rk AS (SELECT a_id, b_id,
              |        ROW_NUMBER() OVER (PARTITION BY a_id
              |          ORDER BY cos DESC, b_id) AS rn
              |      FROM sc),
              |und AS (SELECT DISTINCT LEAST(a_id, b_id) AS u,
              |          GREATEST(a_id, b_id) AS v
              |        FROM rk WHERE rn <= 2),
              |sym AS (SELECT u AS src, v AS dst FROM und
              |        UNION ALL SELECT v AS src, u AS dst FROM und),
              |d0 AS (SELECT vec_id, 0 AS hop FROM embeddings
              |       WHERE vec_id % 50 = 0),
              |d1 AS (SELECT vec_id, MIN(hop) AS hop FROM (
              |         SELECT vec_id, hop FROM d0
              |         UNION ALL
              |         SELECT s.dst, 1 FROM d0 JOIN sym s ON d0.vec_id = s.src
              |         WHERE d0.hop = 0) GROUP BY vec_id),
              |d2 AS (SELECT vec_id, MIN(hop) AS hop FROM (
              |         SELECT vec_id, hop FROM d1
              |         UNION ALL
              |         SELECT s.dst, 2 FROM d1 JOIN sym s ON d1.vec_id = s.src
              |         WHERE d1.hop = 1) GROUP BY vec_id),
              |d3 AS (SELECT vec_id, MIN(hop) AS hop FROM (
              |         SELECT vec_id, hop FROM d2
              |         UNION ALL
              |         SELECT s.dst, 3 FROM d2 JOIN sym s ON d2.vec_id = s.src
              |         WHERE d2.hop = 2) GROUP BY vec_id)
              |SELECT vec_id, CAST(hop AS INTEGER) AS hop
              |FROM d3 ORDER BY vec_id""".stripMargin)),

    // ---- transitive dedup clusters (connected components) --------------
    // Pairwise near-dup matches → transitive clusters via the iterative
    // min-label operator (graft.operators.ConnectedComponents); cluster
    // id is the min member. The DuckDB oracle computes the same closure
    // with a recursive CTE — tractable because true-duplicate graphs
    // are tiny relative to the corpus.
    QueryDef("q_dedup_clusters",
      (s, dir) => {
        // edges from the persisted pair table (round 12): clustering is
        // a graph-sized consumer, never a corpus-scale band join
        val pairs = graft.sources.NeardupPairsIndex.pairs(s, dir)
          .select("a_id", "b_id")
        graft.operators.ConnectedComponents.runGraphX(pairs)
          .select(col("comp").as("cluster_id"), col("id").as("doc_id"))
          .orderBy("cluster_id", "doc_id")
      },
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             |                       FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0.5),
             |e AS (SELECT a_id AS src, b_id AS dst FROM p
             |      UNION SELECT b_id, a_id FROM p),
             |reach AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
             |SELECT LEAST(src, MIN(dst)) AS cluster_id, src AS doc_id
             |FROM reach GROUP BY src
             |ORDER BY cluster_id, doc_id""".stripMargin)),

    // ---- transitive clusters via large-star/small-star -----------------
    // Same declared result as q_dedup_clusters (same recursive-CTE
    // oracle), computed by ConnectedComponents.runStar — the
    // diameter-independent alternation. Keeping both in the gate pins
    // the two implementations to each other through the oracle, and the
    // bench shows the star variant's constant-rounds cost profile.
    QueryDef("q_dedup_clusters_star",
      (s, dir) => {
        val pairs = graft.sources.NeardupPairsIndex.pairs(s, dir)
          .select("a_id", "b_id")
        graft.operators.ConnectedComponents.runStar(pairs)
          .select(col("comp").as("cluster_id"), col("id").as("doc_id"))
          .orderBy("cluster_id", "doc_id")
      },
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             |                       FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0.5),
             |e AS (SELECT a_id AS src, b_id AS dst FROM p
             |      UNION SELECT b_id, a_id FROM p),
             |reach AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
             |SELECT LEAST(src, MIN(dst)) AS cluster_id, src AS doc_id
             |FROM reach GROUP BY src
             |ORDER BY cluster_id, doc_id""".stripMargin)),

    // ---- cluster representative selection (the dedup OUTPUT step) ------
    // What production dedup actually emits: ONE kept document per
    // transitive near-dup cluster (the longest member — most content —
    // ties to the smallest doc_id), singletons kept as their own
    // representative. Completes the cluster family: q_neardup_pairs
    // finds edges, q_dedup_clusters labels components, THIS picks the
    // survivors. The per-cluster argmax is a partial-aggregating
    // max(struct(n_chars, -doc_id)) — skew-safe (a pathological
    // mega-cluster combines map-side, no per-cluster window sort; the
    // q_seg_dedup min(struct) precedent), and the shuffle carries one
    // struct per (cluster × map partition), never text. The cluster
    // labels come from the GraphX CC operator (graph-sized input —
    // pairs, not corpus); the left join back to the corpus keeps every
    // unpaired doc with cluster_id = its own id.
    QueryDef("q_cluster_rep",
      (s, dir) => {
        val pairs = graft.sources.NeardupPairsIndex.pairs(s, dir)
          .select("a_id", "b_id")
        val comp = graft.operators.ConnectedComponents.runGraphX(pairs)
          .withColumnRenamed("id", "doc_id")
        rd(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("m"))
          .select(col("cluster_id"), (-col("m.neg_id")).as("rep_doc_id"),
            col("n_members"), col("m.n_chars").as("rep_chars"))
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             |                       FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                 for i in range(1, len(ts) - 1)]) AS s
             |  FROM tok),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0.5),
             |e AS (SELECT a_id AS src, b_id AS dst FROM p
             |      UNION SELECT b_id, a_id FROM p),
             |reach AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
             |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
             |         FROM reach GROUP BY src),
             |lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             |          d.n_chars
             |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
             |r AS (SELECT cluster_id, doc_id, n_chars,
             |        ROW_NUMBER() OVER (PARTITION BY cluster_id
             |          ORDER BY n_chars DESC, doc_id) AS rn,
             |        COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
             |      FROM lab)
             |SELECT cluster_id, doc_id AS rep_doc_id,
             |  CAST(n_members AS BIGINT) AS n_members, n_chars AS rep_chars
             |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // ---- incremental dedup: new batch vs existing corpus ---------------
    // The ingestion shape: an incoming batch (simulated as doc_id % 10
    // == 0) is checked for near-duplicates against the EXISTING corpus
    // only — candidates come from the same MinHash band join but across
    // the two sets, so daily ingest cost scales with the batch, not the
    // corpus². Declared semantics (exact cross-set Jaccard > 0.5) are
    // what the oracle computes.
    QueryDef("q_incr_dedup",
      (s, dir) => {
        val docs = docsWithShingles(s, dir).cache()
        val fresh = docs.filter(col("doc_id") % 10 === 0)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val sig = (d: DataFrame) => {
          val ex = d.select(col("doc_id"),
            explode(graft.functions.HashArray.arrayHash(col("sh"))).as("h"))
          val sg = ex.groupBy("doc_id")
            .agg(graft.functions.MinHashAgg.minhash(32)(col("h")).as("sig"))
          val bandCols = (0 until 16).map(b => struct(lit(b).as("band"),
            xxhash64(element_at(col("sig"), 2 * b + 1),
              element_at(col("sig"), 2 * b + 2)).as("bv")))
          sg.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
            .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
        }
        val cand = sig(fresh).as("x").join(sig(corpus).as("y"),
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv"))
          .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
          .distinct()
        val a = docs.select(col("doc_id").as("new_id"), col("sh").as("sa"))
        val b = docs.select(col("doc_id").as("old_id"), col("sh").as("sb"))
        cand.join(a, "new_id").join(b, "old_id")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("jaccard") > 0.5)
          .select(col("new_id"), col("old_id"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("new_id", "old_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
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

    // ---- test-set decontamination (n-gram overlap flagging) -----------
    // The standard eval-leakage check before a training run: a training
    // document is CONTAMINATED if it shares any word n-gram (3-gram
    // here, matching the corpus shingle size) with any document of the
    // held-out eval set (simulated as doc_id % 97 == 0, ~1% — the size
    // relation of real benchmarks to a corpus). Output: each
    // contaminated train doc with how many distinct shingles it shares
    // and how many eval docs it collides with.
    //
    // Scale shape: shingles are EXPLODED and hashed to 8-byte keys
    // map-side (the shuffle/broadcast carries hashes, never text), the
    // eval side is tiny → broadcast hash join, and the per-doc distinct
    // shingle arrays bound the explode. Never a doc×doc comparison —
    // cost is O(corpus shingles), the same class as one tokenization
    // pass, regardless of corpus size.
    QueryDef("q_decontaminate",
      (s, dir) => {
        // filter BEFORE shingling: the two sides are separate subplans,
        // so a shared post-shingle frame would tokenize the whole corpus
        // twice (measured 3.5 s at sf0.1); with the split pushed to the
        // scan the eval branch touches only its ~1%, and that is also
        // the real shape — the eval set is a separate small table
        // hash inside the array, explode longs (see neardupPairs: string
        // Generate output measured ~5x slower than 8-byte longs)
        def shingleHashes(pred: org.apache.spark.sql.Column) =
          rd(s, dir, "documents").filter(pred)
            .withColumn("toks", toks(col("text")))
            .withColumn("sh", graft.functions.Shingles.of(col("toks"), 3))
            .select(col("doc_id"),
              explode(graft.functions.HashArray.arrayHash(col("sh"))).as("h"))
        val evalG = shingleHashes(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("h"))
        val trainG = shingleHashes(col("doc_id") % 97 =!= 0)
        trainG.join(broadcast(evalG), "h")
          .groupBy("doc_id")
          .agg(countDistinct(col("h")).as("n_shared"),
            countDistinct(col("eval_id")).as("n_eval_docs"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             |             FROM documents),
             |sh AS (SELECT doc_id,
             |  unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                        for i in range(1, len(ts) - 1)])) AS g
             |  FROM tok),
             |ev AS (SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 97 <> 0)
             |SELECT tr.doc_id AS doc_id,
             |  CAST(COUNT(DISTINCT tr.g) AS BIGINT) AS n_shared,
             |  CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
             |FROM tr JOIN ev USING (g)
             |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),

    // ---- SEMANTIC decontamination (embedding-similarity leakage) -------
    // q_decontaminate's paraphrase-robust complement: n-gram overlap
    // misses an eval example that was reworded, but its embedding stays
    // close — so flag corpus vectors whose cosine against ANY held-out
    // eval vector (vec_id % 100 = 0, ~1%) clears the threshold. The
    // eval side is tiny and broadcast; ONE corpus pass scores every
    // (vector, eval) pair map-side with the codegen cosine kernel —
    // the q_knn_batch plan shape with a threshold instead of top-k, so
    // cost is O(corpus · |eval|) map work with no corpus shuffle. The
    // oracle replays the identical IEEE cosine over double-cast lists
    // (the q_cosine_pairs replication, bit-exact), so the flagged set,
    // hit counts, and max similarities all hash-compare.
    QueryDef("q_semantic_decon",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
        val eval_ = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("eval_id"), col("embedding").as("pe"))
        e.filter(col("vec_id") % 100 =!= 0)
          .crossJoin(broadcast(eval_))
          .withColumn("cos", cosine("embedding", "pe"))
          .filter(col("cos") > 0.25)
          .groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_eval_hits"),
            round(max(col("cos")), 4).as("max_cos"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS pe
              |            FROM embeddings WHERE vec_id % 100 = 0),
              |s AS (SELECT e.vec_id, $cosSql AS cos
              |      FROM embeddings e, ev
              |      WHERE e.vec_id % 100 <> 0)
              |SELECT vec_id, COUNT(*) AS n_eval_hits,
              |  ROUND(MAX(cos), 4) AS max_cos
              |FROM s WHERE cos > 0.25
              |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // ---- corpus-LM document scoring (quality-filter shape) -------------
    // The n-gram-LM quality filter a training pipeline runs (the KenLM
    // stage): score every document by how typical its bigrams are of
    // the corpus. Kept oracle-exact by scoring with the AVERAGE CORPUS
    // FREQUENCY of the doc's bigrams — an integer sum with one final
    // division (log-prob scoring would accumulate doubles in
    // engine-specific order; the plan shape is identical). Low score =
    // rare transitions (garbage/atypical text), high = common ones.
    //
    // Scale shape: bigram explode is map-side; the doc-bigram → corpus-
    // count join keys on an 8-byte hash (shuffle carries hashes and
    // counts, never text). Corpus counts come from the same one pass.
    // Cost is O(corpus tokens) — two keyed shuffles, no doc×doc work.
    QueryDef("q_lm_score",
      (s, dir) => {
        // the kernel-hashed bigram occurrence stream (shared shape with
        // q_repetition; parity with the composite pinned in
        // BigramHashesSpec)
        val bi = bigramStream(s, dir)
        // corpus frequency via the hot/cold ROUTED shape, not a window
        // over h: a window never partial-aggregates, so every
        // occurrence of a hot bigram ("of the" at ~n_docs-scale mass)
        // lands in ONE WindowExec task — the Zipf probe planted one
        // key at 10% corpus mass at 110× and the routed shape won
        // (4.75–5.05 s vs the window's 5.66–5.81, identical checksums)
        // while ALSO matching it on the unplanted corpus (hash-agg
        // frequency beats the window's full-stream sort once the
        // stream outgrows the scan). HotColdFreq broadcasts keys
        // above the hot threshold around the exchange; the cold tail
        // shuffles skew-bounded.
        graft.plans.HotColdFreq.withFreq(
            bi, "h", "freq", lit(1L), col("doc_id"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("freq")).as("sum_freq"))
          .withColumn("lm_score",
            col("sum_freq").cast("double") / col("n_bigrams"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |b AS (SELECT doc_id,
             |        unnest([ts[i] || ' ' || ts[i + 1]
             |                for i in range(1, len(ts))]) AS bigram
             |      FROM t),
             |c AS (SELECT bigram, COUNT(*) AS freq FROM b GROUP BY bigram)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(freq) AS BIGINT) AS sum_freq,
             |  CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS lm_score
             |FROM b JOIN c USING (bigram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- within-document repetition filter (Gopher-style rule) ---------
    // The repetition heuristic from the Gopher/MassiveText cleaning
    // rules: a document whose single most-repeated bigram accounts for
    // too much of its text is boilerplate/spam-shaped. Per doc: total
    // bigrams, the max single-bigram count, their ratio (one division
    // of identical integers — oracle-exact), and the filter verdict at
    // the 10% threshold. Two-level aggregation, both map-side
    // partial-aggregated; nothing leaves the doc's partition until the
    // tiny (doc_id, counts) rows shuffle.
    QueryDef("q_repetition",
      (s, dir) => {
        bigramStream(s, dir)
          .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_rep"))
          .withColumn("rep_ratio",
            col("max_rep").cast("double") / col("n_bigrams"))
          .withColumn("flagged", col("rep_ratio") > 0.1)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |b AS (SELECT doc_id,
             |        unnest([ts[i] || ' ' || ts[i + 1]
             |                for i in range(1, len(ts))]) AS bigram
             |      FROM t),
             |c AS (SELECT doc_id, bigram, COUNT(*) AS c
             |      FROM b GROUP BY doc_id, bigram)
             |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |  CAST(MAX(c) AS BIGINT) AS max_rep,
             |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS rep_ratio,
             |  CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.1 AS flagged
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- TF-IDF: top term per document ---------------------------------
    // Classic relevance scoring kept oracle-exact by avoiding log():
    // score = tf · (N / df) — tf·N is an exact integer in double range
    // and the single division is the same IEEE op in both engines, so
    // ranking and the rounded score hash-match. (A production scorer
    // would use log-idf; the plan shape — tf agg, df agg, broadcast N,
    // per-doc window — is identical.)
    QueryDef("q_tfidf",
      (s, dir) => {
        val toksAll = rd(s, dir, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        val tf = toksAll.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        // df routed hot/cold over tf (one row per (doc, tok), so
        // count-per-tok IS the document frequency): the r14 window
        // over tok put every document containing a stopword in one
        // WindowExec task — bounded by n_docs, which IS the corpus at
        // lake scale ("the" appears in ~every doc). HotColdFreq's
        // groupBy partial-aggregates map-side (skew-immune), hot toks
        // broadcast around the exchange, cold tail shuffles bounded
        // (`archive/ZIPFPROBE_r*.json`: routed ≥ window at 110× in both skew
        // regimes, checksums identical).
        val withDf = graft.plans.HotColdFreq.withFreq(
          tf, "tok", "df", lit(1L), col("doc_id"))
        val n = rd(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("tok"))
        withDf.crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast("double") * col("n_docs") / col("df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("tok").as("top_term"),
            round(col("score"), 4).as("tfidf"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |           FROM documents),
             |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |df AS (SELECT tok, COUNT(*) AS df
             |       FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |s AS (SELECT doc_id, tok,
             |        CAST(tf AS DOUBLE) * n_docs / df AS score
             |      FROM tf JOIN df USING (tok) CROSS JOIN n),
             |r AS (SELECT doc_id, tok, score,
             |        ROW_NUMBER() OVER (PARTITION BY doc_id
             |          ORDER BY score DESC, tok) AS rn
             |      FROM s)
             |SELECT doc_id, tok AS top_term, ROUND(score, 4) AS tfidf
             |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ---- corpus cleaning pipeline (composition capstone) -------------
    // The canonical training-data flow in ONE declarative plan: quality
    // filter → exact dedup (keep min id) → near-dup removal (drop the
    // larger member of each >0.5-Jaccard pair). Every stage is one of
    // the operators above; Catalyst fuses the lot. Deduping drops the
    // larger id in a single pass (no transitive chasing) — declared
    // semantics, identical in the oracle.
    QueryDef("q_corpus_pipeline",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
          .withColumn("toks", toks(col("text")))
          .filter(size(col("toks")) >= 20)
        val hashed = docs
          .withColumn("text_md5", md5(lower(trim(col("text")))))
        // keep-first via groupBy-min + join back, NOT min() over a
        // window by text_md5: a boilerplate text exact-duplicated
        // across millions of docs puts every copy in ONE WindowExec
        // task (the q_seg_dedup argument — this was the last window
        // over an unbounded dup-class key, hidden from the r16
        // inventory freeze behind this cache until the walk descended
        // into cached plans). The groupBy partial-aggregates the hot
        // digest map-side, and the join keys INCLUDE doc_id (unique),
        // so the join-back shuffle is uniform — a hot digest's copies
        // spread across tasks and simply find no match.
        // cached: referenced by both semi-joins below AND the final
        // anti-join — uncached, the scan + dedup ran twice
        val keepIds = hashed.groupBy("text_md5")
          .agg(min(col("doc_id")).as("doc_id"))
        val exactKeep = hashed.join(keepIds, Seq("text_md5", "doc_id"))
          .cache()
        // round 12, extending the round-10 argument one level: a PAIR's
        // jaccard (and its band-candidate membership) depends only on
        // the two rows' texts, so near-dup pairs over a FILTERED corpus
        // are exactly the full-corpus pair table restricted to pairs
        // with both endpoints surviving — served from the persisted
        // NeardupPairsIndex via two semi-joins on the keep set, instead
        // of re-running the subset band join + exact verify.
        val dropB = graft.sources.NeardupPairsIndex.pairs(s, dir)
          .join(exactKeep.select(col("doc_id").as("a_id")),
            Seq("a_id"), "left_semi")
          .join(exactKeep.select(col("doc_id").as("b_id")),
            Seq("b_id"), "left_semi")
          .select(col("b_id").as("doc_id")).distinct()
        exactKeep.join(dropB, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"),
            size(col("toks")).cast("int").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH q AS (SELECT doc_id, lang, source, text,
             |             string_split(text, ' ') AS ts
             |           FROM documents
             |           WHERE len(string_split(text, ' ')) >= 20),
             |e AS (SELECT * FROM (
             |        SELECT q.*, MIN(doc_id) OVER (PARTITION BY md5(LOWER(TRIM(text))))
             |          AS keep_id FROM q) t
             |      WHERE doc_id = keep_id),
             |sh AS (SELECT doc_id,
             |         list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
             |                        for i in range(1, len(ts) - 1)]) AS s
             |       FROM e),
             |drop_b AS (SELECT DISTINCT b.doc_id
             |           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0.5)
             |SELECT e.doc_id, e.lang, e.source,
             |       CAST(len(e.ts) AS INTEGER) AS n_tokens
             |FROM e LEFT JOIN drop_b ON e.doc_id = drop_b.doc_id
             |WHERE drop_b.doc_id IS NULL
             |ORDER BY e.doc_id""".stripMargin)),

    // ---- multimodal metadata plumbing --------------------------------
    // The opaque-binary surface of graft.multimodal: real BMP/WAV/Y4M
    // payloads ride an untouched binary column; this query reads only
    // container-level metadata (length + magic bytes) WITHOUT decoding —
    // the "catalog scan" of a media lakehouse. The oracle re-derives the
    // exact container byte length per format (incl. BMP row padding and
    // per-frame Y4M framing) and the magic: RIFF/YUV4 are fixed
    // signatures; a BMP's first 8 hex chars include the little-endian
    // low file-size bytes, which the oracle reconstructs from byte_len.
    QueryDef("q_multimodal_meta",
      (s, dir) => {
        graft.multimodal.MediaPipeline.itemsFromDocuments(s, dir).toDF()
          .select(col("doc_id"), col("kind"),
            octet_length(col("payload")).cast("int").as("byte_len"),
            substring(hex(col("payload")), 1, 8).as("magic_hex"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN lang IN ('en','es') THEN 'image'
             |         WHEN lang IN ('de','fr') THEN 'audio'
             |         ELSE 'video' END AS kind
             |  FROM documents),
             |m AS (SELECT doc_id, kind,
             |  CASE kind
             |    WHEN 'image' THEN 54 + ((3*(4 + doc_id % 6) + 3) // 4) * 4
             |                          * (4 + doc_id % 5)
             |    WHEN 'audio' THEN 44 + 2*(16 + doc_id % 48)
             |    ELSE 35 + (1 + doc_id % 5)
             |       * (6 + (4 + 2*(doc_id % 3)) * (4 + 2*(doc_id % 2)) * 3 // 2)
             |  END AS byte_len FROM d)
             |SELECT doc_id, kind, CAST(byte_len AS INTEGER) AS byte_len,
             |  CASE kind
             |    WHEN 'image' THEN '424D' || lpad(hex(byte_len % 256), 2, '0')
             |                          || lpad(hex((byte_len // 256) % 256), 2, '0')
             |    WHEN 'audio' THEN '52494646'
             |    ELSE '59555634'
             |  END AS magic_hex
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- exact per-cluster centroids (the kmeans M-step shape) --------
    // Mean embedding per cluster label — centroid serving / quantizer
    // training / class prototypes. Positional array aggregation done
    // the scalable way: posexplode to (label, dim, x) and partial-sum
    // per (label, dim) — the shuffle carries per-dimension decimal
    // partials, never whole vectors, and is combinable in any order
    // because the float components are first quantized to an exact
    // decimal grid (the dsumS mechanism; float partial-sum order would
    // otherwise make 1000-executor results nondeterministic). One IEEE
    // division at the end.
    QueryDef("q_centroids",
      (s, dir) => {
        rd(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
          .groupBy("label", "d")
          .agg(count(lit(1)).as("n"), dsumS(col("x").cast("double"), 8).as("sx"))
          .select(col("label"), (col("d") + 1).cast("int").as("dim"),
            (col("sx") / col("n")).as("centroid"))
          .orderBy("label", "dim")
      },
      Some(s"""SELECT label, CAST(dim AS INTEGER) AS dim,
              |  ${dsumSqlS("CAST(x AS DOUBLE)", 8)} / COUNT(*) AS centroid
              |FROM (SELECT label, unnest(embedding) AS x,
              |             unnest(range(1, len(embedding) + 1)) AS dim
              |      FROM embeddings)
              |GROUP BY label, dim
              |ORDER BY label, dim""".stripMargin)),

    // ---- filtered vector search (hybrid metadata + ANN) ---------------
    // The hybrid-search serving shape: a metadata predicate (label = 3)
    // restricts the corpus BEFORE scoring — pushed to the scan, so at
    // 100 TB with label as a partition/cluster key the filter prunes
    // files and the scored set is the selected cluster only, then one
    // TakeOrdered pass with the codegen cosine kernel.
    QueryDef("q_knn_filtered",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pe"))
        e.filter(col("vec_id") =!= 0 && col("label") === 3)
          .crossJoin(broadcast(probe))
          .withColumn("cos", cosine("embedding", "pe"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("label"),
            round(col("cos"), 4).as("cosine"))
      },
      Some(s"""WITH p AS (SELECT embedding AS pe FROM embeddings
              |           WHERE vec_id = 0),
              |s AS (SELECT vec_id, label, $cosSql AS cos
              |      FROM embeddings, p WHERE vec_id <> 0 AND label = 3)
              |SELECT vec_id, label, ROUND(cos, 4) AS cosine FROM s
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- contrastive hard-negative mining -----------------------------
    // The retrieval-training data op: for each anchor, the top-3
    // most-similar vectors of a DIFFERENT class (the negatives that
    // actually move an embedding model), each with its margin below the
    // anchor's nearest same-class positive — margin ≤ 0 flags the
    // "negative beats every positive" rows a curriculum samples first.
    // ONE corpus pass scores all anchors (broadcast probe frame, fused
    // codegen cosine, cached 4-column projection); the negative branch
    // prunes map-side via TopKPerKey to ≤3 rows/anchor BEFORE any
    // shuffle and the positive branch is a |anchors|-row max-agg with
    // map-side combine — no vector ever shuffles, no per-anchor window
    // over the scored corpus. Work is one scan × |anchors| regardless
    // of corpus size; margins subtract identical IEEE doubles, rounded
    // once for the pin.
    QueryDef("q_hard_negatives",
      (s, dir) => {
        val e = rd(s, dir, "embeddings")
        val anchors = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
            col("embedding").as("pe"))
        val scored = e.filter(col("vec_id") >= 5).crossJoin(broadcast(anchors))
          .withColumn("cos", cosine("embedding", "pe"))
          .select("probe_id", "plabel", "vec_id", "label", "cos")
          .cache()
        val negs = graft.plans.TopK.perKey(
          scored.filter(col("label") =!= col("plabel")),
          Seq("probe_id"), Seq(col("cos").desc, col("vec_id").asc), 3)
        val pos = scored.filter(col("label") === col("plabel"))
          .groupBy(col("probe_id").as("pp")).agg(max("cos").as("pos_cos"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("vec_id"))
        negs.withColumn("rn", row_number().over(w).cast("int"))
          .join(broadcast(pos), col("probe_id") === col("pp"))
          .select(col("probe_id"), col("rn"), col("vec_id"), col("label"),
            round(col("cos"), 4).as("neg_cos"),
            round(col("pos_cos") - col("cos"), 4).as("margin"))
          .orderBy("probe_id", "rn")
      },
      Some(s"""WITH a AS (SELECT vec_id AS probe_id, label AS plabel,
              |             embedding AS pe
              |           FROM embeddings WHERE vec_id < 5),
              |sc AS (SELECT probe_id, plabel, vec_id, label, $cosSql AS cos
              |       FROM embeddings, a WHERE vec_id >= 5),
              |n AS (SELECT probe_id, vec_id, label, cos,
              |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              |          ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
              |      FROM sc WHERE label <> plabel),
              |q AS (SELECT probe_id AS pp, MAX(cos) AS pos_cos
              |      FROM sc WHERE label = plabel GROUP BY 1)
              |SELECT probe_id, rn, vec_id, label,
              |  ROUND(cos, 4) AS neg_cos, ROUND(pos_cos - cos, 4) AS margin
              |FROM n JOIN q ON probe_id = pp
              |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin)),

    // ---- semantic dedup: cluster-blocked embedding near-dup removal ---
    // The SemDeDup shape (embedding-space dedup before training): block
    // by cluster — here the corpus's label column stands in for the
    // kmeans assignment the IVF path already demonstrates — and drop
    // every vector whose cosine to a LOWER-id vector in the same
    // cluster exceeds τ=0.3 (keep-first). Work is Σ|cluster|², never
    // corpus² — the whole point of clustering first; the self-join
    // shuffles on the cluster key only, with groups past SEMDEDUP_SPLIT
    // rows split by the shared Salting helper so ONE dense cluster's
    // |C|² pair mass spreads over sub-tasks instead of serializing the
    // job (VERDICT r12 item 1 — the same skewed-key quadratic the edge
    // build fixed; SaltingSpec pins split ≡ unsplit). Scoring runs the
    // codegen FloatVecCosine kernel; the oracle recomputes the
    // identical IEEE expression, so the τ cut is bit-deterministic.
    // Output pins per-cluster membership of the dropped set (count +
    // id sum).
    QueryDef("q_semdedup",
      (s, dir) => {
        val e = rd(s, dir, "embeddings").select("vec_id", "label", "embedding")
        val dropped = semdedupDropped(e, SEMDEDUP_SPLIT)
        e.groupBy("label").agg(count(lit(1)).as("n_vecs"))
          .join(dropped.groupBy("label")
            .agg(count(lit(1)).as("nd"), sum(col("bi")).as("sd")),
            Seq("label"), "left")
          .select(col("label"), col("n_vecs"),
            coalesce(col("nd"), lit(0L)).as("n_dropped"),
            coalesce(col("sd"), lit(0L)).as("sum_dropped"))
          .orderBy("label")
      },
      Some("""WITH p AS (
             |  SELECT a.label, b.vec_id AS bi,
             |    list_dot_product(
             |        list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |        list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             |      / (sqrt(list_dot_product(
             |            list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |            list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
             |         * sqrt(list_dot_product(
             |            list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
             |            list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
             |      AS cos
             |  FROM embeddings a JOIN embeddings b
             |    ON a.label = b.label AND a.vec_id < b.vec_id),
             |d AS (SELECT DISTINCT label, bi FROM p WHERE cos > 0.3),
             |g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
             |      FROM embeddings GROUP BY label),
             |dg AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nd,
             |         CAST(SUM(bi) AS BIGINT) AS sd
             |       FROM d GROUP BY label)
             |SELECT g.label, n_vecs,
             |  COALESCE(nd, 0) AS n_dropped,
             |  COALESCE(sd, 0) AS sum_dropped
             |FROM g LEFT JOIN dg ON g.label = dg.label
             |ORDER BY g.label""".stripMargin)),

    // ---- BM25 retrieval scoring (top-20 for a fixed term query) -------
    // The retrieval-quality scorer (Lucene-form BM25, k1=1.2 b=0.75)
    // over the whole corpus for a 5-term query. Shape: per-doc term
    // frequencies come from filtering the tiny query-term array against
    // the doc's token array MAP-SIDE — the corpus token explode never
    // happens; only ≤5 (doc, term, tf) rows per doc leave the scan.
    // Corpus stats (N, avgdl) and per-term df are tiny broadcasts.
    // Determinism: tf/dl/df/N are integers; dl/avgdl, the saturation
    // term, and the idf ratio are correctly-rounded IEEE ops on
    // identical inputs; ln() — the one libm-dependent call — is applied
    // to the SAME five doubles in both engines and the per-term score is
    // truncated to decimal(18,6) before the exact cross-term sum, so a
    // last-ulp ln() divergence cannot reorder results. Final ranking is
    // on the exact decimal sum.
    QueryDef("q_bm25",
      (s, dir) => {
        bm25Scored(s, dir)
          .groupBy("doc_id")
          .agg(sum(col("tscore")).as("score_dec"))
          .orderBy(col("score_dec").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"),
            round(col("score_dec").cast("double"), 4).as("bm25"))
          // the cut uses the exact decimal; the OUTPUT order key must be
          // a column both engines emit — the rounded score is identical
          // on both sides, so (bm25 desc, doc_id) is total + portable
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |dd AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS dl FROM d),
             |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |        CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
             |e AS (SELECT doc_id, dl, term,
             |        CAST(len(list_filter(ts, x -> x = term)) AS BIGINT) AS tf
             |      FROM dd, (SELECT unnest(['spark','query','window','hash',
             |                              'stream']) AS term) q),
             |e2 AS (SELECT * FROM e WHERE tf > 0),
             |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |      FROM e2 GROUP BY term),
             |sc AS (SELECT doc_id,
             |         CAST((ln(1.0 + (CAST(n_docs AS DOUBLE)
             |                         - CAST(df AS DOUBLE) + 0.5)
             |                        / (CAST(df AS DOUBLE) + 0.5))
             |           * ((CAST(tf AS DOUBLE) * 2.2)
             |             / (CAST(tf AS DOUBLE) + 1.2
             |               * (0.25 + 0.75
             |                 * (CAST(dl AS DOUBLE)
             |                   / (CAST(sum_dl AS DOUBLE)
             |                     / CAST(n_docs AS DOUBLE)))))))
             |           AS DECIMAL(18,6)) AS tscore
             |       FROM e2 JOIN f USING (term), g),
             |agg AS (SELECT doc_id, SUM(tscore) AS score_dec
             |        FROM sc GROUP BY doc_id
             |        ORDER BY score_dec DESC, doc_id LIMIT 20)
             |SELECT doc_id, ROUND(CAST(score_dec AS DOUBLE), 4) AS bm25
             |FROM agg ORDER BY bm25 DESC, doc_id""".stripMargin)),

    // ---- reciprocal-rank fusion (hybrid retrieval) ---------------------
    // The standard fusion of heterogeneous rankers: BM25 (graded) and
    // boolean term-coverage (n matched terms, then total tf) each
    // produce a top-50 via TakeOrdered — never a global rank window —
    // and fuse as RRF = Σ 1/(60 + rank), the score used when lexical
    // and semantic rankings must merge without calibration. Both ranks
    // are integer-derived (the BM25 cut ranks on the exact decimal
    // sum), the RRF arithmetic is two exact IEEE divisions summed in a
    // fixed order, and a doc missing from one ranker contributes 0 —
    // so the fused ordering is bit-deterministic in both engines.
    QueryDef("q_rrf_fusion",
      (s, dir) => {
        val perDoc = bm25Scored(s, dir)
          .groupBy("doc_id")
          .agg(sum(col("tscore")).as("score_dec"),
            count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
        val wa = Window.orderBy(col("score_dec").desc, col("doc_id"))
        val ra = perDoc.orderBy(col("score_dec").desc, col("doc_id")).limit(50)
          .withColumn("rank_bm25", row_number().over(wa))
          .select("doc_id", "rank_bm25")
        val wb = Window.orderBy(col("n_terms").desc, col("sum_tf").desc,
          col("doc_id"))
        val rb = perDoc
          .orderBy(col("n_terms").desc, col("sum_tf").desc, col("doc_id"))
          .limit(50)
          .withColumn("rank_bool", row_number().over(wb))
          .select("doc_id", "rank_bool")
        ra.join(rb, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("rank_bm25")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("rank_bool")), lit(0.0)))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(15)
          .select(col("doc_id"),
            col("rank_bm25").cast("int").as("rank_bm25"),
            col("rank_bool").cast("int").as("rank_bool"),
            round(col("rrf"), 6).as("rrf"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |dd AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS dl FROM d),
             |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |        CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
             |e AS (SELECT doc_id, dl, term,
             |        CAST(len(list_filter(ts, x -> x = term)) AS BIGINT) AS tf
             |      FROM dd, (SELECT unnest(['spark','query','window','hash',
             |                              'stream']) AS term) q),
             |e2 AS (SELECT * FROM e WHERE tf > 0),
             |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |      FROM e2 GROUP BY term),
             |sc AS (SELECT doc_id, tf,
             |         CAST((ln(1.0 + (CAST(n_docs AS DOUBLE)
             |                         - CAST(df AS DOUBLE) + 0.5)
             |                        / (CAST(df AS DOUBLE) + 0.5))
             |           * ((CAST(tf AS DOUBLE) * 2.2)
             |             / (CAST(tf AS DOUBLE) + 1.2
             |               * (0.25 + 0.75
             |                 * (CAST(dl AS DOUBLE)
             |                   / (CAST(sum_dl AS DOUBLE)
             |                     / CAST(n_docs AS DOUBLE)))))))
             |           AS DECIMAL(18,6)) AS tscore
             |       FROM e2 JOIN f USING (term), g),
             |agg AS (SELECT doc_id, SUM(tscore) AS score_dec,
             |          CAST(COUNT(*) AS BIGINT) AS n_terms,
             |          CAST(SUM(tf) AS BIGINT) AS sum_tf
             |        FROM sc GROUP BY doc_id),
             |ra AS (SELECT doc_id, rank_bm25 FROM (
             |         SELECT doc_id, ROW_NUMBER() OVER (
             |           ORDER BY score_dec DESC, doc_id) AS rank_bm25
             |         FROM agg) WHERE rank_bm25 <= 50),
             |rb AS (SELECT doc_id, rank_bool FROM (
             |         SELECT doc_id, ROW_NUMBER() OVER (
             |           ORDER BY n_terms DESC, sum_tf DESC, doc_id) AS rank_bool
             |         FROM agg) WHERE rank_bool <= 50),
             |fu AS (SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             |         rank_bm25, rank_bool,
             |         COALESCE(1.0 / (60 + rank_bm25), 0.0)
             |           + COALESCE(1.0 / (60 + rank_bool), 0.0) AS rrf
             |       FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
             |SELECT doc_id, CAST(rank_bm25 AS INTEGER) AS rank_bm25,
             |  CAST(rank_bool AS INTEGER) AS rank_bool,
             |  ROUND(rrf, 6) AS rrf
             |FROM fu ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin)),

    // ---- two-stage ANN: int8 coarse scan → exact float rerank --------
    // The production serving shape for quantized indexes (faiss
    // SQ8-then-rerank): stage 1 scores the WHOLE corpus on its int8
    // vectors — integer dot products reconstructed to a quantized
    // cosine, 4x less memory traffic than floats — and keeps 64
    // candidates (TakeOrdered, no shuffle of vectors); stage 2 rescores
    // only those 64 with the exact float kernel. Every stage-1 value is
    // integer-derived through exact IEEE ops (int dots; /,*,sqrt are
    // correctly rounded), so the candidate CUT is bit-deterministic and
    // the oracle replays both stages exactly. AnnRecallSpec separately
    // pins the end-to-end recall@10 vs the brute-force path.
    QueryDef("q_knn_rerank",
      (s, dir) => {
        val quantize = expr(
          """transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
            |  (CASE WHEN max_abs = 0.0 THEN 0.0 ELSE 127.0 / max_abs END))
            |  AS BIGINT))""".stripMargin)
        val maxAbs =
          expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)")
        val e = rd(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0)
          .withColumn("max_abs", maxAbs)
          .withColumn("qp", quantize)
          .select(col("embedding").as("pe"), col("qp"),
            expr("aggregate(qp, 0L, (a, v) -> a + v * v)").as("pqq"))
        // hot stage: one fused codegen kernel per corpus row
        // (Int8CoarseCos quantizes + dots + reconstructs in a single
        // loop — bit-identical to the HOF chain, which only the ≤64
        // candidates below still run for the report column)
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .withColumn("cos_q", graft.functions.VectorFunctions
            .int8CoarseCos(col("embedding"), col("qp"), col("pqq")))
          .orderBy(col("cos_q").desc, col("vec_id"))
          .limit(64)
          .withColumn("max_abs", maxAbs)
          .withColumn("qv", quantize)
          .withColumn("sab", expr(
            "aggregate(zip_with(qv, qp, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
          .withColumn("cos", cosine("embedding", "pe"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("sab").as("coarse_dot"),
            round(col("cos_q"), 4).as("cos_q"),
            round(col("cos"), 4).as("cosine"))
      },
      Some(s"""WITH m AS (SELECT vec_id, embedding,
              |    CAST(list_max(list_transform(embedding, x -> abs(x)))
              |         AS DOUBLE) AS max_abs
              |  FROM embeddings),
              |q AS (SELECT vec_id, embedding,
              |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
              |      (CASE WHEN max_abs = 0.0 THEN 0.0
              |            ELSE 127.0 / max_abs END)) AS BIGINT)) AS qv
              |  FROM m),
              |q2 AS (SELECT vec_id, embedding, qv,
              |    CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS qq
              |  FROM q),
              |p AS (SELECT embedding AS pe, qv AS qp, qq AS pqq
              |      FROM q2 WHERE vec_id = 0),
              |c AS (SELECT vec_id, embedding, qq, pe, pqq,
              |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
              |                                 i -> qv[i] * qp[i]))
              |         AS BIGINT) AS sab
              |  FROM q2, p WHERE vec_id <> 0),
              |cc AS (SELECT vec_id, embedding, pe, sab,
              |    CASE WHEN qq = 0 OR pqq = 0 THEN 0.0
              |         ELSE CAST(sab AS DOUBLE)
              |              / (sqrt(CAST(qq AS DOUBLE))
              |                 * sqrt(CAST(pqq AS DOUBLE))) END AS cos_q
              |  FROM c),
              |top AS (SELECT * FROM cc ORDER BY cos_q DESC, vec_id LIMIT 64),
              |r AS (SELECT vec_id, sab, cos_q, $cosSql AS cos FROM top)
              |SELECT vec_id, sab AS coarse_dot, ROUND(cos_q, 4) AS cos_q,
              |  ROUND(cos, 4) AS cosine
              |FROM r ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- MMR diversified rerank (relevance − redundancy top-k) --------
    // Maximal Marginal Relevance (Carbonell & Goldstein '98), the
    // standard diversified-retrieval rerank: greedily pick argmax
    // λ·rel(c) − (1−λ)·max_{s∈chosen} sim(c, s) — relevance first, then
    // penalize redundancy with what's already selected (plain top-k
    // returns near-duplicate neighbors; MMR is why result pages don't).
    // Two stages with the standard serving split: (1) DISTRIBUTED
    // candidate generation — one corpus pass, map-side codegen cosine,
    // TakeOrdered(12) — this is the part that sees 100 TB; (2) greedy
    // selection of 4 from the 12 collected candidates — O(k²·dim)
    // driver arithmetic on a constant-size set (the IVF probe-routing
    // precedent: bounded, corpus-independent — reranking k candidates
    // is client-side work in every production retrieval stack).
    // Determinism: rel comes from the FloatVecCosine kernel and the
    // driver-side sims run the identical sequential double fold, so
    // scores are bit-identical to the oracle's unrolled 4-step greedy
    // (same IEEE expression 0.7·rel − 0.3·GREATEST(sims), ties to the
    // smaller vec_id); ROUND touches only display columns.
    QueryDef("q_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        val e = rd(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
        val cand = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .withColumn("rel", cosine("embedding", "pe"))
          .orderBy(col("rel").desc, col("vec_id"))
          .limit(12)
          .select(col("vec_id"), col("embedding"), col("rel"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
          .toVector
        // identical arithmetic to FloatVecCosine / DuckDB's
        // list_dot_product chain: three sequential index-order folds
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            val x = a(i).toDouble; val y = b(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        var remaining = cand
        var chosen = Vector.empty[(Long, Array[Float], Double, Double)]
        for (_ <- 1 to math.min(4, cand.length)) {
          val best = remaining.map { case (id, emb, rel) =>
            val msim = if (chosen.isEmpty) 0.0
              else chosen.map(c => cos(emb, c._2)).max
            (id, emb, rel, 0.7 * rel - 0.3 * msim)
          }.minBy { case (id, _, _, score) => (-score, id) }
          chosen :+= best
          remaining = remaining.filterNot(_._1 == best._1)
        }
        chosen.zipWithIndex
          .map { case ((id, _, rel, score), i) => (i + 1, id, rel, score) }
          .toDF("step", "vec_id", "relevance", "mmr_score")
          .select(col("step"), col("vec_id"),
            round(col("relevance"), 4).as("relevance"),
            round(col("mmr_score"), 4).as("mmr_score"))
          .orderBy("step")
      },
      Some {
        def cp(a: String, b: String): String =
          s"""(list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)),
             |                  list_transform($b, x -> CAST(x AS DOUBLE)))
             | / (sqrt(list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)),
             |                          list_transform($a, x -> CAST(x AS DOUBLE))))
             |    * sqrt(list_dot_product(list_transform($b, x -> CAST(x AS DOUBLE)),
             |                            list_transform($b, x -> CAST(x AS DOUBLE))))))"""
            .stripMargin
        s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, embedding AS emb, ${cp("embedding", "pe")} AS rel
           |       FROM embeddings, p WHERE vec_id <> 0),
           |c AS (SELECT * FROM sc ORDER BY rel DESC, vec_id LIMIT 12),
           |s1 AS (SELECT vec_id, emb, rel, 0.7 * rel AS score FROM c
           |       ORDER BY 0.7 * rel DESC, vec_id LIMIT 1),
           |r2 AS (SELECT c.vec_id, c.emb, c.rel, ${cp("c.emb", "s1.emb")} AS msim
           |       FROM c, s1 WHERE c.vec_id <> s1.vec_id),
           |s2 AS (SELECT vec_id, emb, rel, 0.7 * rel - 0.3 * msim AS score
           |       FROM r2 ORDER BY 0.7 * rel - 0.3 * msim DESC, vec_id LIMIT 1),
           |r3 AS (SELECT c.vec_id, c.emb, c.rel,
           |         GREATEST(${cp("c.emb", "s1.emb")}, ${cp("c.emb", "s2.emb")})
           |           AS msim
           |       FROM c, s1, s2 WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)),
           |s3 AS (SELECT vec_id, emb, rel, 0.7 * rel - 0.3 * msim AS score
           |       FROM r3 ORDER BY 0.7 * rel - 0.3 * msim DESC, vec_id LIMIT 1),
           |r4 AS (SELECT c.vec_id, c.emb, c.rel,
           |         GREATEST(${cp("c.emb", "s1.emb")}, ${cp("c.emb", "s2.emb")},
           |                  ${cp("c.emb", "s3.emb")}) AS msim
           |       FROM c, s1, s2, s3
           |       WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)),
           |s4 AS (SELECT vec_id, emb, rel, 0.7 * rel - 0.3 * msim AS score
           |       FROM r4 ORDER BY 0.7 * rel - 0.3 * msim DESC, vec_id LIMIT 1)
           |SELECT 1 AS step, vec_id, ROUND(rel, 4) AS relevance,
           |  ROUND(score, 4) AS mmr_score FROM s1
           |UNION ALL SELECT 2, vec_id, ROUND(rel, 4), ROUND(score, 4) FROM s2
           |UNION ALL SELECT 3, vec_id, ROUND(rel, 4), ROUND(score, 4) FROM s3
           |UNION ALL SELECT 4, vec_id, ROUND(rel, 4), ROUND(score, 4) FROM s4
           |ORDER BY step""".stripMargin
      })
  )
}
