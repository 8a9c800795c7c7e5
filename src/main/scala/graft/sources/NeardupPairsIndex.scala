package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Q

/**
 * Content-stamped persisted near-duplicate PAIR table for the
 * unfiltered documents corpus — the second corpus-scale dedup artifact,
 * one level above [[MinHashSigIndex]]: exact-Jaccard-verified
 * MinHash-LSH pairs at the declared 0.5 threshold, materialized once
 * per corpus state.
 *
 * Production rationale (the same build-once/serve-many argument that
 * introduced the signature index in round 8): a dedup pipeline runs
 * candidates+verify ONCE and persists the resulting pair/edge table;
 * transitive clustering, representative selection, split-leakage
 * audits, and estimator audits are all downstream consumers of that
 * GRAPH-sized table — none of them re-runs the corpus-wide band join.
 * Before this artifact, six gate entries each re-ran the identical
 * candidates+verify pipeline per execution; at 100 TB that is six
 * corpus-scale shuffles where one suffices. The pair table is tiny
 * relative to the corpus (near-dup graphs are sparse — |pairs| ≪ n),
 * so the serve is a single small parquet scan.
 *
 * INCREMENTAL maintenance (round 13; VERDICT r12 item 2 — the r12
 * artifact full-rebuilt per stamp, so a 1-doc append re-paid the full
 * corpus band join, 356 s at the 110× smoke). The artifact now carries
 * a COVER table — the (doc_id, text_hash) corpus identity it was built
 * from, the 16-byte/row projection the signature index already keys
 * delta detection on — and a stamp change with a surviving base
 * refreshes through [[Q.ensureStampedIncr]]:
 *
 *  - delta D  = current cover ∖ base cover   (added or re-texted docs)
 *  - removed R = base cover ∖ current cover  (deleted, or a re-texted
 *    doc's OLD identity — a modified doc appears in both D and R)
 *  - carried  = base pairs with NEITHER endpoint id in R — their
 *    endpoints' texts are unchanged, so the base build already
 *    computed exactly what a rebuild would
 *  - fresh    = [[graft.queries.LlmOps.neardupPairsCross]]: band D's
 *    signatures against the FULL signature table (the oracle-pinned
 *    q_incr_dedup cross-set shape), verify exactly over
 *    candidate-restricted shingles
 *  - publish carried ∪ fresh (+ the new cover) via the same stamped
 *    protocol.
 *
 * Equivalence is exact, not heuristic: a rebuild's pair (a, b) either
 * has both endpoints unchanged — then it is in the base table (same
 * deterministic plan over the same signature rows) and survives the
 * carry — or has an endpoint in D, and the cross-set banding applies
 * the identical collide-AND-verify condition. Carried and fresh are
 * disjoint (fresh requires a D endpoint; carried forbids one, since a
 * changed doc's old identity lands in R). NeardupPairsIndexSpec pins
 * incremental ≡ rebuild, tamper-carry-over (the keep path really
 * runs), and endpoint-removal drops. At a small delta the cross band
 * join broadcasts the delta side, so the corpus-side cost is a scan
 * of the persisted signature artifact — compute ∝ delta, the 110×
 * refresh-vs-build rows of `archive/SCALESMOKE_r20*.json` are the measured curve.
 *
 * Layout: `<stamped dir>/pairs` + `<stamped dir>/cover`, published by
 * the shared stamped-artifact protocol (per-process staging, one
 * atomic rename, post-publish stale sweep so the base outlives the
 * build reading it), like the signature and edge indexes: pairs are
 * graph-sized and the cover is 16 bytes/doc, so a full republish of
 * BOTH is orders of magnitude below corpus I/O.
 *
 * Serve schema: (a_id, b_id, jaccard) with a_id < b_id, full-precision
 * jaccard — consumers round at their declared output.
 */
object NeardupPairsIndex {

  val schema: StructType = StructType(Seq(
    StructField("a_id", LongType),
    StructField("b_id", LongType),
    StructField("jaccard", DoubleType)))

  private[graft] val coverSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text_hash", LongType)))

  /** Threshold is part of the layout; the label is the threshold's
   * LOSSLESS decimal string ('.'→'p', '-'→'m'), so no two distinct
   * thresholds can ever share an artifact. The r18 review killed two
   * generations of integer labels here: `(t * 100).toInt` truncated
   * (0.58 → t57, colliding onto 0.57's artifact — the wrong pair set
   * served silently), and the rounded replacement still collided past
   * two decimals (0.585 → t58) AND made post-fix 0.57 resolve to a
   * PRE-fix 0.58 artifact published under the truncated t57 — hence
   * the v3 layout bump. The v4 bump moved the corpus tag from 32-bit
   * `dir.hashCode` to [[ArtifactStore.dirTag]]: under the old tag, two
   * corpus dirs colliding on hashCode shared a prefix, so
   * `ensureStampedIncr` could adopt the OTHER corpus's pair table as
   * its incremental base and silently carry its pairs. */
  private def prefix(threshold: Double) =
    s"graft_neardup_pairs_v4_t${java.lang.Double.toString(threshold)
      .replace(".", "p").replace("-", "m")}_"

  /** The full candidates+verify build plan (unpersisted) — exposed for
   * the equivalence spec pin. Signatures come from the persisted
   * [[MinHashSigIndex]]; shingle arrays are re-derived for the exact
   * verify (they never persist — text-derived arrays are corpus-sized,
   * the signature table is the persisted projection). */
  def buildPlan(s: SparkSession, dir: String,
                threshold: Double = 0.5): DataFrame =
    buildFrom(s, dir, threshold,
      graft.queries.LlmOps.docsWithShingles(s, dir))

  private def buildFrom(s: SparkSession, dir: String, threshold: Double,
                        docs: DataFrame): DataFrame =
    graft.queries.LlmOps.neardupPairs(docs, threshold,
      Some(MinHashSigIndex.sigs(s, dir)))

  /** The artifact the current corpus state publishes to. */
  private def artifact(dir: String, threshold: Double) =
    ArtifactStore.stamped(prefix(threshold), dir, "documents")

  /** The artifact dir the current corpus state publishes to — exposed
   * for the spec's tamper probe. */
  private[graft] def artifactDir(dir: String, threshold: Double = 0.5): Path =
    artifact(dir, threshold).path

  /** Graph-sized single-file write: one file, one listing at every
   * serve. repartition, NOT coalesce — coalesce(1) would collapse the
   * build's final stage (the exact-verify join runs after the last
   * exchange) to one task; the explicit shuffle moves only the
   * graph-sized result rows and keeps the verify parallel. The cover
   * is corpus-CARDINALITY but 16 bytes/row (a metadata-class write). */
  private def writeParts(pairs: DataFrame, cover: DataFrame,
                         staging: Path): Unit = {
    pairs.repartition(1)
      .write.mode("overwrite").parquet(staging.resolve("pairs").toString)
    cover.repartition(1)
      .write.mode("overwrite").parquet(staging.resolve("cover").toString)
  }

  /** The persisted pair table for `dir`'s documents: build-if-absent —
   * cover-delta refresh against the newest surviving base when one
   * exists — then a single-file scan (memoized per session+stamp like
   * the other artifacts' serve frames). */
  def pairs(s: SparkSession, dir: String,
            threshold: Double = 0.5): DataFrame = {
    val art = artifact(dir, threshold)
    // serialize same-artifact builders within the JVM (the same
    // lockFor REGISTRY MinHashSigIndex's refresh uses, keyed by THIS
    // artifact's family — a distinct monitor from the sig index's;
    // no mutual exclusion with sig refreshes exists or is needed, the
    // build takes the sig lock through sigs()): ensureStampedIncr is
    // CORRECT under a concurrent duplicate (the loser's rename fails
    // benignly) but both pay the corpus-scale candidates+verify job;
    // keyed by the artifact's family, not its stamp, so refreshes
    // across corpus states serialize too instead of racing the base
    // sweep
    val idx = ArtifactStore.lockFor(ArtifactStore.root.resolve(art.family))
      .synchronized {
      // cover is written LAST, so its marker is the completeness marker
      Q.ensureStampedIncr(art, marker = "cover/_SUCCESS") { (staging, baseOpt) =>
        val sigs = MinHashSigIndex.sigs(s, dir) // itself incremental
        val curCover = sigs.select("doc_id", "text_hash")
        baseOpt match {
          case Some(base) =>
            val oldCover = s.read.schema(coverSchema)
              .parquet(base.resolve("cover").toString)
            val oldPairs = s.read.schema(schema)
              .parquet(base.resolve("pairs").toString)
            // both delta keys and removed ids are delta-sized 16-byte
            // frames; every join below is graph- or delta-sized except
            // the cross band join, whose corpus side is the persisted
            // signature scan
            val deltaKeys = curCover.join(oldCover,
              Seq("doc_id", "text_hash"), "left_anti")
            val removed = oldCover.join(curCover,
                Seq("doc_id", "text_hash"), "left_anti")
              .select(col("doc_id").as("rid"))
            val carried = oldPairs
              .join(removed, oldPairs("a_id") === removed("rid"), "left_anti")
              .join(removed, oldPairs("b_id") === removed("rid"), "left_anti")
            val deltaSigs = sigs.join(deltaKeys,
              Seq("doc_id", "text_hash"), "left_semi")
            graft.queries.LlmOps.neardupPairsCross(
              s, dir, threshold, deltaSigs, sigs) { fresh =>
              writeParts(carried.unionByName(fresh), curCover, staging)
            }
          case None =>
            // two-phase verified fast path (round 13, SCALING.md: profiling put
            // 80% of the full build in the string-array verify; the
            // hashed prefilter + candidate-restricted string pass is
            // output-identical — the spec pins this artifact against
            // buildPlan's single-stage reference on every run)
            graft.queries.LlmOps.neardupPairsBuild(s, dir, threshold,
              sigs) { fresh => writeParts(fresh, curCover, staging) }
        }
      }
    }
    ArtifactStore.memoFrame[DataFrame](s, idx, art.stamp) {
      s.read.schema(schema).parquet(idx.resolve("pairs").toString)
    }
  }
}
