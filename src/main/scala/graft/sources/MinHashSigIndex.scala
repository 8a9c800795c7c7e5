package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Q

/**
 * Content-stamped persisted MinHash signature table for the UNFILTERED
 * documents corpus — the shared artifact every LSH dedup consumer
 * (q_neardup_pairs, q_minhash_est, q_dedup_clusters[_star],
 * q_cluster_rep, q_split_leakage) serves from instead of re-running
 * the corpus-wide shingle explode + 32-permutation MinHash fold.
 *
 * One parquet dir per corpus state, published through
 * [[Q.ensureStampedIncr]] (staging, one atomic rename, post-publish
 * stale sweep). A stamp change with a surviving base refreshes
 * incrementally: the base rows whose (doc_id, text_hash) is still in
 * the corpus are kept as written, only the missing keys are signed
 * (the corpus-scale shingle+fold runs over the delta slice), and the
 * union is written as the new dir. A removed key simply drops; a key
 * that returns later is signed again. Refresh COMPUTE is therefore
 * delta-sized; the write is the signature table itself, one
 * fixed-width row per doc.
 *
 * Incremental ≡ full rebuild UNCONDITIONALLY (q_incr_sigs oracle-pins
 * it in the gate; MinHashSigIndexSpec pins the carry-over actually
 * happening). The serve schema is unchanged from r9 — consumers are
 * untouched.
 */
object MinHashSigIndex {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("text_hash", LongType),
    StructField("n_sh", IntegerType)))

  /** v7: one stamped dir per corpus state (v6 was a segment store). */
  private val PREFIX = "graft_minhash_sigs_v7_"

  private def artifact(dir: String) =
    ArtifactStore.stamped(PREFIX, dir, "documents")

  /** The artifact dir the current corpus state publishes to — exposed
   * for the spec's tamper probe. */
  private[graft] def artifactDir(dir: String): Path = artifact(dir).path

  /** The full-corpus signature-build plan (unpersisted) — exposed for
   * spec pins. */
  def buildPlan(s: SparkSession, dir: String): DataFrame =
    graft.queries.LlmOps.sigsPlan(s, dir)

  /** The persisted signature table for `dir`'s documents:
   * build-if-absent — keep-and-sign-the-delta refresh against the
   * newest surviving base when one exists — then a single-dir scan. */
  def sigs(s: SparkSession, dir: String): DataFrame = {
    val art = artifact(dir)
    // same-family builders serialize within the JVM (refreshes across
    // corpus states too, so none races the base sweep)
    val idx = ArtifactStore.lockFor(ArtifactStore.root.resolve(art.family))
      .synchronized {
      Q.ensureStampedIncr(art) { (staging, baseOpt) =>
        // null doc_id rows are UNINDEXABLE (no keyed consumer could
        // ever address the row): filtered at the source, the same
        // no-null-mass contract as HotColdFreq's freq frame
        val docs = Q.rd(s, dir, "documents")
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"), col("text"),
            xxhash64(col("text")).as("text_hash"))
        baseOpt match {
          case Some(base) =>
            // CACHED: the 16-byte key projection feeds both directions
            // (kept rows and fresh keys); uncached, each re-paid the
            // corpus text scan + rehash. Text never crosses an
            // exchange — freshKeys (delta-sized) joins back against
            // the corpus scan, AQE broadcasts it when the delta is small.
            val keys = docs.select("doc_id", "text_hash").cache()
            try {
              val old = s.read.schema(schema).parquet(base.toString)
              val kept = old.join(keys, Seq("doc_id", "text_hash"), "left_semi")
              val freshKeys = keys.join(old.select("doc_id", "text_hash"),
                Seq("doc_id", "text_hash"), "left_anti")
              val fresh = graft.queries.LlmOps.sigsPlanFor(
                docs.join(freshKeys, Seq("doc_id", "text_hash"), "left_semi")
                  .select("doc_id", "text"))
              write(kept.unionByName(fresh), staging)
            } finally keys.unpersist()
          case None =>
            write(graft.queries.LlmOps.sigsPlanFor(
              docs.select("doc_id", "text")), staging)
        }
      }
    }
    ArtifactStore.memoFrame[DataFrame](s, idx, art.stamp) {
      s.read.schema(schema).parquet(idx.toString)
    }
  }

  private def write(table: DataFrame, staging: Path): Unit =
    table.write.mode("overwrite").parquet(staging.toString)
}
