package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.ArtifactStore
import graft.sources.ArtifactStore.Stamped

/**
 * One declared engine query (SURVEY.md §2.C): a Spark implementation plus,
 * where SQL-expressible, an equivalent DuckDB oracle the driver
 * hash-compares row-for-row. Column names/aliases must match between the
 * two exactly (the driver sorts columns by name before hashing).
 */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** An entry that IS its SQL text, for a query with nothing to state
   * but the query: `run` binds each core table the text reads as a temp
   * view (through [[Q.rd]]; `events` through [[Q.events]]) and returns
   * `s.sql(text)`; the text is also the DuckDB oracle, so the gate
   * compares two engines on one text, not two formulations. Tables come
   * from the parsed plan, never from words, so aliases and CTE names
   * bind no file. Views are rebound on every call (one session runs an
   * entry over several dirs); a frame already returned keeps the plan
   * it resolved. Spark-only hints ride in comments DuckDB ignores. */
  def sql(name: String, text: String): QueryDef =
    QueryDef(name, (s, dir) => {
      tablesRead(s, text).foreach { t =>
        (if (t == "events") Q.events(s, dir) else Q.rd(s, dir, t))
          .createOrReplaceTempView(t)
      }
      s.sql(text)
    }, Some(text))

  /** The core tables `text` reads: the relation names of its parsed
   * plan, CTE bodies and subquery expressions included. */
  private def tablesRead(s: SparkSession, text: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def walk(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case UnresolvedRelation(Seq(t), _, _) => Seq(t.toLowerCase(java.util.Locale.ROOT))
        case _ => Nil
      }
      here ++ (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c } ++
        p.expressions.flatMap(_.collect { case e: SubqueryExpression => e.plan })
      ).flatMap(walk)
    }
    walk(s.sessionState.sqlParser.parsePlan(text)).filter(Q.coreTables).toSet
  }
}

/**
 * Shared helpers. The float-determinism rules (SURVEY.md §5.3, §7 "oracle
 * determinism" risk) are enforced here:
 *
 *  - Money/measure sums go through exact decimal arithmetic
 *    ([[Q.dsum]]) so Spark's partial-aggregation order (which differs
 *    from DuckDB's single-threaded order) cannot change the result; the
 *    final value is cast back to double, a single well-defined rounding.
 *  - Averages are expressed as exact-decimal-sum / count in BOTH engines
 *    (identical IEEE division of identical inputs), never as the engine's
 *    own AVG over doubles.
 *  - Every query ends in a total ORDER BY.
 */
object Q {
  /** The driver-generated tables are immutable for a JVM's lifetime
   * (a regenerated corpus arrives in a fresh process), so their footer
   * schemas are cached per path: `spark.read.parquet` without a schema
   * pays footer inference on EVERY DataFrame construction (~125 ms at
   * sf0.1 vs ~19 ms with an explicit schema — measured 50-call mean),
   * and the gate builds several hundred frames per bench run. Only
   * these ten names go through the cache — anything an entry writes
   * itself (round-trip dirs, snapshots, evolving-schema fixtures) must
   * keep re-inferring, because those paths DO change within a JVM. */
  val coreTables: Set[String] = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** The memoized footer schema of one of the ten driver-generated
   * tables (never a path an entry writes itself); [[rd]] and the
   * streaming source read through it. */
  def coreSchema(spark: SparkSession, dir: String,
                 table: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(s"$dir/$table.parquet",
      path => spark.read.parquet(path).schema)

  def rd(spark: SparkSession, dir: String, table: String): DataFrame = {
    val p = s"$dir/$table.parquet"
    if (coreTables(table))
      spark.read.schema(coreSchema(spark, dir, table)).parquet(p)
    else spark.read.parquet(p)
  }

  /** The events table's ts encoding has varied across driver testdata
   * generations and this helper absorbs all of them into a plain UTC
   * TimestampType:
   *  - NANOS parquet timestamp → Spark 4 refuses to read it as a
   *    timestamp ([PARQUET_TYPE_ILLEGAL]); sessions set
   *    `spark.sql.legacy.parquet.nanosAsLong=true` (see Verify/Bench),
   *    the column arrives as ns-since-epoch LongType and is truncated
   *    to µs — the same floor DuckDB applies on its ns read;
   *  - MICROS with isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ,
   *    which event-time watermarks and unix_micros reject; cast to
   *    TimestampType (the session is pinned UTC, so the wall-clock
   *    values — and the oracle comparison — are unchanged). */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(rd(spark, dir, "events"))

  /** Normalize a frame's `ts` column to UTC TimestampType whatever the
   * testdata generation encoded (see [[events]]); shared by the batch
   * reader, the streaming source, and the specs. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast("timestamp"))
    case _ => df
  }

  /** Exact sum of a 2-decimal-place double column: decimal(18,2) per-row
   * cast (exact for the testdata's 2dp money values), exact decimal sum,
   * one final cast to double. Oracle twin: [[dsumSql]]. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of a derived per-row double expression with up to `s`
   * true decimal places: the per-row double is bit-identical in both
   * engines (same IEEE expression tree over the same inputs), the
   * decimal(18,s) cast rounds it to the grid it already sits on, and the
   * sum is exact. */
  def dsumS(c: Column, s: Int): Column = sum(c.cast(DecimalType(18, s))).cast("double")

  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"
  def dsumSqlS(expr: String, s: Int): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$s))) AS DOUBLE)"

  /** Content stamp of a source parquet table (size ⊕ mtime over its
   * files): names for derived artifacts (round-trip export dirs,
   * bucketed tables) carry this so a derived copy is rebuilt exactly
   * when the SOURCE content changes, and reused otherwise — never
   * serving stale bytes after a testdata regen, never re-paying the
   * ingest shuffle for unchanged input. */
  def contentStamp(dir: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(dir, s"$table.parquet")
    try {
      val files =
        if (Files.isDirectory(src)) {
          val s = Files.list(src)
          try s.iterator().asScala.toVector.sortBy(_.toString)
          finally s.close()
        } else Vector(src)
      val h = files.foldLeft(1125899906842597L) { (acc, f) =>
        val sz = Files.size(f)
        val mt = Files.getLastModifiedTime(f).toMillis
        (acc * 1000003L) ^ (sz * 31L + mt)
      }
      java.lang.Long.toHexString(h)
    } catch { case _: Throwable => "nosrc" }
  }

  /** Recursively delete a directory tree (missing path is a no-op). */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    // a CONCURRENT deleter (cross-process gc) can vanish entries
    // between the exists probe and any step of the walk — both the
    // bare NoSuchFileException (from walk open) and Files.walk's
    // traversal-time UncheckedIOException wrapper. But a vanish can
    // also be a single CHILD going away with the rest of the tree
    // still present — swallowing that unconditionally would report
    // success on a partial delete (r18 second-pass finding: a
    // half-deleted target dir then costs the caller a full build that
    // fails at publish). So: tolerate the vanish, RE-CHECK the root,
    // and retry; only a root that is actually gone (or a clean walk)
    // is success. Persistent failure after retries propagates loudly.
    def attempt(): Unit =
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    var done = false
    var tries = 0
    while (!done) {
      tries += 1
      try { attempt(); done = true }
      catch {
        case t if ArtifactStore.isVanish(t) =>
          if (!Files.exists(p)) done = true // root gone: success
          else if (tries >= 3) throw t // persistent partial: loud
        // else: a child vanished under a live root — walk again
      }
    }
  }

  /** Per-invocation staging sibling for an atomically-published
   * artifact dir: `<target>.stage_<pid>_<jvmToken>_<n>`
   * ([[ArtifactStore.stageName]]). Unique per invocation, so two
   * threads of one JVM building the same artifact never share a
   * staging path, and in-process racers get the same win-or-discard
   * semantics as cross-process ones. [[sweepStaleSiblings]] keeps the
   * copy while its builder is live. */
  def stagingFor(target: java.nio.file.Path): java.nio.file.Path =
    target.resolveSibling(
      target.getFileName.toString + ArtifactStore.stageName())

  /** Publish a fully-built staging dir as `target` by ATOMIC RENAME —
   * the check-then-act fix for content-stamped tmp artifacts (a reader
   * probing `target/_SUCCESS` can never observe a half-written dir).
   * Losing the rename race to a concurrent builder is fine: both built
   * the same stamped content; the loser discards its copy. A rename
   * that fails for any OTHER reason (staging vanished, cross-device
   * tmpdir) must not be swallowed as if it were a lost race — when no
   * winner occupies the target either, the original exception
   * propagates instead of surfacing later as an unrelated
   * path-not-found read. */
  def publishDirAtomic(staging: java.nio.file.Path,
                       target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: java.nio.file.FileSystemException =>
      deleteRecursively(staging)
      if (!Files.exists(target)) throw e
    }
  }

  /** The build-once / content-stamped artifact protocol in one place —
   * every stamped artifact goes through this: q_decimal_agg's table,
   * the IVF and streaming corpus indexes, the CDC and late-data feeds,
   * the MinHash signature, kNN edge and near-dup pair indexes, and
   * SourceOps' eight exports and three snapshot chains. Resolve
   * `art.path`; if `<dir>/<marker>` is absent, run `build` against a
   * per-invocation staging dir, publish it by ONE atomic rename, then
   * sweep stale stamps of the same family (post-publish, so an
   * incremental build can read the previous artifact — see
   * [[ensureStampedIncr]]). Existence of the published marker
   * therefore always means a COMPLETE artifact: a crashed build leaves
   * only an unpublished `.stage_` dir, reclaimed by the family's next
   * publish once its builder is dead or idle ([[sweepStaleSiblings]]),
   * and a concurrent builder either wins the rename or discards its
   * identical copy. `marker` is a path RELATIVE to the artifact dir:
   * "_SUCCESS" for single parquet writes, the last-written part's
   * marker for multi-part artifacts (`v=<last>/_SUCCESS` for a
   * snapshot chain). Not through here, each for the reason at its
   * site: q_incr_sigs' scenario and q_bucketed_join's tables. Returns
   * the published dir. */
  def ensureStamped(art: Stamped, marker: String = "_SUCCESS")
                   (build: java.nio.file.Path => Unit): java.nio.file.Path =
    ensureStampedIncr(art, marker)((staging, _) => build(staging))

  /** [[ensureStamped]] with INCREMENTAL maintenance: when the stamp is
   * absent but a COMPLETE sibling of the same family exists (the
   * artifact of a previous corpus state), `build` receives it as an
   * incremental base — sign/score only the delta, union, republish.
   * The stale sweep therefore runs AFTER the new artifact publishes
   * (the base must survive the build that reads it); a concurrent
   * process finishing first can still sweep the base mid-read, which
   * fails THIS build loudly (propagated after staging cleanup) rather
   * than corrupting anything — the retry then serves the winner's
   * artifact. The equivalence contract (incremental result ≡ full
   * rebuild) is the builder's to uphold (MinHashSigIndexSpec,
   * KnnGraphIndexSpec and NeardupPairsIndexSpec pin its three users). */
  def ensureStampedIncr(art: Stamped, marker: String = "_SUCCESS")
                       (build: (java.nio.file.Path,
                                Option[java.nio.file.Path]) => Unit)
      : java.nio.file.Path = {
    import java.nio.file.Files
    val idx = art.path
    if (!Files.exists(idx.resolve(marker))) {
      val prev = newestCompleteSibling(art, marker)
      // A target dir WITHOUT its marker is a pre-protocol or foreign
      // half-artifact (the protocol only publishes complete dirs) —
      // replace it, or the atomic publish below would lose to it and
      // the caller would read the half-artifact forever. The marker is
      // RE-probed after the sweep so a complete artifact a concurrent
      // driver published since the outer probe is served, not deleted;
      // and the delete itself can never hit a complete artifact,
      // because while a markerless dir occupies the path no concurrent
      // publish can land there (ATOMIC_MOVE onto an existing dir
      // fails) — the dir observed markerless here stays markerless
      // until the path is free.
      if (Files.exists(idx.resolve(marker))) return idx
      if (Files.exists(idx)) {
        // the dir may have appeared SINCE the marker re-probe — a
        // concurrent complete publish landing in that window must be
        // served, never deleted; once the marker check here passes
        // markerless, the dir observed is a genuine half-artifact and
        // stays markerless until the path is free (ATOMIC_MOVE onto an
        // existing dir fails), so the delete cannot race a publish
        if (Files.exists(idx.resolve(marker))) return idx
        deleteRecursively(idx)
      }
      val staging = stagingFor(idx) // unique per invocation — no residue
      try build(staging, prev)
      catch { case e: Throwable => deleteRecursively(staging); throw e }
      publishDirAtomic(staging, idx)
      // publishDirAtomic returning normally means either our rename
      // landed or a concurrent winner's did — in both cases the marker
      // must now exist; anything else is a half-published artifact the
      // caller must not read
      if (!Files.exists(idx.resolve(marker)))
        throw new IllegalStateException(
          s"stamped publish of $idx produced no $marker")
      sweepStaleSiblings(art)
    }
    idx
  }

  /** The newest COMPLETE (marker-bearing) stamped sibling of `art`
   * in its family — the incremental base for [[ensureStampedIncr]];
   * None when no previous artifact survives. */
  private def newestCompleteSibling(art: Stamped, marker: String)
      : Option[java.nio.file.Path] = {
    import java.nio.file.Files
    siblings(art).filterNot(isStaging)
      .filter(p => Files.exists(p.resolve(marker)))
      .sortBy(ArtifactStore.mtimeOrZero)
      .lastOption
  }

  /** Sweep stale stamped siblings of `keep` (same family, different
   * stamp): a regenerated source must not leak dead artifact dirs into
   * tmp forever. A `.stage_` copy of any stamp survives while its
   * builder is live ([[ArtifactStore.stageLive]]); a crashed or idle
   * builder's is reclaimed. */
  def sweepStaleSiblings(keep: Stamped): Unit = {
    val (staging, stale) = siblings(keep).partition(isStaging)
    stale.foreach(deleteRecursively)
    staging.filterNot(ArtifactStore.stageLive).foreach(deleteRecursively)
  }

  private def isStaging(p: java.nio.file.Path): Boolean =
    p.getFileName.toString.contains(".stage_")

  /** The dirs of `art`'s family, published or staging, other than `art`
   * itself. */
  private def siblings(art: Stamped): Vector[java.nio.file.Path] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val parent = art.path.getParent
    if (parent == null || !Files.isDirectory(parent)) return Vector.empty
    val listing = Files.list(parent)
    try listing.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(art.family) && n != art.name
      }
      .toVector
    finally listing.close()
  }
}
