package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the one session factory: its session carries the
 * engine's conf set, and no other main source builds a session. The
 * source guards below keep the other one-owner rules: one artifact
 * root, one publish path. */
class GraftSessionSpec extends AnyFunSuite {

  test("the factory's session carries the engine confs, master and shuffle width") {
    // SparkTestBase builds its session with GraftSession("local[8]", 8);
    // a new session reads the confs it was built with, not the runtime
    // edits other suites make to the shared one
    val s = SparkTestBase.spark.newSession()
    assert(s.sparkContext.master == "local[8]")
    val want = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    for ((k, v) <- want) assert(s.conf.get(k) == v, k)
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  /** The main sources (relative to src/main/scala) whose text contains
   * any of `needles`. */
  private def mainSourcesWith(needles: String*): List[String] =
    mainSourcesWhere(text => needles.exists(text.contains))

  private def mainSourcesWhere(hit: String => Boolean): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => hit(Files.readString(p)))
      .map(p => root.relativize(p).toString).toList.sorted
    finally walk.close()
  }

  test("no main source outside GraftSession.scala builds a SparkSession") {
    val builders = mainSourcesWith("SparkSession.builder")
    assert(builders == List("graft/GraftSession.scala"), builders)
  }

  test("no main source reaches a graft kernel through the function registry") {
    // the Column API builds its expressions directly, so it works in any
    // session. Specs run in GraftSession sessions, which carry the SQL
    // names: a wrapper back on call_function would pass every other spec
    // and fail only in sessions without GraftExtensions (the benchmark
    // harness's, a user's)
    val hits = mainSourcesWith("call_function(", "def register(", "registerAll")
    assert(hits.isEmpty, hits)
  }

  test("only ArtifactStore.scala names the artifact root or a corpus tag") {
    // every persisted artifact's dir is rooted and named in one place;
    // a hand-built path elsewhere can drift from the names the stores
    // sweep and reuse
    val hits = mainSourcesWith("java.io.tmpdir", "dirTag(")
    assert(hits == List("graft/sources/ArtifactStore.scala"), hits)
    // a one-argument createTempDirectory reads java.io.tmpdir implicitly
    // (an argument list without a top-level comma)
    val oneArg = """createTempDirectory\((?:[^(),]|\([^()]*\))*\)""".r
    assert(oneArg.findFirstIn("Files.createTempDirectory(s\"graft_$n\")").nonEmpty)
    assert(oneArg.findFirstIn("createTempDirectory(f(a, b))").nonEmpty)
    assert(oneArg.findFirstIn("createTempDirectory(root, s\"graft_$n\")").isEmpty)
    val implicitRoot = mainSourcesWhere(oneArg.findFirstIn(_).nonEmpty)
    assert(implicitRoot.isEmpty, implicitRoot)
  }

  test("only Q.publishDirAtomic and SnapshotStore publish by atomic move") {
    // every stamped artifact publishes through Q.ensureStamped's one
    // rename; SnapshotStore keeps its own because its losing writer must
    // fail loudly. A second publish path (or a hard-link publish) would
    // be a protocol with its own crash and race rules
    val moves = mainSourcesWith("ATOMIC_MOVE")
    assert(moves == List("graft/queries/QueryDef.scala",
      "graft/sources/SnapshotStore.scala"), moves)
    assert(mainSourcesWith("createLink").isEmpty)
  }

  test("only QueryDef.sql binds temp views") {
    // an entry that is its SQL text binds the tables it reads through
    // QueryDef.sql, rebound per call; a hand-rolled view-plus-s.sql
    // entry would bind under names of its own and duplicate its oracle
    val views = mainSourcesWith("createOrReplaceTempView")
    assert(views == List("graft/queries/QueryDef.scala"), views)
  }

  test("without a warehouse conf, managed tables live under the artifact root") {
    // q_bucketed_join's graft_bkt_* tables, not the working directory
    val t = SparkTestBase.spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("graft_bkt_probe"))
    assert(Paths.get(t).getParent ==
      Paths.get(System.getProperty("java.io.tmpdir"), "graft_warehouse"), t)
  }

  test("the benchmark harness builds its session with GraftSession's literal confs") {
    // perfbench/harness/Harness.scala builds its own session from a
    // copy of GraftSession's conf set; a conf changed in GraftSession
    // alone would leave the benchmark measuring a different engine from
    // Bench, Verify and the tests. Compares the `.config("key", "value")`
    // calls whose two arguments are both string literals.
    val literal = """\.config\(\s*"([^"]*)"\s*,\s*"([^"]*)"\s*\)""".r
    def confs(path: String): Set[(String, String)] = {
      val p = Paths.get(path)
      assert(Files.isRegularFile(p), s"run from the repository root: $p")
      literal.findAllMatchIn(Files.readString(p))
        .map(m => m.group(1) -> m.group(2)).toSet
    }
    val session = confs("src/main/scala/graft/GraftSession.scala")
    assert(session.nonEmpty)
    assert(confs("perfbench/harness/Harness.scala") == session)
  }
}
