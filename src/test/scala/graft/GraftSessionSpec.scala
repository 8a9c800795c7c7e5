package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the one session factory: its session carries the
 * engine's conf set, and no other main source builds a session. */
class GraftSessionSpec extends AnyFunSuite {

  test("the factory's session carries the engine confs, master and shuffle width") {
    // SparkTestBase builds its session with GraftSession("local[8]", 8, …);
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

  test("no main source outside GraftSession.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(builders == List("graft/GraftSession.scala"), builders)
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
