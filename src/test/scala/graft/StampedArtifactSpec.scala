package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q
import graft.sources.ArtifactStore
import graft.sources.ArtifactStore.Stamped

/** Q.ensureStamped is the ONE implementation of the build-once
 * artifact protocol (IVF index, s_incr_dedup corpus index, the CDC and
 * late-data feeds, the signature, kNN edge and near-dup pair indexes,
 * SourceOps' exports and snapshot chains all route through it) — these
 * pins cover the protocol itself: build-once reuse, half-artifact
 * replacement, stale-stamp sweep, and in-flight staging respect. */
class StampedArtifactSpec extends AnyFunSuite {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  private def withPrefix(test: String => Unit): Unit = {
    val prefix = s"graft_testart_${java.util.UUID.randomUUID().toString.take(8)}_"
    try test(prefix)
    finally {
      val l = Files.list(tmp)
      try l.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.startsWith(prefix)) Q.deleteRecursively(p)
      } finally l.close()
    }
  }

  private def buildInto(n: java.util.concurrent.atomic.AtomicInteger)
      (staging: java.nio.file.Path): Unit = {
    n.incrementAndGet()
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("data"), "payload")
    Files.createFile(staging.resolve("_SUCCESS"))
  }

  test("builds once, then every ensure reuses the published artifact") {
    withPrefix { prefix =>
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val a = Q.ensureStamped(Stamped(prefix, "s1"))(buildInto(n))
      val b = Q.ensureStamped(Stamped(prefix, "s1"))(buildInto(n))
      assert(n.get() == 1 && a == b)
      assert(Files.readString(a.resolve("data")) == "payload")
      // no staging residue after a successful publish
      import scala.jdk.CollectionConverters._
      val l = Files.list(tmp)
      try assert(!l.iterator().asScala
        .exists(_.getFileName.toString.contains(prefix + "s1.stage_")))
      finally l.close()
    }
  }

  test("a markerless half-artifact at the target is replaced, not served") {
    withPrefix { prefix =>
      // simulate a pre-protocol crash: target dir exists, no marker
      val half = tmp.resolve(prefix + "s1")
      Files.createDirectories(half)
      Files.writeString(half.resolve("data"), "HALF")
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val a = Q.ensureStamped(Stamped(prefix, "s1"))(buildInto(n))
      assert(n.get() == 1)
      assert(Files.exists(a.resolve("_SUCCESS")))
      assert(Files.readString(a.resolve("data")) == "payload")
    }
  }

  test("stale stamps of the same prefix are swept; other prefixes and in-flight staging survive") {
    withPrefix { prefix =>
      val old = tmp.resolve(prefix + "oldstamp")
      Files.createDirectories(old)
      Files.createFile(old.resolve("_SUCCESS"))
      // a concurrent builder's in-flight staging copy (a live pid)
      val pid = ProcessHandle.current().pid()
      val inflight = tmp.resolve(prefix + s"s2.stage_${pid}_tok_1")
      Files.createDirectories(inflight)
      // a crashed builder's copy (no process has this pid)
      val crashed = tmp.resolve(prefix + "s2.stage_99999999_tok_1")
      Files.createDirectories(crashed)
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      Q.ensureStamped(Stamped(prefix, "s2"))(buildInto(n))
      assert(!Files.exists(old), "stale stamp must be swept")
      assert(Files.exists(inflight), "a live builder's staging must survive")
      assert(!Files.exists(crashed), "a dead builder's staging must be reclaimed")
    }
  }

  test("staging is reclaimed by its owner token, not by digits in the family, and when idle") {
    withPrefix { prefix =>
      // an all-digit token in the family that names a live pid must not
      // be read as the staging's owner
      val pid = ProcessHandle.current().pid()
      val family = s"$prefix${pid}_"
      val crashed = tmp.resolve(family + "s5.stage_99999999_tok_1")
      Files.createDirectories(crashed)
      // a live pid whose copy saw no write for longer than the lease
      val idle = tmp.resolve(family + s"s4.stage_${pid}_tok_2")
      Files.createDirectories(idle)
      Files.setLastModifiedTime(idle, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - ArtifactStore.STAGE_MAX_AGE_MS - 60000L))
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      Q.ensureStamped(Stamped(family, "s5"))(buildInto(n))
      assert(!Files.exists(crashed), "a dead builder's staging must be reclaimed")
      assert(!Files.exists(idle), "an idle builder's staging must be reclaimed")
    }
  }

  test("stamped staging names carry the pid and the JVM token") {
    val pid = ProcessHandle.current().pid()
    val a = Q.stagingFor(tmp.resolve("graft_x_s1")).getFileName.toString
    val b = Q.stagingFor(tmp.resolve("graft_x_s1")).getFileName.toString
    val want = s"graft_x_s1.stage_${pid}_${ArtifactStore.jvmToken}_"
    assert(a.startsWith(want) && b.startsWith(want), a)
    assert(a != b, "one name per invocation")
  }

  test("concurrent builders: loser discards its copy, both serve one artifact") {
    withPrefix { prefix =>
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(2)
      def ensure(): java.nio.file.Path =
        Q.ensureStamped(Stamped(prefix, "s4")) { staging =>
          builds.incrementAndGet()
          gate.countDown()
          gate.await(10, java.util.concurrent.TimeUnit.SECONDS)
          // both threads are now inside build — both will publish,
          // exactly one rename wins, the loser discards. Staging dirs
          // are unique PER INVOCATION (pid+seq), so in-process racers
          // get the same win-or-discard semantics as cross-process
          // ones: these writes are STRICT — a failure here would mean
          // one racer's staging was yanked by the other, the exact
          // regression this pin guards.
          Files.createDirectories(staging)
          Files.writeString(staging.resolve("data"), "payload")
          Files.writeString(staging.resolve("_SUCCESS"), "")
        }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val (a, b) = (Future(ensure()), Future(ensure()))
      val (pa, pb) = (Await.result(a, 30.seconds), Await.result(b, 30.seconds))
      assert(pa == pb)
      assert(builds.get() == 2, "both raced into build (the gate guarantees it)")
      assert(Files.readString(pa.resolve("data")) == "payload")
      // exactly one published dir, no staging residue
      import scala.jdk.CollectionConverters._
      val l = Files.list(tmp)
      try {
        val left = l.iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix)).toVector
        assert(left.map(_.getFileName.toString) == Vector(prefix + "s4"))
      } finally l.close()
    }
  }

  test("incremental ensure: a complete previous stamp is handed to the build, then swept") {
    withPrefix { prefix =>
      var sawPrev: Option[java.nio.file.Path] = None
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def ensure(stamp: String): java.nio.file.Path =
        Q.ensureStampedIncr(Stamped(prefix, stamp)) { (staging, prev) =>
          sawPrev = prev
          buildInto(n)(staging)
        }
      // first build: no previous artifact → full build, prev = None
      val a = ensure("s1")
      assert(sawPrev.isEmpty, "first build must see no incremental base")
      // a markerless half-dir sibling must NOT qualify as a base
      val half = tmp.resolve(prefix + "half")
      Files.createDirectories(half)
      val b = ensure("s2")
      assert(sawPrev.contains(a),
        "second build must receive the COMPLETE previous artifact, " +
          s"got $sawPrev")
      assert(!Files.exists(a), "previous stamp must be swept after publish")
      assert(!Files.exists(half), "markerless sibling must be swept too")
      assert(Files.exists(b.resolve("_SUCCESS")) && n.get() == 2)
      // re-ensure of the current stamp is served, no build, no prev probe
      sawPrev = Some(tmp)
      ensure("s2")
      assert(n.get() == 2 && sawPrev.contains(tmp))
    }
  }

  test("custom marker: rebuild is keyed on the marker, not the dir") {
    withPrefix { prefix =>
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def build(staging: java.nio.file.Path): Unit = {
        n.incrementAndGet()
        Files.createDirectories(staging.resolve("part2"))
        Files.createFile(staging.resolve("part2").resolve("_SUCCESS"))
      }
      val a = Q.ensureStamped(Stamped(prefix, "s3"), marker = "part2/_SUCCESS")(build)
      Q.ensureStamped(Stamped(prefix, "s3"), marker = "part2/_SUCCESS")(build)
      assert(n.get() == 1)
      assert(Files.exists(a.resolve("part2").resolve("_SUCCESS")))
    }
  }
}
