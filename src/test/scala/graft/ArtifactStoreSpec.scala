package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ArtifactStore

/** ArtifactStore's own pins: the staging lease the stale-sibling sweep
 * judges by, and the serve-frame memo's keying and reclaim. What a
 * stamped artifact's build and publish guarantee is
 * StampedArtifactSpec's. */
class ArtifactStoreSpec extends AnyFunSuite {

  private def freshDir(): Path =
    Files.createTempDirectory(ArtifactStore.root, "graft_test_astore_")

  test("a staging lease is write activity, not pid liveness alone") {
    val dir = freshDir()
    try {
      def aged(p: Path): Path = {
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - ArtifactStore.STAGE_MAX_AGE_MS - 60000L))
        p
      }
      def staging(): Path =
        Files.createDirectories(dir.resolve("a_s1" + ArtifactStore.stageName()))
      val fresh = staging()
      // a live owner pid whose copy saw no write past the lease: PIDs
      // recycle, so liveness alone must not keep it
      val idle = aged(staging())
      // an old dir whose tree saw a recent write is an in-flight build
      // (e.g. a multi-hour initial corpus build), never reclaimable
      val active = {
        val p = staging()
        Files.writeString(p.resolve("part-00000"), "in flight")
        aged(p) // dir mtime aged; the file inside stays fresh
      }
      val deadOwner = Files.createDirectories(
        dir.resolve("a_s1.stage_99999999_tok_1"))
      assert(ArtifactStore.stageLive(fresh),
        "fresh live-owner staging must be live")
      assert(!ArtifactStore.stageLive(idle),
        "idle staging must be reclaimable despite a live owner pid")
      assert(ArtifactStore.stageLive(active),
        "staging with recent write activity must survive an aged dir mtime")
      assert(!ArtifactStore.stageLive(deadOwner),
        "a dead owner's staging must be reclaimable")
    } finally graft.queries.Q.deleteRecursively(dir)
  }

  test("memoFrame: a dropped session is reclaimable even though its frames reference it") {
    val store = freshDir()
    try {
      var session: AnyRef = new Object
      val weakSession = new java.lang.ref.WeakReference[AnyRef](session)
      // the memoized value references its session, exactly as a
      // DataFrame references its SparkSession — the value→key pin
      // ADVICE r11 flagged: with strong memo values this entry (and
      // every frame and session in the memo) would live forever
      ArtifactStore.memoFrame[AnyRef](session, store, "s1")(
        Array[AnyRef](session))
      session = null
      var tries = 0
      while (weakSession.get() != null && tries < 100) {
        System.gc()
        ArtifactStore.memoSessionCount // expunges stale entries
        Thread.sleep(20)
        tries += 1
      }
      assert(weakSession.get() == null,
        "the session must become collectable once the caller drops it — " +
          "a strong memo value would pin it via the frame's session ref")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("memoFrame keys on (session identity, store, stamp)") {
    val store = freshDir()
    try {
      val sessionA = new Object; val sessionB = new Object
      var builds = 0
      def build(): String = { builds += 1; s"frame$builds" }
      val f1 = ArtifactStore.memoFrame[String](sessionA, store, "s1")(build())
      val f2 = ArtifactStore.memoFrame[String](sessionA, store, "s1")(build())
      assert(f1 == f2 && builds == 1, "same key must reuse the built frame")
      ArtifactStore.memoFrame[String](sessionA, store, "s2")(build())
      assert(builds == 2, "a stamp change must rebuild")
      ArtifactStore.memoFrame[String](sessionB, store, "s1")(build())
      assert(builds == 3, "another session must not see a foreign frame")
    } finally graft.queries.Q.deleteRecursively(store)
  }
}
