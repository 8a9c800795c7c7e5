package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestStore
import graft.sources.ManifestStore.{Entry, Manifest}

/** The per-partition manifest protocol's own pins, mirroring
 * StampedArtifactSpec's role for Q.ensureStamped: manifest round-trip,
 * broken-manifest self-heal (never serve references to vanished
 * segments), GC at partition granularity (referenced partitions
 * survive inside partially-dead segments; in-flight staging is never
 * touched), segment publication renaming partition dirs out of
 * Spark's partition-discovery syntax, incremental-base selection, and
 * the serve-frame memo's keying. The two index specs pin the
 * SEMANTICS built on top (carry-over, equivalence, delta-sized
 * writes); these pins cover the protocol layer itself. */
class ManifestStoreSpec extends AnyFunSuite {

  private def freshStore(): Path =
    ManifestStore.storeDir("graft_test_mstore_",
      java.util.UUID.randomUUID().toString)

  private def mkSeg(store: Path, buckets: Seq[Int]): Path = {
    val staging = ManifestStore.newSegStaging(store)
    buckets.foreach { b =>
      val d = staging.resolve(s"bucket=$b")
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), s"data-$b")
    }
    Files.writeString(staging.resolve("_SUCCESS"), "")
    ManifestStore.finalizeSeg(staging)
  }

  test("publish/read round-trip; bucket dirs renamed out of partition syntax") {
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(2, 0, 5))
      assert(seg.getFileName.toString.startsWith("seg_"),
        "finalize must strip the .stage_ prefix")
      val kids = ManifestStore.bucketChildren(store, seg)
      assert(kids.map(_._1) == Seq(0, 2, 5), "sorted by bucket")
      kids.foreach { case (b, rel) =>
        assert(rel.endsWith(s"bucket_$b"),
          s"dir for bucket $b must not keep the k=v form: $rel")
        assert(Files.isDirectory(store.resolve(rel)))
      }
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      val got = ManifestStore.currentManifest(store, "s1")
      assert(got.contains(m), "manifest must round-trip exactly")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("bucketChildren rejects a null-key partition dir loudly by name") {
    // a null bucket key writes `bucket=__HIVE_DEFAULT_PARTITION__`;
    // publishing it would crash later consumers with a bare
    // NumberFormatException (or worse, mis-serve) — the reject must
    // name the dir and the cause (r18 review finding)
    val store = freshStore()
    try {
      val staging = ManifestStore.newSegStaging(store)
      val d = staging.resolve("bucket=__HIVE_DEFAULT_PARTITION__")
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), "null-key")
      val seg = ManifestStore.finalizeSeg(staging)
      val ex = intercept[IllegalArgumentException] {
        ManifestStore.bucketChildren(store, seg)
      }
      assert(ex.getMessage.contains("non-integer") &&
        ex.getMessage.contains("__HIVE_DEFAULT_PARTITION__"))
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("staging names are unique beyond PID: a recycled pid's leftover cannot collide") {
    // PID + restart-at-1 counter alone collides with a crashed
    // predecessor's finalized seg under a recycled pid; the per-JVM
    // token makes the name unique to this JVM instance (r18 review
    // finding). Simulate the leftover: a seg named with our pid and a
    // counter we are ABOUT to use, minus the token.
    val store = freshStore()
    try {
      val staging = ManifestStore.newSegStaging(store)
      val name = staging.getFileName.toString
      val parts = name.stripPrefix(".stage_").split('_')
      assert(parts.length == 3,
        s"staging name must be .stage_<pid>_<jvmToken>_<n>, got $name")
      val Array(pid, tok, n) = parts
      assert(pid.forall(_.isDigit), s"pid segment must be numeric: $name")
      // the old (collision-prone) name shape, pretending a crashed
      // predecessor under the same pid already published it
      val leftover = store.resolve("segs").resolve(s"seg_${pid}_$n")
      Files.createDirectories(leftover)
      Files.writeString(leftover.resolve("part-0.parquet"), "old")
      // finalize must land beside it without touching it
      Files.createDirectories(staging)
      Files.writeString(staging.resolve("_SUCCESS"), "")
      val seg = ManifestStore.finalizeSeg(staging)
      assert(seg.getFileName.toString == s"seg_${pid}_${tok}_$n")
      assert(Files.exists(leftover.resolve("part-0.parquet")),
        "the predecessor's segment must be untouched")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("a manifest referencing a vanished dir self-heals to absent") {
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(1, 2))
      val kids = ManifestStore.bucketChildren(store, seg)
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      graft.queries.Q.deleteRecursively(store.resolve(kids.head._2))
      assert(ManifestStore.currentManifest(store, "s1").isEmpty,
        "a broken manifest must never be served")
      assert(!Files.exists(store.resolve("manifest_s1")),
        "the broken manifest file must be deleted so a rebuild can publish")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("a CORRUPT manifest self-heals to absent like a broken one") {
    // fs-level damage (publish is atomic, so only truncation/garbling
    // can produce this): pre-r19 a garbled line threw
    // NumberFormatException/MatchError out of every serve, and even a
    // skip could never heal — the EEXIST-protected publish cannot
    // replace an existing file, so the corrupt manifest pinned the
    // stamp to a rebuild-every-serve loop (r19 review)
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(1))
      val kids = ManifestStore.bucketChildren(store, seg)
      // garbled bucket number (non-numeric)
      Files.writeString(store.resolve("manifest_s1"),
        s"data\tNOT_A_NUMBER\t${kids.head._2}\t5\n")
      assert(ManifestStore.currentManifest(store, "s1").isEmpty,
        "a corrupt manifest must never be served (or crash the serve)")
      assert(!Files.exists(store.resolve("manifest_s1")),
        "the corrupt manifest file must be deleted so a rebuild can publish")
      // wrong arity (truncated line) heals the same way
      Files.writeString(store.resolve("manifest_s2"), "data\t1\n")
      assert(ManifestStore.currentManifest(store, "s2").isEmpty)
      assert(!Files.exists(store.resolve("manifest_s2")))
      // and a rebuild can now publish + serve under the healed stamp
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      assert(ManifestStore.currentManifest(store, "s1").contains(m))
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("a BINARY-garbled (non-UTF-8) manifest self-heals like a corrupt one") {
    // Files.readAllLines decodes UTF-8 strictly and throws
    // MalformedInputException on non-UTF-8 bytes — exactly the fs-level
    // garbling the r19 corrupt arm claims to handle, but its catch only
    // covered NumberFormatException/MatchError, so a binary-damaged
    // manifest still threw out of every serve and never reached the
    // self-heal delete (r19 ADVICE: catch CharacterCodingException).
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(1))
      val kids = ManifestStore.bucketChildren(store, seg)
      Files.write(store.resolve("manifest_s1"),
        Array[Byte](0xC3.toByte, 0x28, 0xA0.toByte, 0xFF.toByte, '\n'))
      assert(ManifestStore.currentManifest(store, "s1").isEmpty,
        "a binary-garbled manifest must never be served (or crash the serve)")
      assert(!Files.exists(store.resolve("manifest_s1")),
        "the garbled manifest file must be deleted so a rebuild can publish")
      // the incremental-base scan skips (without deleting) it the same way
      Files.write(store.resolve("manifest_s2"),
        Array[Byte](0xC3.toByte, 0x28))
      assert(ManifestStore.newestOtherManifest(store, "zzz").isEmpty)
      // and a rebuild can now publish + serve under the healed stamp
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      assert(ManifestStore.currentManifest(store, "s1").contains(m))
      // the heal path resolved its quarantine file — no .heal_ debris
      val leftovers = Files.list(store)
      try assert(!leftovers.iterator().asScala.exists(
          _.getFileName.toString.startsWith(".heal_")),
        "healUnservable leaked its quarantine file")
      finally leftovers.close()
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("healUnservable never destroys a VALID manifest (delete-the-winner race)") {
    // the heal path's judgment is made on a stale read: between
    // classifying a manifest corrupt and removing it, a concurrent
    // healer can delete + rebuild + republish a fresh VALID manifest
    // at the same path — a blind delete would kill it, un-reference
    // its segments, and let gc sweep them under the winner's serve
    // (r20 review). healUnservable therefore quarantines atomically
    // and re-judges what it actually owns: calling it directly on a
    // valid manifest (the worst-case interleaving, where the winner
    // republished just before our remove) must leave the stamp
    // servable with identical entries, never absent.
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(1, 2))
      val kids = ManifestStore.bucketChildren(store, seg)
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      ManifestStore.healUnservable(store, "s1")
      assert(ManifestStore.currentManifest(store, "s1").contains(m),
        "a valid manifest must survive a raced heal with identical entries")
      val leftovers = Files.list(store)
      try assert(!leftovers.iterator().asScala.exists(
          _.getFileName.toString.startsWith(".heal_")),
        "the raced heal leaked its quarantine file")
      finally leftovers.close()
      // and on a genuinely ABSENT manifest it is a clean no-op
      ManifestStore.healUnservable(store, "never_published")
      assert(ManifestStore.currentManifest(store, "never_published").isEmpty)
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("gc reclaims a crashed healer's quarantine file (dead owner only)") {
    val store = freshStore()
    try {
      val seg = mkSeg(store, Seq(1))
      val kids = ManifestStore.bucketChildren(store, seg)
      val m = Manifest("s1", kids.map { case (b, rel) => Entry("data", b, rel) })
      ManifestStore.publish(store, m)
      // a dead pid's crash-left quarantine: swept like a temp manifest
      val dead = store.resolve(".heal_999999999_1")
      Files.writeString(dead, "data\t1\tsegs/whatever/bucket_1\t5\n")
      // a LIVE process's in-flight quarantine survives the same gc
      val live = store.resolve(
        s".heal_${ProcessHandle.current().pid()}_777")
      Files.writeString(live, "data\t1\tsegs/whatever/bucket_1\t5\n")
      ManifestStore.gc(store, "s1")
      assert(!Files.exists(dead), "dead-owner quarantine must be reclaimed")
      assert(Files.exists(live), "live-owner quarantine must survive gc")
      assert(ManifestStore.currentManifest(store, "s1").contains(m),
        "gc must not disturb the kept manifest")
      Files.deleteIfExists(live)
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("GC: superseded manifests drop; referenced partitions survive inside partially-dead segments") {
    val store = freshStore()
    try {
      val segA = mkSeg(store, Seq(0, 1)) // s1 uses both; s2 keeps only bucket 1
      val segB = mkSeg(store, Seq(0))    // s2's replacement for bucket 0
      val segC = mkSeg(store, Seq(3))    // only s1 references it
      // bucketChildren performs the publish-time rename to bucket_<b>
      Seq(segA, segB, segC).foreach(ManifestStore.bucketChildren(store, _))
      def e(seg: Path, b: Int) = Entry("data", b,
        store.relativize(seg.resolve(s"bucket_$b")).toString)
      ManifestStore.publish(store, Manifest("s1",
        Seq(e(segA, 0), e(segA, 1), e(segC, 3))))
      ManifestStore.publish(store, Manifest("s2", Seq(e(segB, 0), e(segA, 1))))
      // an in-flight concurrent build must never be swept
      val inflight = ManifestStore.newSegStaging(store)
      Files.createDirectories(inflight.resolve("bucket=9"))
      ManifestStore.gc(store, "s2")
      assert(!Files.exists(store.resolve("manifest_s1")), "superseded manifest swept")
      assert(Files.exists(store.resolve("manifest_s2")))
      assert(!Files.exists(segA.resolve("bucket_0")),
        "unreferenced partition inside a kept segment must be swept")
      assert(Files.exists(segA.resolve("bucket_1")),
        "referenced partition of the same segment must survive")
      assert(Files.exists(segB.resolve("bucket_0")))
      assert(!Files.exists(segC), "fully-unreferenced segment swept whole")
      assert(Files.exists(inflight), "in-flight staging must survive GC")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("newestOtherManifest picks the newest intact base, excluding the target stamp") {
    val store = freshStore()
    try {
      val segA = mkSeg(store, Seq(0))
      val segB = mkSeg(store, Seq(0))
      Seq(segA, segB).foreach(ManifestStore.bucketChildren(store, _))
      def m(stamp: String, seg: Path) = Manifest(stamp, Seq(Entry("data", 0,
        store.relativize(seg.resolve("bucket_0")).toString)))
      ManifestStore.publish(store, m("s1", segA))
      Files.setLastModifiedTime(store.resolve("manifest_s1"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L))
      ManifestStore.publish(store, m("s2", segB))
      assert(ManifestStore.newestOtherManifest(store, "s3")
        .map(_.stamp).contains("s2"), "newest by mtime")
      assert(ManifestStore.newestOtherManifest(store, "s2")
        .map(_.stamp).contains("s1"), "target stamp excluded")
      // a broken newer manifest is skipped, not served as a base
      graft.queries.Q.deleteRecursively(store.resolve(
        store.relativize(segB.resolve("bucket_0")).toString))
      assert(ManifestStore.newestOtherManifest(store, "s3")
        .map(_.stamp).contains("s1"))
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("publishAndServe: a losing concurrent builder serves the winner's manifest, never its own gc'ed segments") {
    val store = freshStore()
    try {
      // winner: a concurrent builder of the SAME stamp published first
      val segW = mkSeg(store, Seq(0, 1))
      val mW = Manifest("s1", ManifestStore.bucketChildren(store, segW)
        .map { case (b, rel) => Entry("data", b, rel, 1L) })
      ManifestStore.publish(store, mW)
      // loser: built equivalent content, loses the publish race, and
      // its own gc then sweeps its freshly written (unreferenced)
      // segments — the r11-flagged hazard was serving the LOCAL
      // manifest here, i.e. references to just-deleted dirs
      val segL = mkSeg(store, Seq(0, 1))
      val mL = Manifest("s1", ManifestStore.bucketChildren(store, segL)
        .map { case (b, rel) => Entry("data", b, rel, 1L) })
      val served = ManifestStore.publishAndServe(store, mL)
      assert(served == mW, "the loser must serve the on-disk winner")
      served.entries.foreach(e =>
        assert(Files.isDirectory(store.resolve(e.rel)),
          s"served reference must exist on disk: ${e.rel}"))
      assert(!Files.exists(segL),
        "the loser's orphan segments are swept, not served")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("GC: staging older than STAGE_MAX_AGE_MS is reclaimed even while its owner PID is alive (PID recycling)") {
    val store = freshStore()
    try {
      def aged(p: Path): Path = {
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - ManifestStore.STAGE_MAX_AGE_MS - 60000L))
        p
      }
      val freshStage = ManifestStore.newSegStaging(store)
      Files.createDirectories(freshStage)
      val agedStage = aged {
        val p = ManifestStore.newSegStaging(store)
        Files.createDirectories(p); p
      }
      val agedTmp = aged {
        val p = store.resolve(
          s".manifest_tmp_${ProcessHandle.current().pid()}_999999")
        Files.writeString(p, ""); p
      }
      // the lease is WRITE ACTIVITY, not dir age: an old staging dir
      // whose tree saw a recent write is an in-flight build (e.g. a
      // multi-hour initial corpus segment), never reclaimable
      val activeStage = {
        val p = ManifestStore.newSegStaging(store)
        Files.createDirectories(p)
        Files.writeString(p.resolve("part-00000"), "in flight")
        aged(p) // dir mtime aged; the file inside stays fresh
      }
      ManifestStore.gc(store, "sX")
      assert(Files.exists(freshStage),
        "fresh live-owner staging must survive GC")
      assert(!Files.exists(agedStage),
        "aged staging must be reclaimed despite a live owner PID")
      assert(!Files.exists(agedTmp),
        "aged temp manifest must be reclaimed despite a live owner PID")
      assert(Files.exists(activeStage),
        "staging with recent write activity must survive an aged dir mtime")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("memoFrame: a dropped session is reclaimable even though its frames reference it") {
    val store = freshStore()
    try {
      var session: AnyRef = new Object
      val weakSession = new java.lang.ref.WeakReference[AnyRef](session)
      // the memoized value references its session, exactly as a
      // DataFrame references its SparkSession — the value→key pin
      // ADVICE r11 flagged: with strong memo values this entry (and
      // every frame and session in the memo) would live forever
      ManifestStore.memoFrame[AnyRef](session, store, "s1")(
        Array[AnyRef](session))
      session = null
      var tries = 0
      while (weakSession.get() != null && tries < 100) {
        System.gc()
        ManifestStore.memoSessionCount // expunges stale entries
        Thread.sleep(20)
        tries += 1
      }
      assert(weakSession.get() == null,
        "the session must become collectable once the caller drops it — " +
          "a strong memo value would pin it via the frame's session ref")
    } finally graft.queries.Q.deleteRecursively(store)
  }

  test("memoFrame keys on (session identity, store, stamp)") {
    val store = freshStore()
    try {
      val sessionA = new Object; val sessionB = new Object
      var builds = 0
      def build(): String = { builds += 1; s"frame$builds" }
      val f1 = ManifestStore.memoFrame[String](sessionA, store, "s1")(build())
      val f2 = ManifestStore.memoFrame[String](sessionA, store, "s1")(build())
      assert(f1 == f2 && builds == 1, "same key must reuse the built frame")
      ManifestStore.memoFrame[String](sessionA, store, "s2")(build())
      assert(builds == 2, "a stamp change must rebuild")
      ManifestStore.memoFrame[String](sessionB, store, "s1")(build())
      assert(builds == 3, "another session must not see a foreign frame")
    } finally graft.queries.Q.deleteRecursively(store)
  }
}
