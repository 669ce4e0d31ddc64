package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The manifest's commit arbitration: [[StoreManifest.commit]] is a
  * compare-and-swap loop over versioned files, so two writers expressing
  * DELTAS can interleave arbitrarily and both deltas survive; a torn
  * version (crashed mid-write, or an entry without its count) is skipped
  * by readers; version retirement retains the immediately-previous file so
  * a reader racing two commits never opens a deleted path. */
class StoreManifestSpec extends SparkSpec {

  private def freshStore(tag: String): Path =
    new Path(tempDir(tag) + "/store")

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("commit is a CAS: a competing commit inside the read->create window forces re-read + re-apply, both deltas survive") {
    val store = freshStore("cas")
    StoreManifest.commit(fs, store, _ => Map(0L -> 10L, 1L -> 20L))
    // writer A (the "fold"): removes 0 and 1, adds -2. Inside A's
    // read->create window, writer B (the "landing") commits id 2 — the
    // exact round-13 interleaving that used to let the later write clobber
    // the earlier one.
    @volatile var fired = false
    StoreManifest.commitCrashpoint = _ =>
      if (!fired) {
        fired = true
        StoreManifest.commit(fs, store, e => e + (2L -> 30L))
      }
    val committed = try StoreManifest.commit(fs, store,
        e => e -- Seq(0L, 1L) + (-2L -> 30L))
      finally StoreManifest.commitCrashpoint = _ => ()
    assert(fired, "the seam never fired — the window was not exercised")
    assert(committed == Map(-2L -> 30L, 2L -> 30L),
      s"the CAS retry must re-apply the delta over the winner: $committed")
    assert(StoreManifest.readEntries(fs, store) == committed,
      "the committed manifest must carry BOTH writers' deltas")
  }

  test("a non-idempotent (increment-style) delta is refused on its first commit") {
    val store = freshStore("idem")
    StoreManifest.commit(fs, store, _ => Map(1L -> 10L))
    // increment-style intent: re-applying it under a CAS/verify retry would
    // double-count — the fixpoint check must catch it deterministically
    val e = intercept[IllegalArgumentException] {
      StoreManifest.commit(fs, store,
        cur => cur + (1L -> (cur.getOrElse(1L, 0L) + 5L)))
    }
    assert(e.getMessage.contains("idempotent"))
    // the refused delta must not have landed
    assert(StoreManifest.readEntries(fs, store) == Map(1L -> 10L))
  }

  test("a torn version is skipped: readers fall back, the next commit walks past it") {
    val store = freshStore("torn")
    StoreManifest.commit(fs, store, _ => Map(5L -> 50L))
    // shape 1: create happened, write didn't (zero-byte higher version)
    fs.create(new Path(store, "_manifest_v1"), false).close()
    assert(StoreManifest.readEntries(fs, store) == Map(5L -> 50L),
      "a zero-byte version must be invisible to readers")
    // shape 2: header present but the entry list is short (torn mid-body)
    val out = fs.create(new Path(store, "_manifest_v2"), false)
    out.write("#graft-manifest entries=3\n7:7\n8:8\n".getBytes("UTF-8"))
    out.close()
    assert(StoreManifest.readEntries(fs, store) == Map(5L -> 50L),
      "a header/body count mismatch must read as torn")
    // shape 3: an entry without its row count (counts are mandatory)
    val o3 = fs.create(new Path(store, "_manifest_v3"), false)
    o3.write("#graft-manifest entries=2\n7:7\n8\n".getBytes("UTF-8"))
    o3.close()
    assert(StoreManifest.readEntries(fs, store) == Map(5L -> 50L),
      "a count-less entry must read as torn")
    // a new commit arbitrates the torn slots (these writers are dead — age
    // the files past the staleness window) and becomes current; it must
    // re-use the healed slots, never claim a version above an unproven one
    for (v <- Seq("_manifest_v1", "_manifest_v2", "_manifest_v3"))
      fs.setTimes(new Path(store, v), System.currentTimeMillis - 60000L, -1)
    StoreManifest.commit(fs, store, e => e + (6L -> 60L),
      tornStaleMs = 1000L)
    assert(StoreManifest.read(fs, store) == Set(5L, 6L))
    val onDisk = fs.listStatus(store).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).sorted.toSeq
    assert(onDisk == Seq("_manifest_v0", "_manifest_v1"),
      s"the commit must land in the first healed slot: $onDisk")
  }

  test("retirement keeps the previous version; a hammering reader across rapid commits never errors") {
    val store = freshStore("retire")
    for (i <- 0L until 4L)
      StoreManifest.commit(fs, store, e => e + (i -> i))
    val onDisk = fs.listStatus(store).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).sorted.toSeq
    assert(onDisk == Seq("_manifest_v2", "_manifest_v3"),
      s"exactly the current and previous versions must survive: $onDisk")
    // reader thread loops readEntries while the writer lands 60 commits
    // back-to-back — with retention + FNF re-list the reader must never
    // throw and must observe a monotonically growing id set
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val maxSeen = new java.util.concurrent.atomic.AtomicLong(-1L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get() && err.get() == null) {
        try {
          val ids = StoreManifest.read(fs, store)
          val m = ids.max
          val prev = maxSeen.get()
          if (m < prev) throw new IllegalStateException(
            s"reader went backwards: $m after $prev")
          maxSeen.set(m)
        } catch { case t: Throwable => err.set(t) }
      }
    })
    reader.start()
    try for (i <- 4L until 64L)
      StoreManifest.commit(fs, store, e => e + (i -> i))
    finally { stop.set(true); reader.join(30000) }
    assert(err.get() == null, s"hammering reader failed: ${err.get()}")
    assert(maxSeen.get() >= 4L, "the reader never observed a commit")
    assert(StoreManifest.read(fs, store) == (0L until 64L).toSet)
  }

  test("a torn version above the basis blocks the commit until readable — the slow writer's delta survives") {
    // the round-14 lost-delta hole: writer A creates _manifest_v1 and is
    // still writing; writer B lists (sees v1), reads v0 (v1 torn), and —
    // in the broken shape — claims v2 with content based on v0, silently
    // dropping A's delta the moment A's write completes. The fix: B's
    // claimed version is strictly basis+1, so it WAITS for v1 to become
    // readable and then builds on it.
    val store = freshStore("tornwait")
    StoreManifest.commit(fs, store, _ => Map(1L -> 1L))
    val v1 = new Path(store, "_manifest_v1")
    fs.create(v1, false).close() // A won the create; content not yet written
    val writerA = new Thread(() => {
      Thread.sleep(150)
      val o = fs.create(v1, true) // A's write completes
      o.write("#graft-manifest entries=2\n1:1\n9:9\n".getBytes("UTF-8"))
      o.close()
    })
    writerA.start()
    val committed = try StoreManifest.commit(fs, store,
        e => e + (2L -> 2L), tornStaleMs = 20000L)
      finally writerA.join(10000)
    assert(committed == Map(1L -> 1L, 9L -> 9L, 2L -> 2L),
      s"B must build on A's completed v1, never on the stale v0: $committed")
    assert(StoreManifest.readEntries(fs, store) == committed,
      "A's delta (id 9) must survive B's commit")
  }

  test("a stale torn version is a dead writer: healed, its slot re-arbitrated") {
    val store = freshStore("tornheal")
    StoreManifest.commit(fs, store, _ => Map(1L -> 1L))
    val v1 = new Path(store, "_manifest_v1")
    fs.create(v1, false).close() // crashed writer: created, never wrote
    fs.setTimes(v1, System.currentTimeMillis - 60000L, -1)
    val committed = StoreManifest.commit(fs, store,
      e => e + (2L -> 2L), tornStaleMs = 1000L)
    assert(committed == Map(1L -> 1L, 2L -> 2L))
    val onDisk = fs.listStatus(store).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).sorted.toSeq
    assert(onDisk == Seq("_manifest_v0", "_manifest_v1"),
      s"the healed slot must be re-used, not skipped past: $onDisk")
    assert(StoreManifest.readEntries(fs, store) == committed)
  }

  test("POSIX torn-heal inode loss: a healed-and-reclaimed slot fails post-close verification, the writer's delta survives via retry") {
    // round-14 advice gap 1: on POSIX a live-but-paused writer whose torn
    // file is deleted keeps writing into the unlinked inode — write+close
    // succeed, and without post-close verification its delta would vanish
    // silently. Emulated at the post-close seam: the slot W just wrote is
    // deleted (the heal) and re-claimed by a competing landing; W's verify
    // must see foreign content at its path, treat it as a lost CAS, and
    // re-apply its delta on top of the competitor's commit.
    val store = freshStore("inode")
    StoreManifest.commit(fs, store, _ => Map(1L -> 1L))
    @volatile var fired = false
    StoreManifest.postCloseCrashpoint = _ =>
      if (!fired) {
        fired = true
        fs.delete(new Path(store, "_manifest_v1"), false) // the heal
        StoreManifest.commit(fs, store, e => e + (9L -> 9L)) // re-claim
      }
    val committed = try StoreManifest.commit(fs, store,
        e => e + (2L -> 2L))
      finally StoreManifest.postCloseCrashpoint = _ => ()
    assert(fired, "the post-close seam never fired")
    assert(committed == Map(1L -> 1L, 9L -> 9L, 2L -> 2L),
      s"W must detect the foreign content and re-apply on top: $committed")
    assert(StoreManifest.readEntries(fs, store) == committed,
      "both the re-claimer's and W's deltas must survive")
  }

  test("ABA slot reuse: a writer paused across >=3 commits finds its slot retired, re-creates it, and must NOT report stale success") {
    // round-14 advice gap 2: W reads basis=0, pauses; three commits land
    // (v1..v3, retiring v0 and v1); W's create of the recycled v1 slot
    // SUCCEEDS, landing a stale manifest below the real current. The
    // post-close re-listing sees higher versions and forces the retry.
    val store = freshStore("aba")
    StoreManifest.commit(fs, store, _ => Map(1L -> 1L))
    @volatile var fired = false
    StoreManifest.commitCrashpoint = _ =>
      if (!fired) {
        fired = true
        for (id <- Seq(10L, 11L, 12L))
          StoreManifest.commit(fs, store, e => e + (id -> id))
        // W's basis+1 slot (v1) is now retired — its create will succeed
        assert(!fs.exists(new Path(store, "_manifest_v1")))
      }
    val committed = try StoreManifest.commit(fs, store,
        e => e + (2L -> 2L))
      finally StoreManifest.commitCrashpoint = _ => ()
    assert(fired, "the pre-create seam never fired")
    val want = Map(1L -> 1L, 2L -> 2L, 10L -> 10L,
      11L -> 11L, 12L -> 12L)
    assert(committed == want,
      s"W must detect the recycled slot and rebase onto the real current: $committed")
    assert(StoreManifest.readEntries(fs, store) == want,
      "the current manifest must carry all four deltas, stale v1 never current")
  }

  test("non-arbitrating schemes are refused loudly; the assume-atomic conf overrides") {
    val localFs = fs
    val s3ish = new org.apache.hadoop.fs.FilterFileSystem(localFs) {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    s3ish.setConf(spark.sessionState.newHadoopConf())
    val store = freshStore("guard") // path has no scheme -> fs.getUri decides
    val e = intercept[UnsupportedOperationException] {
      StoreManifest.commit(s3ish, store, _ => Map(1L -> 1L))
    }
    assert(e.getMessage.contains("s3a") &&
      e.getMessage.contains(StoreManifest.AssumeAtomicCreateKey))
    // a deployment that has made its store conditional-write safe asserts so
    // (FilterFileSystem delegates getConf to the wrapped fs, so the wrapped
    // instance must carry the override — a fresh non-cached local fs)
    val conf = spark.sessionState.newHadoopConf()
    conf.setBoolean(StoreManifest.AssumeAtomicCreateKey, true)
    val safeLocal = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"), conf)
    val s3safe = new org.apache.hadoop.fs.FilterFileSystem(safeLocal) {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    assert(StoreManifest.commit(s3safe, store, _ => Map(1L -> 1L))
      == Map(1L -> 1L))
  }

  test("an uncommitted store reads empty; the first commit creates it") {
    val store = new Path(tempDir("fresh") + "/never_created/store")
    assert(StoreManifest.readEntries(fs, store).isEmpty)
    // a torn first version (create happened, write didn't) commits nothing
    fs.mkdirs(store)
    fs.create(new Path(store, "_manifest_v0"), false).close()
    assert(StoreManifest.readEntries(fs, store).isEmpty)
    fs.delete(store.getParent, true)
    assert(StoreManifest.commit(fs, store, e => e + (0L -> 5L))
      == Map(0L -> 5L))
    assert(fs.exists(new Path(store, "_manifest_v0")))
    assert(StoreManifest.readEntries(fs, store) == Map(0L -> 5L))
  }

  test("a create lost to a slot later commits retired is still a lost CAS") {
    // W reads basis v0 and loses the create of v1 to a competitor; before
    // W classifies the failure, two more commits land (v2, v3) and retire
    // v1. The slot no longer exists, yet W lost a race, not its disk: it
    // must re-read and re-apply, never surface the failed create.
    val store = freshStore("retired")
    StoreManifest.commit(fs, store, _ => Map(1L -> 1L))
    @volatile var claimed = false
    @volatile var retired = false
    StoreManifest.commitCrashpoint = s =>
      if (s == "pre-create:v1" && !claimed) {
        claimed = true
        StoreManifest.commit(fs, store, e => e + (10L -> 10L))
      }
    StoreManifest.lostCreateCrashpoint = s =>
      if (s == "lost-create:v1" && !retired) {
        retired = true
        for (id <- Seq(11L, 12L))
          StoreManifest.commit(fs, store, e => e + (id -> id))
        assert(!fs.exists(new Path(store, "_manifest_v1")),
          "the two later commits must have retired the lost slot")
      }
    val committed = try StoreManifest.commit(fs, store,
        e => e + (2L -> 2L))
      finally {
        StoreManifest.commitCrashpoint = _ => ()
        StoreManifest.lostCreateCrashpoint = _ => ()
      }
    assert(claimed && retired, "the seams never fired")
    val want = Map(1L -> 1L, 2L -> 2L, 10L -> 10L, 11L -> 11L, 12L -> 12L)
    assert(committed == want && StoreManifest.readEntries(fs, store) == want,
      s"W must rebase onto the real current: $committed")
  }
}
