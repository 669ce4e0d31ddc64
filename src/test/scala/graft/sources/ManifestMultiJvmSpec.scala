package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Multi-PROCESS arbitration for [[StoreManifest.commit]] (round-15 verdict
  * item 4): every in-JVM spec drives torn-slot waits, ABA re-lists and
  * post-close verification through deterministic crashpoint seams — this
  * spec instead races REAL JVMs on one store directory, where the only
  * arbitration is the filesystem's create-exclusive. It exists because the
  * cross-process case found a real hole the seam specs structurally could
  * not: Hadoop's local `create(overwrite = false)` is check-then-act
  * (ProfileCreateRace measured ~50% double-wins), which let a second
  * writer TRUNCATE an already-verified version file — a silent lost delta.
  * [[StoreManifest.createExclusive]] (kernel O_EXCL on local paths) closes
  * it; this spec is the regression gate.
  *
  * Topology: two writers each landing 300 ids and folding their own acked
  * ranges every 20 (the consolidation-shaped delta), plus one landings-only
  * writer SIGKILLed mid-flight (torn-version litter + heal pressure).
  * Invariant: the final manifest carries EXACTLY the replay of every acked
  * delta — plus at most one in-flight landing from the killed writer. */
class ManifestMultiJvmSpec extends SparkSpec {

  private def replayAcks(path: java.nio.file.Path): Map[Long, Long] = {
    if (!java.nio.file.Files.exists(path)) return Map.empty
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
    lines.foldLeft(Map.empty[Long, Long]) { (m, line) =>
      line.split(' ') match {
        case Array("A", id, cnt) => m + (id.toLong -> cnt.toLong)
        case Array("F", foldId, total, ids) =>
          m -- ids.split(',').map(_.toLong) + (foldId.toLong -> total.toLong)
        case _ => m // torn final line from the killed writer: unacked
      }
    }
  }

  private def raceAndVerify(hammerMain: String): Unit = {
    val dir = java.nio.file.Paths.get(tempDir("mjvm"))
    val store = s"$dir/store"
    val java17 = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    def ackPath(w: Int) = dir.resolve(s"acks_$w.log")
    def spawn(w: Int, n: Int, foldEvery: Int): Process =
      new ProcessBuilder(java17, "-Xmx256m", "-cp", cp,
          hammerMain,
          store, w.toString, n.toString, foldEvery.toString,
          ackPath(w).toString)
        .redirectErrorStream(true)
        .redirectOutput(dir.resolve(s"out_$w.log").toFile)
        .start()

    val p1 = spawn(1, 300, 20)
    val p2 = spawn(2, 300, 20)
    val p3 = spawn(3, 1000000, 0) // the chaos writer: never finishes
    // Kill only after the chaos writer has ACKED at least one landing: the
    // original fixed 2.5 s sleep assumed a quiet host, and under full-suite
    // CPU contention a 256 MB child JVM can take longer than that just to
    // reach its first commit — the SIGKILL then fired before any ack and
    // the "race not exercised" precondition below failed (reproduced
    // deterministically with 30 busy-loop hogs). Polling for the first
    // complete ack line preserves the exercise on any host; the extra
    // 1.5 s of three-way racing after it matches the original schedule.
    val ackDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (replayAcks(ackPath(3)).isEmpty && System.nanoTime() < ackDeadline)
      Thread.sleep(50)
    Thread.sleep(1500)
    p3.destroyForcibly() // SIGKILL mid-commit: torn litter is fair game
    assert(p1.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "writer 1 did not finish")
    assert(p2.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "writer 2 did not finish")
    p3.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(p1.exitValue == 0, s"writer 1 failed:\n${java.nio.file.Files
      .readString(dir.resolve("out_1.log")).takeRight(2000)}")
    assert(p2.exitValue == 0, s"writer 2 failed:\n${java.nio.file.Files
      .readString(dir.resolve("out_2.log")).takeRight(2000)}")

    // a follow-up commit walks past (and heals) any torn litter the SIGKILL
    // left at the top of the version sequence
    val fs = new Path(store)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val sentinel = 999999999L
    StoreManifest.commit(fs, new Path(store),
      e => e + (sentinel -> 1L), tornStaleMs = 1000L)

    val finalEntries = StoreManifest.readEntries(fs, new Path(store))
    def keyspace(w: Long) =
      finalEntries.filter { case (id, _) => math.abs(id) / 1000000L == w }

    // writers 1 and 2 ran to completion: their keyspaces must equal the
    // exact replay of their acks — nothing lost, nothing resurrected
    for (w <- Seq(1, 2)) {
      val expected = replayAcks(ackPath(w))
      assert(expected.nonEmpty, s"writer $w acked nothing — race not exercised")
      assert(keyspace(w) == expected,
        s"writer $w: manifest diverges from acked replay\n" +
          s"  missing: ${(expected.toSet -- keyspace(w).toSet).take(5)}\n" +
          s"  extra:   ${(keyspace(w).toSet -- expected.toSet).take(5)}")
    }
    // the killed writer: every acked landing present, at most ONE extra id
    // (a commit that landed between its create and its ack write)
    val acked3 = replayAcks(ackPath(3))
    assert(acked3.nonEmpty, "the chaos writer acked nothing before the kill")
    val present3 = keyspace(3)
    assert((acked3.toSet -- present3.toSet).isEmpty,
      s"killed writer lost acked deltas: ${(acked3.toSet -- present3.toSet).take(5)}")
    val extra = present3.toSet -- acked3.toSet
    assert(extra.size <= 1, s"killed writer has ${extra.size} unacked ids: ${extra.take(5)}")
    extra.foreach { case (id, _) =>
      assert(id > acked3.keys.max, s"unacked id $id is not the next in-flight landing")
    }
    assert(finalEntries.contains(sentinel))

    // expose the dir for leg-specific post-checks
    lastRaceDir = Some(dir)
  }

  private var lastRaceDir: Option[java.nio.file.Path] = None

  test("three real JVMs racing commits + folds + a SIGKILL lose no acknowledged delta") {
    raceAndVerify("graft.sources.ManifestHammer")
  }

  test("the conditional-put object-store adapter passes the same three-JVM + SIGKILL gate") {
    // same topology, but every version create in the hammer JVMs
    // arbitrates through StoreManifest.ConditionalPut (If-None-Match-style
    // whole-object publish via link(2)) instead of kernel O_EXCL —
    // close-time arbitration, post-close-verify loss classification
    raceAndVerify("graft.sources.ManifestHammerConditional")
    val dir = lastRaceDir.get
    for (w <- Seq(1, 2)) {
      val out = java.nio.file.Files.readString(dir.resolve(s"out_$w.log"))
      assert(out.contains("CONDITIONAL-PUT ADAPTER INSTALLED"),
        s"writer $w did not run through the adapter")
    }
  }
}
