package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Cross-PROCESS consolidation race for the manifested posting store
  * (round-16 verdict item 6): [[graft.sources.ManifestMultiJvmSpec]] races
  * manifest COMMITS across JVMs; this spec races the full STORE protocol —
  * a landing stream, a consolidator running vacuum + fold passes,
  * and an integrity reader hammering the vacuum-race retry path
  * ([[AnnStreaming.verifyStoreIntegrity]]) — three real JVMs on one store
  * directory, with a SIGKILL landing wherever the consolidator happens to
  * be in its protocol. The in-JVM specs drive each crash window
  * deterministically through crashpoint seams; this is the
  * everything-at-once half.
  *
  * Invariants: (1) no acked landing's rows are ever missing — the final
  * store holds EXACTLY the landed id set; (2) the store serves exactly
  * throughout — every reader observation is a verified manifest-vs-data
  * match whose count never decreases (folds preserve rows, landings only
  * add); (3) a SIGKILLed consolidator's crash is recoverable by the
  * standard recovery, after which integrity holds again. */
class StoreMultiJvmSpec extends SparkSpec {

  test("lander + consolidator(+vacuum) + integrity reader race across three JVMs; SIGKILL mid-protocol loses nothing and serving stays exact") {
    val dir = tempDir("mjvm")
    val store = s"$dir/store"

    val java17 = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val stopFile = s"$dir/stop"
    def spawn(main: String, tag: String, extra: Seq[String]): Process =
      new ProcessBuilder(
        (Seq(java17, "-Xmx1400m", "-cp", cp, main, store) ++ extra ++
          Seq(s"$dir/acks_$tag.log")): _*)
        .redirectErrorStream(true)
        .redirectOutput(java.nio.file.Paths.get(s"$dir/out_$tag.log").toFile)
        .start()

    val nBatches = 24
    val rowsPerBatch = 200
    val lander = spawn("graft.streaming.StoreHammerLander", "lander",
      Seq(nBatches.toString, rowsPerBatch.toString))
    val consolidator = spawn("graft.streaming.StoreHammerConsolidator",
      "consolidator", Seq("400", stopFile))
    val reader = spawn("graft.streaming.StoreHammerReader", "reader",
      Seq("250", stopFile))

    assert(lander.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "lander did not finish")
    assert(lander.exitValue == 0, s"lander failed:\n${java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/out_lander.log"))
      .takeRight(3000)}")
    // let the consolidator take at least one more fold over the complete
    // store, then SIGKILL it wherever it is in the protocol
    Thread.sleep(1500)
    consolidator.destroyForcibly()
    consolidator.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    // the reader keeps probing across the kill, then stops cleanly
    Thread.sleep(1500)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(stopFile))
    assert(reader.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "reader did not stop")
    assert(reader.exitValue == 0, s"reader failed (integrity divergence " +
      s"or retry exhaustion):\n${java.nio.file.Files
        .readString(java.nio.file.Paths.get(s"$dir/out_reader.log"))
        .takeRight(3000)}")

    // acked landings: the spec's ground truth
    val ackLines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$dir/acks_lander.log"))
    val ackedBatches = scala.jdk.CollectionConverters
      .ListHasAsScala(ackLines).asScala
      .collect { case l if l.startsWith("B ") => l.split(' ')(1).toInt }
    assert(ackedBatches.size == nBatches, "lander under-acked")

    // the consolidator actually folded during the race (the race was real)
    val consAcks = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/acks_consolidator.log"))).asScala
    assert(consAcks.exists(l => l.startsWith("C ") && !l.endsWith("true")),
      s"no non-skipped fold completed — race not exercised: $consAcks")

    // reader observations: verified counts, never decreasing
    val readerCounts = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/acks_reader.log"))).asScala
      .collect { case l if l.startsWith("R ") => l.split(' ')(2).toLong }
    assert(readerCounts.nonEmpty, "reader observed nothing")
    assert(readerCounts.zip(readerCounts.tail).forall { case (a, b) => b >= a },
      s"reader saw a count DECREASE (lost rows mid-race): $readerCounts")

    // recover the SIGKILLed consolidator's crash, then full verification.
    // The kill may have landed while its lease heartbeat was fresh — wait
    // out a short staleness window first (recovery refuses to roll back a
    // LIVE run, and a freshly-killed run is indistinguishable from
    // a live one until its heartbeat ages past the window)
    Thread.sleep(3000)
    AnnStreaming.recoverConsolidation(spark, store, leaseStaleMs = 2500)
    val want = nBatches.toLong * rowsPerBatch
    assert(AnnStreaming.verifyStoreIntegrity(spark, store) == want)
    val ids = AnnStreaming.readStore(spark, store)
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == want && ids.toSet == (0L until want).toSet,
      s"store diverged from the acked landings: ${ids.length} rows")
    // and the store still serves: one exact probe over the recovered store
    val truth = AnnStreaming.readStore(spark, store)
      .filter(col("vec_id") < 4).select("vec_id", "v", "nrm")
    val served = graft.queries.VectorOps.serveFromStorePath(spark, store,
      truth, broadcast(StoreHammerCommon.cents(spark)), 1, 2)
    assert(served.count() == 4, "recovered store failed to serve")
  }
}
