package graft.sources

import org.apache.hadoop.fs.Path

/** Subprocess body for [[ManifestMultiJvmSpec]]: one real JVM hammering
  * [[StoreManifest.commit]] on a shared store directory. Every in-JVM
  * arbitration spec drives interleavings through crashpoint seams; this is
  * the OTHER half — true cross-process concurrency, where the only
  * arbitration available is the filesystem's.
  *
  * args: <storeDir> <writerId> <nCommits> <foldEvery> <ackFile>
  *
  * Each landing commits `id -> count` with `id = writerId*1e6 + seq`
  * (writers own disjoint keyspaces), then durably appends `A <id> <count>`
  * to the ack file. Every `foldEvery` landings the writer folds ITS OWN
  * acked range — removes the ids, adds `-(writerId*1e6 + seq+1)` with the
  * summed count — the manifest-level shape of consolidateStore's swap.
  * The ack is written AFTER the commit returns, so an acked delta is one
  * the protocol CLAIMED durable: the spec's invariant is that no acked
  * delta is ever missing from the final manifest, no matter how the three
  * JVMs' reads, creates, verifies, heals and SIGKILLs interleave. */
object ManifestHammer {
  def main(args: Array[String]): Unit = {
    val store = new Path(args(0))
    val writerId = args(1).toLong
    val nCommits = args(2).toInt
    val foldEvery = args(3).toInt // 0 = landings only (the kill target)
    val ack = new java.io.FileOutputStream(args(4), true)
    val fs = store.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def writeAck(s: String): Unit = {
      ack.write((s + "\n").getBytes("UTF-8")); ack.flush(); ack.getFD.sync()
    }
    var foldStart = 0
    for (seq <- 0 until nCommits) {
      val id = writerId * 1000000L + seq
      val cnt = seq + 1L
      StoreManifest.commit(fs, store, e => e + (id -> cnt),
        tornStaleMs = 1000L)
      writeAck(s"A $id $cnt")
      if (foldEvery > 0 && (seq + 1) % foldEvery == 0) {
        val ids = (foldStart to seq).map(s2 => writerId * 1000000L + s2)
        val foldId = -(writerId * 1000000L + seq + 1)
        val total = (foldStart to seq).map(_ + 1L).sum
        StoreManifest.commit(fs, store,
          e => e -- ids + (foldId -> total), tornStaleMs = 1000L)
        writeAck(s"F $foldId $total ${ids.mkString(",")}")
        foldStart = seq + 1
      }
    }
    ack.close()
    println("DONE")
  }
}
