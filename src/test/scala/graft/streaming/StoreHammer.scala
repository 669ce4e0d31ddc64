package graft.streaming

import org.apache.spark.sql.functions._

/** Subprocess bodies for [[StoreMultiJvmSpec]]: three REAL JVMs — a
  * lander, a consolidator (folds + vacuum sweeps), and an integrity
  * reader — racing on one manifested posting store. Every in-JVM
  * consolidation spec drives interleavings through crashpoint seams; this
  * is the cross-process half, where the only arbitration is the
  * filesystem's and a SIGKILL can land anywhere in the consolidation
  * protocol.
  *
  * Ack discipline (same as ManifestHammer): a line is written AFTER the
  * call returns, so an acked landing is one the protocol claimed durable
  * — the spec's invariant is that no acked landing's rows are ever
  * missing, no matter how landings, folds, vacuums, reads and the SIGKILL
  * interleave. */
private[streaming] object StoreHammerCommon {
  def ackWriter(path: String): String => Unit = {
    val out = new java.io.FileOutputStream(path, true)
    s => {
      out.write((s + "\n").getBytes("UTF-8")); out.flush(); out.getFD.sync()
    }
  }

  def session(name: String) = graft.GraftSession.local(2, name)

  /** 4-axis quantizer — assignment content is irrelevant to the protocol
    * race; axes keep it deterministic. */
  def cents(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
      (1L, Seq(0.0, 1.0, 0.0, 0.0), 1.0),
      (2L, Seq(0.0, 0.0, 1.0, 0.0), 1.0),
      (3L, Seq(0.0, 0.0, 0.0, 1.0), 1.0)).toDF("c_id", "cv", "cn")
  }

  def vec(id: Long): Array[Float] = {
    val v = Array.fill(4)(0.0f)
    v((id % 4).toInt) = 1.0f
    v(((id + 1) % 4).toInt) = (id % 7).toFloat * 1e-3f
    v
  }
}

/** args: <store> <nBatches> <rowsPerBatch> <ackFile> — lands monotone-id
  * batches through the real append path, acking `B <batchId> <rows>`. */
object StoreHammerLander {
  def main(args: Array[String]): Unit = {
    val Array(store, nS, rowsS, ackPath) = args
    val (n, rows) = (nS.toInt, rowsS.toInt)
    val ack = StoreHammerCommon.ackWriter(ackPath)
    val spark = StoreHammerCommon.session("store-hammer-lander")
    import spark.implicits._
    val cents = StoreHammerCommon.cents(spark)
    val st = new AnnStreaming.StoreAppendState
    for (b <- 0 until n) {
      val ids = (b.toLong * rows) until ((b + 1).toLong * rows)
      val batch = ids.map(id => (id, StoreHammerCommon.vec(id)))
        .toDF("vec_id", "embedding")
      AnnStreaming.absorbStoreBatch(st, batch, b.toLong, store, cents)
      ack(s"B $b $rows")
    }
    println("DONE")
    spark.stop()
  }
}

/** args: <store> <sleepMs> <stopFile> <ackFile> — folds the store through
  * the full consolidation protocol (vacuum, fold, verify, CAS swap)
  * in a loop until the stop file appears (or a SIGKILL lands first — the
  * spec's kill target), acking `C <i> <rows>` per completed fold. */
object StoreHammerConsolidator {
  def main(args: Array[String]): Unit = {
    val Array(store, sleepS, stopFile, ackPath) = args
    val ack = StoreHammerCommon.ackWriter(ackPath)
    val spark = StoreHammerCommon.session("store-hammer-consolidator")
    var i = 0
    while (!new java.io.File(stopFile).exists()) {
      val stats = AnnStreaming.consolidateStore(spark, store,
        targetBytes = 1L << 20)
      ack(s"C $i ${stats.rows} ${stats.skipped}")
      i += 1
      Thread.sleep(sleepS.toLong)
    }
    println("DONE")
    spark.stop()
  }
}

/** args: <store> <sleepMs> <stopFile> <ackFile> — probes the manifest-vs-
  * data integrity gate ([[AnnStreaming.verifyStoreIntegrity]]) in a loop
  * against the live folds/vacuums, acking `R <i> <rows>` per verified
  * observation. Divergence throws → nonzero exit → the spec fails. The
  * generous retry budget is the point: this role exists to hammer the
  * vacuum-race retry path cross-process. */
object StoreHammerReader {
  def main(args: Array[String]): Unit = {
    val Array(store, sleepS, stopFile, ackPath) = args
    val ack = StoreHammerCommon.ackWriter(ackPath)
    val spark = StoreHammerCommon.session("store-hammer-reader")
    var i = 0
    while (!new java.io.File(stopFile).exists()) {
      val got = AnnStreaming.verifyStoreIntegrity(spark, store,
        maxRetries = 50)
      ack(s"R $i $got")
      i += 1
      Thread.sleep(sleepS.toLong)
    }
    println("DONE")
    spark.stop()
  }
}
