package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** A reader looping `readStore(store).count()` on its own thread while a
  * spec drives maintenance on the store. It records the first count other
  * than `legal` and counts the reads that failed: a reader in flight must
  * survive consolidation, so [[check]] requires neither. After [[finish]]
  * it keeps reading until one read has completed (bounded), so the
  * liveness check cannot flake on a loaded machine. */
final class StoreReader(spark: SparkSession, store: String, legal: Long) {
  private val wrong = new AtomicLong(-1L)
  private val okReads = new AtomicLong(0L)
  private val failedReads = new AtomicLong(0L)
  @volatile private var firstFailure: Throwable = null
  private val stop = new AtomicBoolean(false)
  private val thread = new Thread(() => {
    val deadline = System.currentTimeMillis + 120000
    while ((!stop.get() || (okReads.get() == 0L && failedReads.get() == 0L))
        && wrong.get() == -1L && System.currentTimeMillis < deadline) {
      try {
        val n = AnnStreaming.readStore(spark, store).count()
        if (n == legal) okReads.incrementAndGet()
        else wrong.compareAndSet(-1L, n)
      } catch {
        case t: Throwable =>
          if (failedReads.getAndIncrement() == 0L) firstFailure = t
      }
    }
  })
  thread.start()

  def finish(): Unit = { stop.set(true); thread.join(150000) }

  def check(): Unit = {
    assert(failedReads.get() == 0L,
      s"${failedReads.get()} concurrent reads failed, first: $firstFailure")
    assert(wrong.get() == -1L,
      s"a concurrent reader saw a partial store: ${wrong.get()} rows " +
        s"(only legal count: $legal)")
    assert(okReads.get() >= 1L, "the concurrent reader never completed a read")
  }
}
