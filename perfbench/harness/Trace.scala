package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval and the span that caused it, in epoch
  * nanoseconds. `counts` holds the numbers recorded at the same boundary
  * (task time, bytes, rows, planning phases). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long, counts: mutable.Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(k: String): Double = counts.getOrElse(k, 0.0)
}

/** Records spans around the benchmark's calls into the engine: pass → op →
  * build | exec | step. When tracing, it also registers a
  * `SparkListener` and a `QueryExecutionListener` and records the jobs and
  * stages each op caused (op → … → job → stage) with their task metrics,
  * plus the planning phases of every query execution. An op's jobs are
  * found through a local property that names the op's span id.
  *
  * Untraced, `span` only runs its body, so end-to-end runs pay nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (task launch, task finish) in epoch ms, per op span id. */
  val taskIntervals = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val ids = new AtomicLong(0)
  // inherited, so an op run on its own thread nests under the pass
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val stageOwner = mutable.Map.empty[Int, Span]
  private val openJobs = mutable.Map.empty[Int, Span]
  private val planned = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val epochBaseNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def now: Long = epochBaseNs + System.nanoTime()

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(ids.incrementAndGet(), stack.get.headOption.fold(0L)(_.id),
        kind, name, now, 0L, mutable.Map.empty)
      stack.set(s :: stack.get)
      if (kind == "op")
        spark.sparkContext.setLocalProperty(OpProp, s.id.toString)
      try body
      finally {
        if (Leaf(kind)) ListenerBus.drain(spark.sparkContext)
        stack.set(stack.get.tail)
        if (kind == "op") spark.sparkContext.setLocalProperty(OpProp, null)
        synchronized {
          // planning phases reported while this leaf span was open are its own
          if (Leaf(kind)) {
            s.counts("plan.analysis_s") = planned.map(_._1).sum
            s.counts("plan.optimization_s") = planned.map(_._2).sum
            s.counts("plan.physical_s") = planned.map(_._3).sum
            planned.clear()
          }
          spans += s.copy(endNs = now)
        }
      }
    }

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      opOf(e.properties).foreach { op =>
        val j = Span(ids.incrementAndGet(), op, "job", s"job ${e.jobId}",
          e.time * 1000000L, 0L, mutable.Map.empty)
        openJobs(e.jobId) = j
        e.stageIds.foreach(sid => stageOwner.getOrElseUpdate(sid, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach(j => spans += j.copy(endNs = e.time * 1000000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageOwner.get(info.stageId).foreach { job =>
        spans += Span(ids.incrementAndGet(), job.id, "stage",
          s"stage ${info.stageId}: ${info.name}",
          info.submissionTime.getOrElse(0L) * 1000000L,
          info.completionTime.getOrElse(0L) * 1000000L,
          mutable.Map("tasks" -> info.numTasks.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageOwner.get(e.stageId).filter(_ => m != null).foreach { job =>
        val c = job.counts
        def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
        add("tasks", 1)
        add("task_s", m.executorRunTime / 1e3)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill_disk_bytes", m.diskBytesSpilled)
        add("scan_bytes", m.inputMetrics.bytesRead)
        add("scan_rows", m.inputMetrics.recordsRead)
        add("write_bytes", m.outputMetrics.bytesWritten)
        add("write_rows", m.outputMetrics.recordsWritten)
        c("peak_exec_bytes") = math.max(c.getOrElse("peak_exec_bytes", 0.0),
          m.peakExecutionMemory.toDouble)
        taskIntervals.getOrElseUpdate(job.parent, mutable.ArrayBuffer.empty) +=
          (e.taskInfo.launchTime -> e.taskInfo.finishTime)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def s(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      Tracer.this.synchronized {
        planned += ((s("analysis"), s("optimization"), s("planning")))
      }
    }
  }

  def attach(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = if (enabled) {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def children(parent: Long): Seq[Span] = spans.filter(_.parent == parent).toSeq
}

object Tracer {
  val OpProp = "perfbench.op"
  /** Spans that call the engine directly; query planning is charged to them. */
  val Leaf = Set("build", "exec", "step")
}
