package perfbench

import java.io.File

import scala.collection.mutable

/** Per-layer numbers of one traced pass, derived from its spans. Layer
  * names follow the engine's modules; every value is per pass. */
object Layers {
  val QueryModules: Set[String] = Set("EventOps", "RelationalOps", "TextOps",
    "VectorOps", "StreamShaped", "AnalyticsOps")

  /** Catalog rows whose own time is reported (the heavy rows). */
  val HeavyRows: Set[String] = Set("g2_coshare", "a27_heavy_hitters",
    "j2_shipping_priority", "q3_promo_share", "e4_token_stats")

  val BatterySteps: Seq[String] = Seq("normalize", "features", "fade_rul",
    "qc", "sinks")

  private val MB = 1e6

  private def plan(s: Span): Double =
    s.count("plan.analysis_s") + s.count("plan.optimization_s") +
      s.count("plan.physical_s")

  /** Seconds of `op`'s window during which at least one of its tasks ran. */
  private def covered(intervals: Seq[(Long, Long)], op: Span): Double = {
    val (lo, hi) = (op.startNs / 1000000L, op.endNs / 1000000L)
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, end) = (0L, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total / 1e3
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length()

  def ofPass(t: Tracer, w: Workload, cores: Int, cells: Seq[Cell],
      out: String): Map[String, Double] = {
    val pass = t.spans.filter(_.kind == "pass").last
    val ops = t.children(pass.id).filter(_.kind == "op")
    val byName = w.ops.map(o => o.name -> o).toMap
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val steps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var cellSeconds = 0.0

    ops.foreach { op =>
      val kids = t.children(op.id)
      val leaves = kids.filter(k => Tracer.Leaf(k.kind))
      val jobs = kids.filter(_.kind == "job")
      def jobSum(k: String): Double = jobs.map(_.count(k)).sum
      val module = byName(op.name).module
      if (QueryModules(module)) {
        def self(kind: String) = leaves.filter(_.kind == kind).map(s => s.seconds - plan(s)).sum
        add(s"queries.$module.build_s", self("build"))
        add(s"queries.$module.plan_s", leaves.map(plan).sum)
        add(s"queries.$module.exec_s", self("exec"))
      }
      add("plans.analysis_s", leaves.map(_.count("plan.analysis_s")).sum)
      add("plans.optimization_s", leaves.map(_.count("plan.optimization_s")).sum)
      add("plans.physical_s", leaves.map(_.count("plan.physical_s")).sum)
      add("exec.jobs", jobs.size)
      add("exec.stages", jobs.map(j => t.children(j.id).size).sum)
      add("exec.tasks", jobSum("tasks"))
      add("exec.task_s", jobSum("task_s"))
      add("exec.task_cpu_s", jobSum("task_cpu_s"))
      add("exec.driver_gap_s",
        op.seconds - covered(t.taskIntervals.getOrElse(op.id, Nil).toSeq, op))
      add("shuffle.write_mb", jobSum("shuffle.write_bytes") / MB)
      add("shuffle.write_records", jobSum("shuffle.write_records"))
      add("shuffle.read_mb", jobSum("shuffle.read_bytes") / MB)
      add("shuffle.fetch_wait_s", jobSum("shuffle.fetch_wait_s"))
      add("memory.spill_disk_mb", jobSum("spill_disk_bytes") / MB)
      m("memory.peak_exec_mb") = math.max(m.getOrElse("memory.peak_exec_mb", 0.0),
        jobs.map(_.count("peak_exec_bytes")).maxOption.getOrElse(0.0) / MB)
      add("sources.scan_mb", jobSum("scan_bytes") / MB)
      add("sources.scan_rows", jobSum("scan_rows"))
      add("sources.write_mb", jobSum("write_bytes") / MB)
      add("sources.write_rows", jobSum("write_rows"))
      if (HeavyRows(op.name)) m(s"op.${op.name}.s") = op.seconds
      if (op.name == "g2_coshare" && jobSum("scan_rows") > 0)
        m("op.g2_coshare.shuffle_records_per_row") =
          jobSum("shuffle.write_records") / jobSum("scan_rows")
      byName(op.name) match {
        case k: KernelOp =>
          val suffix = if (k.name.endsWith("_mb")) "mb_ns_per_row" else "ns_per_row"
          m(s"expressions.${k.kernel}.$suffix") = op.seconds * 1e9 / Workloads.KernelRows
        case _: CellOp =>
          cellSeconds += op.seconds
          leaves.filter(_.kind == "step").foreach(s =>
            steps.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += s.seconds)
        case _: CollateOp =>
          m("battery.collate_s") = leaves.map(_.seconds).sum
        case _ =>
      }
    }
    m("exec.busy_ratio") = m.getOrElse("exec.task_s", 0.0) / (pass.seconds * cores)
    if (cells.nonEmpty) {
      BatterySteps.foreach(s => m(s"battery.${s}_s") = median(steps.getOrElse(s, Nil).toSeq))
      m("battery.rows_per_s") = cells.map(_.rows).sum / cellSeconds
      m("battery.write_amp") = bytesUnder(new File(out)).toDouble /
        cells.map(c => new File(c.csv).length()).sum
    }
    m.toMap
  }
}
