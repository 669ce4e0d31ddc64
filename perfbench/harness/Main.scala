package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. It builds the session the way the engine's
  * mains do (`GraftSession.tune` + `local[cores]`, shuffle partitions =
  * cores), sets up `--setups` times from the same start state (build-once
  * artifacts, tables, caches and outputs dropped, a fresh session, one
  * warm-up pass), runs `--passes` timed passes of every op in a fixed order, and
  * writes `result.json` (and `spans.jsonl` when traced) into `--run`.
  *
  * Traced runs alternate untraced and traced passes, so the tracing
  * overhead is measured in the same process. The outputs the checks read
  * are written by the first set-up's warm-up and by one more pass after
  * the timed passes, outside every timed window. */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"--$k is required")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val data = arg(args, "data")
    val run = arg(args, "run")
    val passes = arg(args, "passes").toInt
    val setups = arg(args, "setups").toInt
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val inject = arg(args, "inject").split(',').filter(_.contains(':'))
      .map { s => val Array(k, op) = s.split(":", 2); k -> op }.toSeq
    val throwing = inject.collect { case ("throw", op) => op }.toSet
    val wrong = inject.collect { case ("wrong", op) => op }.toSet
    val cells = arg(args, "cells").split(',').filter(_.contains(':')).map { s =>
      val Array(n, csv, rows) = s.split(":"); Cell(n, csv, rows.toLong)
    }.toSeq
    val out = s"$run/out"
    val warehouse = s"$run/warehouse"
    val w = Workloads(workloadName, data, out, wrong, cells)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0

    def runOp(op: Op, s: SparkSession, t: Tracer, phase: String): Option[Double] = {
      synchronized(attempted += 1)
      val t0 = System.nanoTime()
      try {
        t.span("op", op.name) {
          if (throwing(op.name) && phase != "warmup")
            throw new IllegalStateException(s"injected failure in ${op.name}")
          op.run(s, t)
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          synchronized(failures += Map("op" -> op.name, "phase" -> phase,
            "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
          None
      }
    }

    /** Runs one pass; returns each op's seconds. Threads are made per pass
      * so none inherits a stale Spark execution id. */
    def runPass(s: SparkSession, t: Tracer, phase: String): Map[String, Double] = {
      val times = mutable.LinkedHashMap.empty[String, Double]
      w.groups.foreach {
        case Seq(op) => runOp(op, s, t, phase).foreach(times(op.name) = _)
        case group =>
          val threads = group.map(op => new Thread(() =>
            runOp(op, s, t, phase).foreach(x => times.synchronized(times(op.name) = x))))
          threads.foreach(_.start())
          threads.foreach(_.join())
      }
      times.toMap
    }

    def dumpAll(s: SparkSession, phase: String): Map[String, Any] = {
      val dir = s"$run/check/$phase"
      w.ops.map { op =>
        attempted += 1
        op.name -> (try op.dump(s, dir) catch {
          case e: Throwable =>
            failures += Map("op" -> op.name, "phase" -> s"check-$phase",
              "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
            Map("error" -> true)
        })
      }.toMap
    }

    // ---- set-up, several times from the same start state
    val processStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    // The first set-up starts the JVM's Spark context; later ones start a
    // fresh session on it (`newSession`: own conf, analyzer and extensions,
    // shared context), after dropping every table and cached frame.
    var spark: SparkSession = null
    var warmChecks: Map[String, Any] = Map.empty
    val setupRecords = (1 to setups).map { i =>
      if (spark != null) {
        spark.catalog.clearCache()
        spark.catalog.listTables().collect().foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      }
      reset(out, warehouse)
      val t0 = if (i == 1) processStartNs else System.nanoTime()
      spark = if (spark == null) session(cores, warehouse) else spark.newSession()
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
      val t1 = System.nanoTime()
      val off = new Tracer(spark, false)
      w.prepare(spark)
      // The first, cold set-up warms up by writing the output dumps of the
      // checks; being cold it is never the median set-up, and the checks
      // cost no extra pass.
      if (i == 1) warmChecks = dumpAll(spark, "warmup")
      else runPass(spark, off, "warmup")
      val t2 = System.nanoTime()
      Map("start_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "setup_s" -> (t2 - t0) / 1e9)
    }
    result("setups") = setupRecords

    // ---- timed passes
    val off = new Tracer(spark, false)
    val on = new Tracer(spark, traced)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcSeconds: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val passRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    (1 to passes).foreach { p =>
      val tracing = traced && p % 2 == 0
      val t = if (tracing) on else off
      val before = artifacts(warehouse)
      val (cpu0, gc0, t0) = (cpuBean.getProcessCpuTime, gcSeconds, System.nanoTime())
      if (tracing) on.attach()
      val opTimes = t.span("pass", s"pass $p")(runPass(spark, t, "timed"))
      if (tracing) on.detach()
      val wall = (System.nanoTime() - t0) / 1e9
      val rec = mutable.LinkedHashMap[String, Any](
        "traced" -> tracing, "wall_s" -> wall,
        "cpu_s" -> (cpuBean.getProcessCpuTime - cpu0) / 1e9,
        "gc_s" -> (gcSeconds - gc0),
        "artifact_builds" -> (artifacts(warehouse) -- before).size,
        "ops" -> opTimes)
      if (tracing) rec("layers") = Layers.ofPass(on, w, cores, cells, out)
      passRecords += rec.toMap
    }
    result("passes") = passRecords.toSeq
    val finalChecks = dumpAll(spark, "final")
    result("checks") = Map("warmup" -> warmChecks, "final" -> finalChecks)
    result("oracle_sql") = w.ops.flatMap(op =>
      graft.queries.QueryCatalog.oracleSql.get(op.name).map(op.name -> _)).toMap
    result("failures") = failures.toSeq
    result("attempted") = attempted
    result("env") = environment(spark, cores)
    if (traced) Files.writeString(Paths.get(s"$run/spans.jsonl"),
      on.spans.map(Json.span).mkString("", "\n", "\n"))
    spark.stop()
    result("peak_rss_mb") = peakRssMb
    Files.writeString(Paths.get(s"$run/result.json"), Json(result.toMap))
  }

  private def session(cores: Int, warehouse: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(warehouse).getAbsolutePath))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The engine's build-once artifacts live under `/tmp/graft_*`
    * (`Tables.persistedArtifactPath`) and bucketed tables in the warehouse. */
  private def artifactRoots(warehouse: String): Seq[File] =
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_")) :+
      new File(warehouse)

  private def artifacts(warehouse: String): Set[String] =
    artifactRoots(warehouse).flatMap(r => Option(r.listFiles()).toSeq.flatten)
      .map(_.getPath).toSet

  private def reset(out: String, warehouse: String): Unit =
    (artifactRoots(warehouse) :+ new File(out)).foreach(deleteRecursively)

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def environment(s: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> s.version,
    "spark_conf" -> s.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).toMap)
}
