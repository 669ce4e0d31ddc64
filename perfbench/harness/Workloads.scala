package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.storage.StorageLevel

import graft.battery.{Collate, FadeRul, Features, Normalize, Qc, QuickPlots, Report}
import graft.expressions
import graft.functions.TextFunctions
import graft.queries._

/** One benchmark op: a unit the passes time. `run` is the timed call.
  * `dump` executes the op once for the output checks: it writes the op's
  * output as parquet under `dir` and/or returns facts about it. */
abstract class Op(val name: String, val module: String) {
  def run(s: SparkSession, t: Tracer): Unit
  def dump(s: SparkSession, dir: String): Map[String, Any]
}

/** A catalog query consumed through the `noop` sink. */
final class QueryOp(name: String, module: String,
    q: (SparkSession, String) => DataFrame, data: String, wrong: Boolean,
    oracle: Boolean) extends Op(name, module) {
  def run(s: SparkSession, t: Tracer): Unit = {
    val df = t.span("build", name)(q(s, data))
    t.span("exec", name)(df.write.format("noop").mode("overwrite").save())
  }
  /** Ops with oracle SQL are written out for the DuckDB comparison. */
  def dump(s: SparkSession, dir: String): Map[String, Any] = {
    val df = if (wrong) q(s, data).limit(0) else q(s, data)
    if (!oracle) Fingerprint(df)
    else {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      Fingerprint(s.read.parquet(s"$dir/$name")) + ("dump" -> s"$dir/$name")
    }
  }
}

/** One kernel over [[Workloads.KernelRows]] input rows, evaluated by the
  * kernel's own generated code: the kernel column (a builder or SQL name)
  * is resolved by the analyzer against the input and compiled into an
  * `UnsafeProjection`. Set-up compiles it and materializes the input rows;
  * the timed call is the row loop alone, so the op times the kernel and no
  * Spark scheduling. The output check is a hash of the projected rows, in
  * input order. */
final class KernelOp(name: String, val kernel: String,
    input: () => (DataFrame, Array[InternalRow]), f: () => Column)
    extends Op(name, "expressions") {
  private var proj: UnsafeProjection = _
  private var rows: Array[InternalRow] = Array.empty
  private var facts: Map[String, Any] = Map.empty

  def prepare(): Unit = {
    val (df, in) = input()
    val plan = df.select(f().as("out")).queryExecution.analyzed.asInstanceOf[Project]
    proj = UnsafeProjection.create(
      plan.projectList.map(BindReferences.bindReference(_, plan.child.output)))
    rows = in
  }

  def run(s: SparkSession, t: Tracer): Unit = t.span("exec", name) {
    var h = 0L
    var i = 0
    while (i < rows.length) {
      h = h * 31 + proj(rows(i)).hashCode()
      i += 1
    }
    facts = Map("rows" -> rows.length.toLong, "hash" -> h.toString)
  }

  /** Facts of the latest run: the last timed pass needs no extra run. */
  def dump(s: SparkSession, dir: String): Map[String, Any] = {
    if (facts.isEmpty) run(s, new Tracer(s, false))
    facts
  }
}

/** Rows and an order-insensitive content hash of a dumped output: the sum
  * of each row's xxhash64 over its JSON form, columns sorted by name and
  * top-level floating-point cells rounded to 6 significant digits. */
object Fingerprint {
  def apply(df: DataFrame): Map[String, Any] = {
    val cells = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => format_string("%.6g", col(c)).as(c)
        case _ => col(c)
      }
    }
    val r = df.select(xxhash64(to_json(struct(cells: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    Map("rows" -> r.getLong(0),
      "hash" -> Option(r.getDecimal(1)).fold("0")(_.toString))
  }
}

final case class Cell(name: String, csv: String, rows: Long)

/** One cycler cell through the battery stages, in the order
  * `BatteryPipeline.run` composes them, with every sink (timeseries
  * parquet, features and summary CSVs, report, plots) plus `Qc.run`. The
  * stages are called one by one so each is timed on its own; the feature
  * table is materialized at its stage boundary for that reason. */
final class CellOp(cell: Cell, out: String, wrong: Boolean)
    extends Op(s"cell_${cell.name}", "battery") {
  private var facts: Map[String, Any] = Map.empty
  def run(s: SparkSession, t: Tracer): Unit = {
    val ts = s"$out/${cell.name}_timeseries.parquet"
    t.span("step", "normalize") {
      Normalize.writeParquet(Normalize(s, cell.csv).orderBy("timestamp"), ts)
    }
    val (features, nFeat) = t.span("step", "features") {
      val f = Features.all(s.read.parquet(ts), ratedAh = 3.0, dV = 0.05)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (f, f.count())
    }
    val summary = t.span("step", "fade_rul") {
      FadeRul.summary(features).select(lit(cell.name).as("cell_id"),
        col("Q0_Ah"), col("fade_slope_pct_per_cycle"), col("cycles_to_80pct"))
        .collect().head
    }
    t.span("step", "sinks") {
      features.orderBy("cycle_index").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$out/${cell.name}_features_full.csv")
      val sumDf = s.createDataFrame(java.util.List.of(summary), summary.schema)
      sumDf.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/${cell.name}_summary.csv")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/${cell.name}_report.md"),
        Report.markdown(cell.name, sumDf, features))
      QuickPlots.write(features, cell.name, out)
    }
    val qc = t.span("step", "qc")(Qc.run(features))
    features.unpersist()
    val slope = summary.getAs[Double]("fade_slope_pct_per_cycle")
    facts = Map("feature_rows" -> nFeat,
      "fade_slope" -> (if (wrong) 2 * slope else slope),
      "qc_checks" -> qc.size)
  }
  /** Facts of the latest run: the last timed pass needs no extra run. */
  def dump(s: SparkSession, dir: String): Map[String, Any] = {
    if (facts.isEmpty) run(s, new Tracer(s, false))
    facts
  }
}

/** Collates the fleet's feature CSVs and QC-checks the whole fleet. */
final class CollateOp(out: String) extends Op("fleet_collate", "battery") {
  private var facts: Map[String, Any] = Map.empty
  def run(s: SparkSession, t: Tracer): Unit = t.span("step", "collate") {
    val fleet = Collate.featuresFromDir(s, out).persist(StorageLevel.MEMORY_AND_DISK)
    val perCell = FadeRul.summary(fleet, cellKeys = Seq("cell_id")).collect()
    val qc = Qc.run(fleet)
    facts = Map("cells" -> perCell.length, "rows" -> fleet.count(),
      "qc_checks" -> qc.size)
    fleet.unpersist()
  }
  def dump(s: SparkSession, dir: String): Map[String, Any] = {
    if (facts.isEmpty) run(s, new Tracer(s, false))
    facts
  }
}

/** `groups`: the pass order; the ops of one group run concurrently, one
  * driver thread each. */
final case class Workload(name: String, groups: Seq[Seq[Op]],
    prepare: SparkSession => Unit) {
  def ops: Seq[Op] = groups.flatten
}

object Workloads {
  /** Relational, event, streaming-shaped and graph catalog rows, one per
    * join/aggregate shape the planner picks between; no kernels. */
  val analytics: Seq[String] = Seq(
    "q3_promo_share", "j2_shipping_priority", "a27_heavy_hitters",
    "e7_stream_join", "g2_coshare")

  /** The LLM-data curation chain's quality statistics and similarity
    * search; the kernel pass ([[KernelInputs]]) rides along. */
  val curation: Seq[String] = Seq("e4_token_stats", "e3_cosine_topk")

  private val modules: Map[String, String] = Seq(
    "EventOps" -> EventOps.defs, "RelationalOps" -> RelationalOps.defs,
    "TextOps" -> TextOps.defs, "VectorOps" -> VectorOps.defs,
    "StreamShaped" -> StreamShaped.defs, "AnalyticsOps" -> AnalyticsOps.defs,
    "MultimodalOps" -> MultimodalOps.defs)
    .flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  private def catalogOps(names: Seq[String], data: String,
      wrong: Set[String]): Seq[Op] = {
    val q = QueryCatalog.queries
    val oracle = QueryCatalog.oracleSql
    names.map(n => new QueryOp(n, modules(n), q(n), data, wrong(n), oracle.contains(n)))
  }

  /** Rows each kernel op loops over; fixed so ns/row compares across runs. */
  val KernelRows = 1000

  def apply(name: String, data: String, out: String, wrong: Set[String],
      cells: Seq[Cell]): Workload = name match {
    case "analytics" =>
      Workload(name, catalogOps(analytics, data, wrong).map(Seq(_)), _ => ())
    case "battery_fleet" =>
      // the fleet's cells run concurrently, as a fleet ETL on one
      // multi-core host would; the collation waits for all of them
      Workload(name, Seq(cells.map(c => new CellOp(c, out, wrong(s"cell_${c.name}"))),
        Seq(new CollateOp(out))), s => new java.io.File(out).mkdirs())
    case "curation_nat" =>
      val k = new KernelInputs(data)
      Workload(name, (catalogOps(curation, data, wrong) ++ k.ops).map(Seq(_)), k.prepare)
  }
}

/** Kernel inputs built from the corpus: ASCII documents and multibyte
  * documents, each cycled to [[Workloads.KernelRows]] rows and paired with
  * the next document, with the token, shingle and signature columns the
  * kernels take; and embedding pairs. Each is materialized once per set-up
  * as rows the kernel ops loop over. */
final class KernelInputs(data: String) {
  private var ascii: (DataFrame, Array[InternalRow]) = _
  private var multibyte: (DataFrame, Array[InternalRow]) = _
  private var vectors: (DataFrame, Array[InternalRow]) = _

  private def materialized(df: DataFrame): (DataFrame, Array[InternalRow]) =
    (df, df.queryExecution.toRdd.map(_.copy()).collect())

  private def textInput(s: SparkSession, texts: Array[String]): DataFrame = {
    val rows = (0 until Workloads.KernelRows).map(i =>
      (texts(i % texts.length), texts((i + 1) % texts.length)))
    s.createDataFrame(s.sparkContext.parallelize(rows, s.sparkContext.defaultParallelism))
      .toDF("text", "text_b")
      .select(
        col("text"), col("text_b"),
        TextFunctions.tokens(col("text")).as("toks"),
        array_sort(expr("shingle_set(text, 5)")).as("sh"),
        array_sort(expr("shingle_set(text_b, 5)")).as("sh_b"))
      .withColumn("sig", transform(expr("minhash_sig(sh, 64)"), x => x.cast("tinyint")))
      .withColumn("sig_b", transform(expr("minhash_sig(sh_b, 64)"), x => x.cast("tinyint")))
  }

  def prepare(s: SparkSession): Unit = {
    val texts = s.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
      .collect().sortBy(_.getLong(0)).map(_.getString(1))
    val (mb, plain) = texts.partition(_.exists(_ > 0x7f))
    ascii = materialized(textInput(s, plain))
    multibyte = materialized(textInput(s, mb))
    val emb = s.read.parquet(s"$data/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1))
    vectors = materialized(s.createDataFrame(s.sparkContext.parallelize(
      (0 until Workloads.KernelRows).map(i => (emb(i % emb.length), emb((i + 1) % emb.length))),
      s.sparkContext.defaultParallelism)).toDF("v", "v_b"))
    ops.foreach(_.prepare())
  }

  private val bloomBits: Array[Long] = {
    val r = new scala.util.Random(7)
    Array.fill(1 << 10)(r.nextLong())
  }

  /** kernel class → column over the text inputs (run on both scripts). */
  private val textKernels: Seq[(String, () => Column)] = Seq(
    "AdjacentPairs" -> (() => expressions.AdjacentPairs(col("toks"))),
    "ArrayElementCounts" -> (() => expressions.ArrayElementCounts(col("toks"))),
    "BloomProbe" -> (() => expressions.BloomProbe(col("text"), bloomBits, 4, 7L)),
    "CharCounts" -> (() => expressions.CharCounts(col("text"))),
    "LevWithin" -> (() => expr("lev_within(substring(text, 1, 30), substring(text_b, 1, 30), 3)")),
    "MinHashSig" -> (() => expr("minhash_sig(sh, 64)")),
    "ShingleMinHash" -> (() => expr("shingle_minhash(text, 5, 64)")),
    "ShingleSet" -> (() => expr("shingle_set(text, 5)")),
    "ShingleShaMin" -> (() => expr("shingle_sha_min(text, 5)")),
    "SimhashSig" -> (() => expr("simhash_sig(text, false)")),
    "SortedIntersectSize" -> (() => expr("sorted_intersect_size(sh, sh_b)")),
    "TokenStats" -> (() => expressions.TokenStats(col("text"))))

  /** kernel class → column over the embedding pairs or signatures. */
  private val otherKernels: Seq[(String, () => (DataFrame, Array[InternalRow]), () => Column)] = Seq(
    ("DotProduct", () => vectors, () => expr("vec_dot(v, v_b)")),
    ("L2Micros", () => vectors, () => expr("vec_l2_micros(v, v_b)")),
    ("LshTableBuckets", () => vectors,
      () => expressions.LshTableBuckets(col("v"), 4, 8, 64)),
    ("SketchAgreement", () => ascii,
      () => expressions.SketchAgreement(col("sig"), col("sig_b"))))

  /** Kernels that step through UTF-8 themselves: these also run on the
    * multibyte documents, where an ASCII-only fast path would show. */
  private val Utf8Walkers = Set("CharCounts", "TokenStats", "ShingleSet",
    "ShingleMinHash", "ShingleShaMin")

  val ops: Seq[KernelOp] =
    textKernels.map { case (k, f) => new KernelOp(s"k_$k", k, () => ascii, f) } ++
      otherKernels.map { case (k, in, f) => new KernelOp(s"k_$k", k, in, f) } ++
      textKernels.filter(k => Utf8Walkers(k._1))
        .map { case (k, f) => new KernelOp(s"k_${k}_mb", k, () => multibyte, f) }
}
