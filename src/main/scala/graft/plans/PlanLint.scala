package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, Md5, RegExpExtractAll, RegExpReplace, Sha2, StringSplit}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan linting: the scale anti-patterns PlanSpec pins for
  * individual catalog queries, productized as a tree-walking audit any
  * pipeline can run in CI before a 100 TB deploy. A plan that passes tests
  * at sf0.01 can still hide a quietly-planted cartesian product or a
  * single-partition window that only detonates at cluster scale — these are
  * exactly the regressions that are cheap to catch at plan time and
  * expensive to catch at 3 a.m.
  *
  * Findings are ADVISORIES with the node and its logical size estimate
  * attached: a cross join against a 10-row dimension is a fine plan, the
  * same shape against a fact table is an outage. Callers gate on
  * `findings.filter(_.approxBytes > threshold)` or on specific rules.
  *
  * Rules:
  *  - `cartesian-product`: a CartesianProductExec anywhere — both sides
  *    data-sized (Spark broadcasts one side otherwise), output quadratic.
  *  - `theta-bnlj`: a BroadcastNestedLoopJoin with a join condition — the
  *    fallback strategy for inequality joins; per-row full scan of the
  *    broadcast side. (Condition-free Cross BNLJ is the deliberate tiny-
  *    broadcast pattern — 1-row totals, quantizer tables — and not flagged.)
  *  - `global-window`: a WindowExec with an empty PARTITION BY — every row
  *    moves to one task; unbounded at scale.
  *  - `single-partition-exchange`: a shuffle into ONE partition (e.g.
  *    `repartition(1)`, non-top-k global sort) — a one-task bottleneck.
  *  - `filter-reevaluates-projection`: an EXPENSIVE expression (regexp,
  *    crypto hash, higher-order lambda, a custom kernel) appearing in BOTH
  *    a Filter condition and a Project list — the signature of predicate
  *    pushdown re-substituting an alias below its projection, which
  *    evaluates the expression twice per row. Found live in this engine
  *    (the e4_fingerprint / MinHash-signing double-eval, §14.11): the fix
  *    is a cheap equivalent precondition before the projection.
  *  - `repeated-derived-subtree`: the same canonicalized join / window /
  *    aggregate / generate subtree present more than once in one plan.
  *    Exchange-identical stages ARE deduplicated at runtime (ReuseExchange
  *    / AQE stage reuse — duplicates under a repeated exchange are not
  *    counted), but compute ABOVE an exchange is not: a plan that fans one
  *    derived table into several consumers without materializing it
  *    re-runs that compute per consumer. Found live in this engine
  *    (e2_edit_blocked_audit fanned the un-checkpointed nearPairs plan
  *    into four leaf references and re-ran the blocking join; the fix is
  *    one output-sized localCheckpoint). Only the outermost duplicated
  *    subtree is reported, once per distinct shape. A duplicate over
  *    NOTHING but scans (a plain self-join) is the normal relational
  *    shape and is not flagged — the rule requires derived compute
  *    (join/window/agg/generate) inside the repeated subtree's own stage
  *    region.
  */
object PlanLint {

  final case class Finding(rule: String, node: String, approxBytes: BigInt) {
    override def toString: String = s"[$rule] ~${approxBytes}B $node"
  }

  /** Audit the (initial, pre-AQE-execution) physical plan of `df`. */
  def audit(df: DataFrame): Seq[Finding] =
    auditPlan(df.queryExecution.executedPlan)

  def auditPlan(root: SparkPlan): Seq[Finding] = {
    val plan = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val projected: Set[Expression] = plan.collect {
      case p: ProjectExec => p.projectList: Seq[Expression]
      case g: org.apache.spark.sql.execution.GenerateExec =>
        Seq(g.generator: Expression)
    }.flatten.flatMap(_.collect {
      case e if isExpensive(e) => e.canonicalized
    }).toSet
    val reeval = plan.collect {
      case f: FilterExec => f.condition.collect {
        case e if isExpensive(e) && projected.contains(e.canonicalized) =>
          Finding("filter-reevaluates-projection", oneLine(f), sizeOf(f))
      }
    }.flatten.distinct
    reeval ++ repeatedDerived(plan) ++ plan.collect {
      case c: CartesianProductExec =>
        Finding("cartesian-product", oneLine(c), sizeOf(c))
      // any BNLJ WITH a condition is the per-row-scan fallback — including
      // crossJoin(...).filter(inequality), which the optimizer folds into a
      // Cross-typed BNLJ carrying the predicate (review finding: the
      // joinType exemption here was a false-negative hole). The sanctioned
      // tiny-broadcast pattern is condition-FREE and stays unflagged.
      case b: BroadcastNestedLoopJoinExec if b.condition.isDefined =>
        Finding("theta-bnlj", oneLine(b), sizeOf(b))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Finding("global-window", oneLine(w), sizeOf(w.child))
      case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition &&
            !isGlobalPartialAgg(e.child) =>
        Finding("single-partition-exchange", oneLine(e), sizeOf(e.child))
    }
  }

  /** Derived-compute nodes for `repeated-derived-subtree`: re-executing one
    * of these per consumer is real work (a repeated plain scan is not
    * flagged — re-reading pruned columns is the normal self-join shape and
    * usually beats materializing). Aggregates need no partial/final split
    * here: a duplicated partial agg implies a duplicated parent exchange,
    * which the exchange cut in [[repeatedDerived]] already de-counts. */
  private def isDerivedCompute(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case _: WindowExec => true
    case _: org.apache.spark.sql.execution.GenerateExec => true
    case _ => false
  }

  /** Count and report canonicalized derived subtrees that execute more than
    * once. Walks cut at reuse nodes and at repeated occurrences of an
    * identical exchange (runtime computes those once — ReuseExchange /
    * AQE stage reuse), so what remains duplicated is genuinely re-executed
    * compute. Reports only the OUTERMOST duplicated node, once per shape. */
  private def repeatedDerived(plan: SparkPlan): Seq[Finding] = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import scala.collection.mutable
    val seenExch = mutable.Set.empty[SparkPlan]
    val counts = mutable.Map.empty[SparkPlan, Int]
    def count(n: SparkPlan): Unit = n match {
      case _: ReusedExchangeExec => ()
      case e @ (_: ShuffleExchangeExec | _: BroadcastExchangeExec) =>
        if (seenExch.add(e.canonicalized)) e.children.foreach(count)
      case d =>
        if (isDerivedCompute(d))
          counts.updateWith(d.canonicalized)(c => Some(c.getOrElse(0) + 1))
        d.children.foreach(count)
    }
    count(plan)
    val dup = counts.collect { case (k, c) if c >= 2 => k }.toSet
    val emitted = mutable.Set.empty[SparkPlan]
    val out = mutable.Buffer.empty[Finding]
    def walk(n: SparkPlan): Unit = n match {
      case _: ReusedExchangeExec => ()
      case d if isDerivedCompute(d) && dup(d.canonicalized) =>
        // nested duplicates are part of this shape; don't descend
        if (emitted.add(d.canonicalized))
          out += Finding("repeated-derived-subtree", oneLine(d), sizeOf(d))
      case other => other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** The one legitimate single-partition shuffle: the partial side of a
    * GLOBAL aggregate (empty grouping — one row per input task reaches the
    * exchange, bounded by parallelism, not data). */
  private def isGlobalPartialAgg(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty
    case _ => false
  }

  /** Per-row-expensive expressions: one evaluation is a budget, two is a
    * bug. Custom kernels are recognized by their shared base type. */
  private def isExpensive(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: RegExpExtractAll | _: RegExpReplace |
        _: StringSplit | _: Sha2 | _: Md5 | _: graft.expressions.Kernel => true
    case _ => false
  }

  /** Size estimate of the node's logical twin (Catalyst stats) — crude
    * without CBO, but enough to separate "10-row dimension" from "the fact
    * table"; -1 when no logical link survives. */
  private def sizeOf(p: SparkPlan): BigInt =
    p.logicalLink.map(_.stats.sizeInBytes).getOrElse(BigInt(-1))

  private def oneLine(p: SparkPlan): String =
    p.simpleStringWithNodeId().linesIterator.next().take(200)
}
