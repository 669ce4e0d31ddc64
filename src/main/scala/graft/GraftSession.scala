package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Designed for `local[32]` testing but with settings that transfer to a real
  * cluster: AQE on (runtime re-plan, skew-join handling, partition coalescing),
  * modest shuffle parallelism for local mode, UTC session time zone so results
  * are oracle-comparable (DuckDB timestamps are naive/UTC).
  */
object GraftSession {

  /** Apply the engine's standard configs to any builder (shared with the
    * driver-owned `Verify`/`Bench` mains, which construct their own sessions).
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    // §5 off-heap seam (round-18 g2_coshare experiment): move Tungsten
    // execution memory — aggregation hash maps, shuffle/sort buffers — off
    // the JVM heap, so data-sized agg state stops being GC-scanned garbage.
    // Parameterised via env with a 0 (= off) default: the driver's bench
    // runs without the env and stays byte-comparable round-over-round; a
    // cluster deployment sizes it to the executor's container headroom.
    val offHeapMb = sys.env.getOrElse("SPARK_GRAFT_OFFHEAP_MB", "0").toLong
    val withOffHeap =
      if (offHeapMb > 0)
        b.config("spark.memory.offHeap.enabled", "true")
          .config("spark.memory.offHeap.size", s"${offHeapMb}m")
      else b
    withOffHeap
    // withExtensions COMPOSES with any caller-configured
    // spark.sql.extensions (a bare .config here would clobber them)
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Serve the in-file sort of bucketed tables as scan output ordering
    // (Spark 3+ keeps this behind a legacy flag because it only holds when
    // each bucket is exactly one file — graft.sources.BucketedStore
    // constructs precisely that layout, so the metadata is sound here and
    // the bucketed fact⋈fact join plans with neither Exchange nor Sort).
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // InferFiltersFromGenerate guards explode(f(x)) with
    // `size(f(x)) > 0 AND isnotnull(f(x))` — for this engine's generators
    // f IS the expensive kernel (shingle_set over the full document), so
    // the inferred filter re-evaluates it per row for a check the
    // generator performs anyway (explode of null/empty emits no rows; the
    // inference only pays off when MOST rows generate nothing, the
    // opposite of a text corpus). Excluding the rule removed a full
    // kernel evaluation from every explode(shingles) row (PlanLint's
    // filter-reevaluates-projection rule caught it; §14.11).
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // The driver testdata's `events.ts` is parquet TIMESTAMP(NANOS); Spark's
    // TimestampType is microseconds. Read nanos as a raw long (ns since
    // epoch) and convert explicitly where needed — this keeps full precision
    // and matches DuckDB's epoch_ns() exactly in oracle SQL.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Deterministic float formatting / no ANSI throw-on-cast: lenient casts
    // mirror the reference's errors="coerce" → NULL semantics
    // (/root/reference/pipeline.py:98-99,106).
    .config("spark.sql.ansi.enabled", "false")
    // Serve ANALYZE'd catalog tables' row counts through logical plan
    // statistics, so cardinality-routed operators (CardinalityStats →
    // g2's key-space route) read the catalog with ZERO jobs in a
    // warehouse deployment. No effect on path-based parquet reads (every
    // fixture row), which carry no catalog stats and use the memoized
    // fallback; CardinalityStatsSpec pins both paths.
    .config("spark.sql.cbo.planStats.enabled", "true")
    // Let the planner pick a shuffled-hash join when its size conditions
    // hold (§3.1 / the guide's baseline config §9): the relational tail's
    // fact⋈dimension-slice joins were all SortMergeJoins, paying a full
    // sort of BOTH shuffled sides where a per-partition hash build of the
    // smaller side suffices. The selection stays statistics-driven and
    // scale-adaptive — the build side must be under
    // autoBroadcastJoinThreshold × shuffle width AND 3× smaller than the
    // probe, so equal-size self-joins (the e2/e3 pair joins) and anything
    // too big per partition keep sort-merge. Measured at the 100× fixture:
    // j2_shipping_priority 11.1 → 2.8 s, j14_big_orders 6.3 → 4.8,
    // j20_priority_check 5.6 → 4.7, parity on j13/j16/j18/j7; full-catalog
    // sweep and oracle re-proven on the flip (round 18).
    .config("spark.sql.join.preferSortMergeJoin", "false")
  }

  def local(cores: Int = 32, app: String = "graft"): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
