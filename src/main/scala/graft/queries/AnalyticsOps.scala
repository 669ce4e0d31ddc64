package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Engine-breadth analytics operators beyond the reference surface:
  * grouping sets (ROLLUP), PIVOT, as-of/range joins, event-sequence
  * funnels (w4), and iterative graph compute (g1 fixed-point PageRank).
  * The as-of join is the scalable window formulation — union the two event
  * kinds, one shuffle on the key, running last-non-null over time order —
  * not a range join, so it holds at any fact-table size.
  */
object AnalyticsOps {

  /** g2's degree cap: per-customer supplier posting lists are truncated to
    * this many entries before the pair join, bounding the quadratic blow-up
    * of a power-law hot customer (cap² pairs max per customer). Declared
    * semantics: suppliers are ranked by id per customer and only the first
    * `CoshareCap` participate — on every fixture to date max degree ≪ cap so
    * output equals the uncapped projection, and `g2_coshare_audit` makes the
    * day that stops true VISIBLE (capped_customers > 0) instead of silent. */
  val CoshareCap = 1024

  /** Supplier-dimension row count, memoized per fixture ([[Tables.memo]]):
    * the coshare routing statistic is read once per fixture instead of
    * running a scan-and-count Spark job on every g2 query construction
    * (including plan-only/explain paths). Real job on first touch — cheap
    * because the dimension is tiny. */
  def supplierCount(s: SparkSession, dir: String): Long =
    supplierCountOf(Tables.supplier(s, dir),
      Tables.key(dir, Seq("supplier"), "supplier-count"))

  /** The same statistic over ANY supplier-dimension frame — the seam that
    * lets a deployment hand g2's routing an ANALYZE'd catalog table
    * (CardinalityStatsSpec pins that path at zero jobs) while the
    * fixture-path callers keep the memoized-count fallback. */
  def supplierCountOf(dim: DataFrame, memoKey: Tables.Key): Long =
    // catalog statistics first (graft.plans.CardinalityStats — an ANALYZE'd
    // deployment routes with zero jobs), memoized count as the fallback
    graft.plans.CardinalityStats.rowCount(dim)(
      Tables.memo(memoKey)(dim.count()))

  /** Distinct customer→supplier posting list, pre-partitioned on customer so
    * dedup / cap-window / self-join all ride one hash exchange. */
  def custSupp(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .repartition(col("c"))
      .dropDuplicates("c", "sk")

  /** Pair-aggregation strategy threshold: with `nSupp` distinct suppliers
    * the packed-pair key space is ≤ nSupp·(nSupp−1)/2, and the right
    * aggregation shape depends on that statistic — exactly the CBO input a
    * catalog would hold, so [[coshareTop]] reads it from the dimension table
    * (one real count job per fixture, memoized in [[supplierCount]] — cheap
    * because the dimension is tiny, not because it's metadata) and picks the
    * shape.
    *
    * Small key space (≤ this cap): map-side partial aggregation collapses
    * the pair stream before the exchange — each task's hash table tops out
    * at the key-space size, so the shuffle carries ~keySpace·tasks rows
    * instead of the full pair stream (131M pairs → 16M shuffled rows on the
    * 10× fixture). On a NETWORK that volume ratio decides; on local[32] the
    * shuffle is memcpy, so the always-repartition shape measures ~1-2 s
    * faster there (ProfileCoshare r8: packed partial 11.9 s vs packed
    * repartition 9.9 s at 10×) — the partial shape is chosen anyway because
    * the engine targets the 1000-executor case, where shuffling 8× the
    * bytes loses by far more than a cache-resident final agg saves.
    *
    * Large key space (10k suppliers → 50M pair keys ≈ pair-stream
    * cardinality): partial agg tables reach input cardinality, buy nothing,
    * and spill; the explicit repartition-on-key (colocated single-level agg)
    * measured 2.9× faster on that regime (round-6 ProfileCoshare). */
  val CosharePairKeySpaceMax = 4L * 1000 * 1000

  /** Supplier–supplier co-occurrence projection over a (c, sk) posting list
    * with the degree cap applied at the source (see [[CoshareCap]]) and the
    * aggregation shape chosen from the supplier cardinality (see
    * [[CosharePairKeySpaceMax]]). */
  /** Pair-key budget per task in the sized-exchange route: bounds the
    * single-level agg's per-task hash table at ~50 MB worst case, so 32
    * concurrent tasks stay under ~2 GB of agg state regardless of data
    * scale (the 100× probe OOMed the session-width exchange: 1.3 G pairs /
    * 32 partitions = 40 M keys per task's table, GC-locker thrash → heap
    * OOM). */
  val CosharePairKeysPerTask = 512L << 10

  /** The degree cap applied to a (c, sk) posting list — shared by
    * [[coshareTop]] and the [[cosharePairCount]] statistic so the sizing
    * pass counts exactly the pairs the projection will enumerate. */
  def cappedPosting(cs: DataFrame, cap: Int): DataFrame = cs
    .withColumn("rn",
      row_number().over(Window.partitionBy("c").orderBy("sk")))
    .filter(col("rn") <= cap).drop("rn")

  /** The capped posting list as a build-once per-fixture parquet artifact —
    * the `persistedTrainedCentroids` posture applied to g2's derived table.
    * The projection in [[coshareTop]] self-joins the capped posting list;
    * left unmaterialized, the DATA-SIZED sort + Window + filter of
    * [[cappedPosting]] execute once PER JOIN SIDE (the exchange beneath is
    * deduplicated by ReuseExchange, the compute above it is not — PlanLint's
    * `repeated-derived-subtree` rule caught this at a ~187 MB Catalyst
    * estimate on sf0.1, and at 100 TB it doubles the heaviest upstream
    * stage of one of the engine's most expensive rows). A localCheckpoint
    * would run it once but pin scale-sized blocks for the session; the
    * artifact runs it once per FIXTURE (one posting-list-sized write, the
    * nightly-index-build posture), and both join sides plus the pair-count
    * statistic read it back as plain parquet scans — repeated scans of one
    * materialized table are the normal relational shape PlanLint
    * deliberately does not flag. */
  def cappedPostingArtifact(s: SparkSession, dir: String,
      cap: Int): DataFrame =
    Tables.persistedArtifact(s, "graft_coshare_capped",
      Tables.key(dir, Seq("orders", "lineitem"), "capped", cap)) {
      cappedPosting(custSupp(s, dir), cap)
    }

  /** Exact capped-pair cardinality of the fixture's posting list —
    * Σ d·(d−1)/2 over capped degrees, the statistic that sizes the big
    * route's exchange in [[coshareTop]]. One aggregate job per fixture
    * (over the [[cappedPostingArtifact]], so the posting list is never
    * recomputed for the statistic), memoized like [[supplierCount]]. */
  def cosharePairCount(s: SparkSession, dir: String, cap: Int): Long =
    Tables.memo(Tables.key(dir, Seq("orders", "lineitem"), "pairs", cap))(
      cappedPostingArtifact(s, dir, cap)
        .groupBy("c").agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L)))
        .head().getLong(0))

  /** @param capped the CAPPED posting list (see [[cappedPosting]]) —
    *                fixture-backed callers pass [[cappedPostingArtifact]]
    *                so the capping Window is materialized once instead of
    *                re-executing under each self-join side.
    * @param pairCount capped-pair cardinality, by-name: forced only on the
    *                   big-key-space route (callers with a fixture pass the
    *                   memoized [[cosharePairCount]]; the default replays
    *                   the statistic job on `capped` directly). */
  def coshareTop(capped: DataFrame, nSupp: Long,
      pairCount: => Option[Long] = None): DataFrame = {
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.c") === col("b.c") && col("a.sk") < col("b.sk"))
      .select((shiftleft(col("a.sk"), 32) + col("b.sk")).as("pk"))
    val keySpace = nSupp * (nSupp - 1) / 2
    val routed = if (keySpace <= CosharePairKeySpaceMax) pairs
    else {
      // the exchange must be SIZED, not just keyed: pair-group count grows
      // with the data while the session shuffle width does not, so at scale
      // a width-32 exchange hands each task a hash table it cannot hold
      // (measured at 100×: 1.3 G pairs / 32 partitions OOMed the 8 GB probe
      // heap; the sized form runs it in 113 s, linear vs 10×). The pair
      // cardinality is one cheap aggregate over the capped degree
      // distribution — the statistic a CBO would hold, same posture as
      // supplierCount for the route itself.
      val pc = pairCount.getOrElse(
        capped.groupBy("c").agg(count(lit(1)).as("d"))
          .agg(coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L)))
          .head().getLong(0))
      val sp = capped.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      val n = math.min(1L << 14, math.max(sp.toLong,
        (pc + CosharePairKeysPerTask - 1) / CosharePairKeysPerTask))
        .toInt
      pairs.repartition(n, col("pk"))
    }
    routed
      .groupBy("pk")
      .agg(count(lit(1)).as("shared_customers"))
      .filter(col("shared_customers") >= 3)
      .select(shiftright(col("pk"), 32).as("supp_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("supp_b"),
        col("shared_customers"))
      .orderBy(col("shared_customers").desc, col("supp_a"), col("supp_b"))
      .limit(20)
  }

  /** Cap-truncation audit for g2: how many customers actually lost suppliers
    * to the cap, plus the observed max degree. One tiny aggregate over the
    * same posting list — cheap enough to run alongside g2 every time, and
    * the driver oracle checks it, so truncation can never drift in silently. */
  def coshareAudit(cs: DataFrame, cap: Int): DataFrame =
    cs.groupBy("c").agg(count(lit(1)).as("d"))
      .agg(sum(when(col("d") > cap, 1).otherwise(0)).as("capped_customers"),
        max(col("d")).as("max_degree"))
      .withColumn("cap", lit(cap.toLong))

  val defs: Seq[QueryDef] = Seq(

    // Pre-aggregate at the FINEST grouping set (l_returnflag, l_linestatus)
    // before the rollup: Spark plans rollup/cube as Expand(|sets| projections
    // per input row) feeding the partial aggregate, so over the raw fact the
    // per-task work is |sets| hash probes + |sets| decimal adds PER LINE
    // (§2.3 "aggregate before you shuffle" — here the multiplication is
    // in-task, but the fix is the same). Folding to the ≤|rf|×|ls| grain
    // first costs one tiny extra exchange and makes the Expand run over the
    // collapsed table. Exact by associativity: count ≡ Σ pre-counts,
    // SUM(decimal) ≡ Σ pre-sums (micros casts wash the wider re-agg type),
    // and rollup-over-preagg groups the same NULL-as-value semantics because
    // the pre-agg keys are never themselves grouped out. 100× pin: 10.1 →
    // 3.3 s (cube), 6.3 → 3.3 (rollup), plan: Expand now sits ABOVE the
    // first HashAggregate pair instead of on the scan.
    QueryDef("r1_rollup",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pre_n"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("pre_qty"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("pre_n")).as("n"),
          graft.functions.Carriers.micros(sum(col("pre_qty"))).as("qty_micros"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
          col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        ${graft.functions.Carriers.microsSql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS qty_micros,
        GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""")),

    // full CUBE (every grouping-set combination): the general grouping-sets
    // surface next to r1's ROLLUP. Same finest-grain pre-aggregation as
    // r1_rollup (see comment there): the 4-way Expand runs over the ≤6-row
    // pre-aggregated table, not the fact.
    QueryDef("r4_cube",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pre_n"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("pre_price"))
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("pre_n")).as("n"),
          graft.functions.Carriers.micros(sum(col("pre_price"))).as("price_micros"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
          col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        ${graft.functions.Carriers.microsSql("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS price_micros,
        GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""")),

    QueryDef("r2_pivot",
      (s, dir) => Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
      Some("""SELECT user_id,
        count(*) FILTER (WHERE event_type = 'click') AS click,
        count(*) FILTER (WHERE event_type = 'view') AS view,
        count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        count(*) FILTER (WHERE event_type = 'signup') AS signup,
        count(*) FILTER (WHERE event_type = 'error') AS error
        FROM events WHERE user_id < 50
        GROUP BY user_id ORDER BY user_id""")),

    // range (interval) join via the chunk-bucketed equi-join form
    // (graft.operators.RangeJoin): intervals are the first 12 h of each of
    // the first 20 users; every event falling inside any interval counts
    // toward it. The oracle is the plain BETWEEN theta join — identical
    // results prove the bucketing is a pure physical rewrite.
    QueryDef("r3_range_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(expr("ts div 1000").as("ts_us"), col("event_id"),
            col("user_id"))
        val iv = ev.filter(col("user_id") < 20)
          .groupBy(col("user_id").as("iv_id"))
          .agg(min("ts_us").as("start_us"))
          .withColumn("end_us", col("start_us") + lit(43200000000L)) // +12 h
        graft.operators.RangeJoin.bucketed(ev, iv, "ts_us", "start_us",
            "end_us", chunk = 3600000000L) // 1 h chunks
          .groupBy("iv_id")
          .agg(count(lit(1)).as("n_events"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy("iv_id")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS ts_us, event_id, user_id
          FROM events),
        iv AS (SELECT user_id AS iv_id, min(ts_us) AS start_us,
            min(ts_us) + 43200000000 AS end_us
          FROM e WHERE user_id < 20 GROUP BY user_id)
        SELECT iv_id, count(*) AS n_events,
          count(DISTINCT e.user_id) AS n_users
        FROM iv JOIN e ON e.ts_us >= iv.start_us AND e.ts_us < iv.end_us
        GROUP BY iv_id ORDER BY iv_id""")),

    // G1: fixed-point PageRank over the (customer ↔ supplier) co-order
    // graph — iterative graph compute beyond CC's label propagation. All
    // integer micro-rank arithmetic (see operators/PageRank.scala), so 3
    // unrolled iterations hash-match a DuckDB CTE chain exactly; supplier
    // ids offset to disjoint vertex space. One src-keyed join per round.
    QueryDef("g1_pagerank",
      (s, dir) => {
        val pairs = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_suppkey") + 1000000L).as("s"))
          .distinct()
        val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
          .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
        graft.operators.PageRank.ranks(edges, iterations = 3)
          .select(col("id"), col("rank").as("rank_micros"))
          .orderBy("id")
      },
      Some("""WITH pairs AS (SELECT DISTINCT o_custkey AS c,
            l_suppkey + 1000000 AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pairs
          UNION ALL SELECT s, c FROM pairs),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg),
        r1 AS (SELECT e.dst AS id,
            CAST(150000 + (85 * sum(r.rank // g.d)) // 100 AS BIGINT) AS rank
          FROM edges e JOIN deg g ON e.src = g.src JOIN r0 r ON e.src = r.id
          GROUP BY e.dst),
        r2 AS (SELECT e.dst AS id,
            CAST(150000 + (85 * sum(r.rank // g.d)) // 100 AS BIGINT) AS rank
          FROM edges e JOIN deg g ON e.src = g.src JOIN r1 r ON e.src = r.id
          GROUP BY e.dst),
        r3 AS (SELECT e.dst AS id,
            CAST(150000 + (85 * sum(r.rank // g.d)) // 100 AS BIGINT) AS rank
          FROM edges e JOIN deg g ON e.src = g.src JOIN r2 r ON e.src = r.id
          GROUP BY e.dst)
        SELECT id, rank AS rank_micros FROM r3 ORDER BY id""")),

    // G2: bipartite co-occurrence projection — project the customer↔supplier
    // graph onto supplier–supplier edges weighted by shared customers (the
    // "bought-together" primitive behind item-item recommendation). Pairs
    // form ONLY through the per-customer posting join (never all-pairs),
    // and a degree cap (row_number ≤ 1024 per customer, far above this
    // fixture's max degree of 114 so output is provably identical) bounds
    // the quadratic blow-up of a power-law hot customer at the source.
    // Scale shape (ProfileCoshare, scale_sf1): the pair-group space grows
    // ~input-cardinality (500k → 46.4M groups at 10×), so the default
    // partial→final agg builds near-useless map-side hash tables — the
    // pair stream is packed into ONE long (sk_a<<32|sk_b, half the shuffle
    // width, single-column hash) and explicitly repartitioned on it so the
    // aggregation is one exchange with no doomed partial tables: 25.6 s →
    // 8.9 s at 10×. The capped posting list is a per-fixture parquet
    // artifact (cappedPostingArtifact), so the data-sized dedup + capping
    // Window run ONCE per fixture and both self-join sides are plain
    // scans of the materialized table (the round-10 lint finding: without
    // it the Window executed once per join side). Top-20 via
    // TakeOrderedAndProject.
    QueryDef("g2_coshare",
      (s, dir) => coshareTop(cappedPostingArtifact(s, dir, CoshareCap),
        supplierCount(s, dir),
        Some(cosharePairCount(s, dir, CoshareCap))),
      Some("""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        SELECT a.sk AS supp_a, b.sk AS supp_b,
          count(*) AS shared_customers
        FROM cs a JOIN cs b ON a.c = b.c AND a.sk < b.sk
        GROUP BY 1, 2 HAVING count(*) >= 3
        ORDER BY shared_customers DESC, supp_a, supp_b LIMIT 20""")),

    // G2 audit: the degree cap above must never truncate SILENTLY — this
    // companion row counts the customers whose supplier set exceeds the cap
    // (capped_customers) next to the observed max degree, and the oracle
    // (which knows nothing of the cap mechanics) re-derives both from the
    // raw posting list. The day a fixture grows a >cap-degree customer this
    // row flips from 0 and the driver sees it the same round.
    QueryDef("g2_coshare_audit",
      (s, dir) => coshareAudit(custSupp(s, dir), CoshareCap),
      Some(s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        deg AS (SELECT c, count(*) AS d FROM cs GROUP BY c)
        SELECT count(*) FILTER (WHERE d > ${AnalyticsOps.CoshareCap})
            AS capped_customers,
          max(d) AS max_degree,
          CAST(${AnalyticsOps.CoshareCap} AS BIGINT) AS cap
        FROM deg""")),

    // W4: event-sequence FUNNEL — view → first click ≤6h → first purchase
    // ≤12h, the conversion-path primitive (each stage is a forward as-of
    // match: earliest next-stage event inside the window, ties → lowest id).
    // Scale shape: both stages are interval joins HASH-KEYED on user_id
    // (time bound as post-filter — pairs only within a user), and each
    // keeper is a per-view groupBy whose fan-in is bounded by events-per-
    // window; nothing global, same posture as e7_stream_join. Stage order
    // (min ts, then min id at equal ts) is exact integer µs math in both
    // engines.
    QueryDef("w4_funnel",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), expr("ts div 1000").as("ts_us"))
        def stage(t: String, idc: String, tsc: String) =
          e.filter(col("event_type") === t)
            .select(col("event_id").as(idc), col("user_id"),
              col("ts_us").as(tsc))
        val v = stage("view", "view_id", "view_ts")
        val c = stage("click", "click_id", "click_ts")
        val p = stage("purchase", "purchase_id", "p_ts")
        val vc = v.join(c, Seq("user_id"))
          .filter(col("click_ts") > col("view_ts") &&
            col("click_ts") <= col("view_ts") + lit(21600000000L))
          .groupBy("view_id", "user_id", "view_ts")
          .agg(min_by(col("click_id"),
              struct(col("click_ts"), col("click_id"))).as("click_id"),
            min("click_ts").as("click_ts"))
        vc.join(p, Seq("user_id"))
          .filter(col("p_ts") > col("click_ts") &&
            col("p_ts") <= col("click_ts") + lit(43200000000L))
          .groupBy("view_id", "user_id", "view_ts", "click_id")
          .agg(min_by(col("purchase_id"),
              struct(col("p_ts"), col("purchase_id"))).as("purchase_id"),
            min("p_ts").as("p_ts"))
          .select(col("view_id"), col("user_id"), col("click_id"),
            col("purchase_id"), (col("p_ts") - col("view_ts")).as("funnel_us"))
          .orderBy("view_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
            epoch_us(ts) AS ts_us FROM events),
        vc AS (SELECT v.event_id AS view_id, v.user_id, v.ts_us AS view_ts,
            c.event_id AS click_id, c.ts_us AS click_ts,
            row_number() OVER (PARTITION BY v.event_id
              ORDER BY c.ts_us, c.event_id) AS rn
          FROM e v JOIN e c ON v.user_id = c.user_id
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND c.ts_us > v.ts_us AND c.ts_us <= v.ts_us + 21600000000),
        f1 AS (SELECT view_id, user_id, view_ts, click_id, click_ts
          FROM vc WHERE rn = 1),
        fp AS (SELECT f.view_id, f.user_id, f.view_ts, f.click_id,
            p.event_id AS purchase_id, p.ts_us AS p_ts,
            row_number() OVER (PARTITION BY f.view_id
              ORDER BY p.ts_us, p.event_id) AS rn
          FROM f1 f JOIN e p ON f.user_id = p.user_id
            AND p.event_type = 'purchase'
            AND p.ts_us > f.click_ts AND p.ts_us <= f.click_ts + 43200000000)
        SELECT view_id, user_id, click_id, purchase_id,
          p_ts - view_ts AS funnel_us
        FROM fp WHERE rn = 1 ORDER BY view_id""")),

    // as-of join: each purchase matched to the latest PRIOR view of the same
    // user — running last-non-null over one key-partitioned time order
    QueryDef("e9_asof_join",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, dir)
          .withColumn("prior_view_ts_us",
            last(when(col("event_type") === "view", expr("ts div 1000")),
              ignoreNulls = true).over(w))
          .withColumn("prior_view_id",
            last(when(col("event_type") === "view", col("event_id")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("prior_view_id"),
            (expr("ts div 1000") - col("prior_view_ts_us")).as("gap_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, prior_view_id,
        epoch_us(ts) - prior_view_ts_us AS gap_us FROM (
          SELECT event_id, user_id, event_type, ts,
            last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END
              IGNORE NULLS) OVER w AS prior_view_ts_us,
            last_value(CASE WHEN event_type = 'view' THEN event_id END
              IGNORE NULLS) OVER w AS prior_view_id
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
        WHERE event_type = 'purchase' ORDER BY event_id"""))
  )
}
