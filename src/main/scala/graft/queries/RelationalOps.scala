package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.Carriers.{micros, microsSql}
import graft.operators.OrderedOps
import graft.sources.BucketedStore

/** Relational operator coverage over the TPC-H-ish tables: scans, projection/
  * rename/filter/conditionals (P*), casts & scalar functions (C*), sorts (O*),
  * aggregation (A9-ish), joins incl. semi/anti (J*), set ops (U1), window
  * functions and top-k (E6).
  *
  * Float policy: every SUM over data-sized inputs goes through
  * DECIMAL(18,6) — exact in both engines regardless of partial-aggregation
  * order — and is emitted as hash-stable BIGINT micro-units
  * ([[graft.functions.Carriers]]; SURVEY.md §7.4 risk 4).
  */
object RelationalOps {

  private def dec(c: String) = col(c).cast("decimal(18,6)")

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1 shape: the flagship scan→filter→agg (S3, P6, A9, O2)
    QueryDef("q1_pricing_summary",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          micros(sum(dec("l_quantity"))).as("sum_qty_micros"),
          micros(sum(dec("l_extendedprice"))).as("sum_base_price_micros"),
          micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
            .cast("decimal(28,12)"))).as("sum_disc_price_micros"),
          round(sum(dec("l_quantity")).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_qty"),
          round(sum(dec("l_discount")).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${microsSql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS sum_qty_micros,
        ${microsSql("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS sum_base_price_micros,
        ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS sum_disc_price_micros,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // J1-J3 shape: star join with broadcast dims, grouped rollup per region
    QueryDef("j1_star_join_revenue",
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          micros(sum(dec("o_totalprice"))).as("revenue_micros"))
        .orderBy("r_name"),
      Some(s"""SELECT r_name, count(*) AS n_orders,
        ${microsSql("sum(CAST(o_totalprice AS DECIMAL(18,6)))")} AS revenue_micros
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // TPC-H Q3 shape: selective multi-join + agg + global top-k
    QueryDef("j2_shipping_priority",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
            .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,12)"))).as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("l_orderkey"))
        .limit(10),
      Some(s"""SELECT l_orderkey, o_orderdate,
        ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1997-06-01'
          AND o_orderdate < TIMESTAMP '1997-06-01'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue_micros DESC, l_orderkey LIMIT 10""")),

    // skew-salted join (orders fact salted on o_orderkey, customer dim
    // replicated ×8; join key becomes (custkey, salt) so one hot customer
    // spreads over 8 shuffle partitions). The oracle is the PLAIN join —
    // identical results are the correctness proof that salting is a pure
    // physical rewrite. The broadcast hint is deliberately absent: the
    // point is the shuffle-join shape.
    QueryDef("j4_salted_join",
      (s, dir) => {
        val joined = graft.operators.SkewOps.saltedEquiJoin(
          Tables.orders(s, dir).withColumnRenamed("o_custkey", "custkey"),
          Tables.customer(s, dir).withColumnRenamed("c_custkey", "custkey"),
          "custkey", col("o_orderkey"), buckets = 8)
        joined.groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            micros(sum(dec("o_totalprice"))).as("revenue_micros"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, count(*) AS n_orders,
        ${microsSql("sum(CAST(o_totalprice AS DECIMAL(18,6)))")} AS revenue_micros
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // semi/anti joins (EXISTS / NOT EXISTS)
    QueryDef("j3_semi_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
        val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_orders"))
        withO.join(withoutO, Seq("c_nationkey"), "full_outer")
          .select(col("c_nationkey"),
            coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
            coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey,
        count(*) FILTER (WHERE EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
        count(*) FILTER (WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
        FROM customer GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    // U1: union-by-name with missing-column NULL fill
    QueryDef("u1_union_by_name",
      (s, dir) => {
        val c = Tables.customer(s, dir).select(
          col("c_custkey").as("id"), col("c_acctbal").as("acctbal"),
          lit("customer").as("src"), col("c_mktsegment").as("segment"))
        val p = Tables.supplier(s, dir).select(
          col("s_suppkey").as("id"), col("s_acctbal").as("acctbal"),
          lit("supplier").as("src"))
        c.unionByName(p, allowMissingColumns = true)
          .groupBy("src")
          .agg(count(lit(1)).as("n"),
            micros(sum(dec("acctbal"))).as("total_bal_micros"),
            sum(when(col("segment").isNull, 1).otherwise(0)).as("n_null_segment"))
          .orderBy("src")
      },
      Some(s"""WITH u AS (
        SELECT c_custkey AS id, c_acctbal AS acctbal, 'customer' AS src,
               c_mktsegment AS segment FROM customer
        UNION ALL BY NAME
        SELECT s_suppkey AS id, s_acctbal AS acctbal, 'supplier' AS src
        FROM supplier)
        SELECT src, count(*) AS n,
          ${microsSql("sum(CAST(acctbal AS DECIMAL(18,6)))")} AS total_bal_micros,
          count(*) FILTER (WHERE segment IS NULL) AS n_null_segment
        FROM u GROUP BY src ORDER BY src""")),

    // U2: INTERSECT / EXCEPT set semantics (distinct-based, like SQL):
    // customers active in BOTH halves of 1997 vs ONLY the first half
    QueryDef("u2_intersect_except",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val h1 = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
          .select("o_custkey")
        val h2 = o.filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_custkey")
        val both = h1.intersect(h2).agg(count(lit(1)).as("n_both"))
        val onlyH1 = h1.except(h2).agg(count(lit(1)).as("n_only_h1"))
        both.crossJoin(onlyH1)
      },
      Some("""WITH h1 AS (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-07-01'),
        h2 AS (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-07-01'
            AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT
          (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2) t) AS n_both,
          (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2) t) AS n_only_h1""")),

    // M1: keyed upsert (SCD-1 merge) — updates override matching keys
    // (doubled price for orderkey%5=0), new keys insert (shifted ids for
    // orderkey%7=3). One-shuffle union+keeper in the engine; the oracle is
    // the textbook FULL OUTER JOIN + COALESCE merge — identical results
    // prove the window-keeper formulation.
    QueryDef("m1_upsert",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val updates = o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") % 7 === 3)
            .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        graft.operators.Upsert(o, updates, Seq("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            micros(sum(dec("o_totalprice"))).as("total_micros"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH b AS (SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM orders),
        upd AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice
          FROM b WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
          FROM b WHERE o_orderkey % 7 = 3),
        merged AS (SELECT
            coalesce(u.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
            coalesce(u.o_totalprice, b.o_totalprice) AS tp
          FROM b FULL OUTER JOIN upd u USING (o_orderkey))
        SELECT o_orderpriority, count(*) AS n,
          ${microsSql("sum(CAST(tp AS DECIMAL(18,6)))")} AS total_micros
        FROM merged GROUP BY 1 ORDER BY 1""")),

    // P6-P10 + C6-C11: filters, conditional bands, scalar string/number funcs
    QueryDef("p1_case_bands",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "N") &&
          col("l_linestatus").contains("F"))
        .withColumn("qty_band",
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid")
            .otherwise("high"))
        .groupBy("l_returnflag", "qty_band")
        .agg(count(lit(1)).as("n"),
          micros(sum(dec("l_extendedprice"))).as("total_price_micros"),
          round(min("l_discount"), 2).as("min_disc"),
          round(max("l_tax"), 2).as("max_tax"))
        .orderBy("l_returnflag", "qty_band"),
      Some(s"""SELECT l_returnflag,
        CASE WHEN l_quantity < 10 THEN 'low'
             WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
        count(*) AS n,
        ${microsSql("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS total_price_micros,
        round(min(l_discount), 2) AS min_disc, round(max(l_tax), 2) AS max_tax
        FROM lineitem
        WHERE l_returnflag IN ('A','N') AND contains(l_linestatus, 'F')
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("c1_scalar_funcs",
      (s, dir) => Tables.part(s, dir)
        .filter(col("p_partkey") <= 100)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_up"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          length(col("p_name")).cast(LongType).as("name_len"),
          substring(col("p_type"), 1, 4).as("type_prefix"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          (col("p_size").cast(LongType) * 2 + 1).as("size_calc"),
          round(col("p_retailprice") * 100, 0).cast(LongType).as("price_cents"),
          abs(-col("p_retailprice")).as("price_abs"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS brand_up,
        regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        length(p_name) AS name_len,
        substring(p_type, 1, 4) AS type_prefix,
        concat_ws('|', p_brand, p_type) AS brand_type,
        CAST(p_size AS BIGINT) * 2 + 1 AS size_calc,
        CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
        abs(-p_retailprice) AS price_abs
        FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""")),

    // C2-C4: datetime extraction and truncation
    QueryDef("c2_datetime_parts",
      (s, dir) => Tables.orders(s, dir)
        .select(year(col("o_orderdate")).cast(LongType).as("y"),
          month(col("o_orderdate")).cast(LongType).as("m"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
          col("o_totalprice"))
        .groupBy("y", "m")
        .agg(count(lit(1)).as("n"),
          micros(sum(dec("o_totalprice"))).as("monthly_total_micros"),
          max("d").as("max_day"))
        .orderBy("y", "m"),
      Some(s"""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        count(*) AS n,
        ${microsSql("sum(CAST(o_totalprice AS DECIMAL(18,6)))")} AS monthly_total_micros,
        max(day(o_orderdate)) AS max_day
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")),

    // O1/O2 + P10: global sort + limit (top-N scan)
    QueryDef("o1_top_orders",
      (s, dir) => Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // window functions: rank / lag / running totals per group
    QueryDef("w1_running_window",
      (s, dir) => {
        val w = OrderedOps.ordered(Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 100)
          .withColumn("seq", row_number().over(w).cast(LongType))
          .withColumn("prev_diff",
            col("o_totalprice") - lag("o_totalprice", 1).over(w))
          .withColumn("run_total_micros",
            micros(sum(dec("o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .select("o_orderkey", "o_custkey", "seq", "prev_diff", "run_total_micros")
          .orderBy("o_custkey", "seq")
      },
      Some(s"""SELECT o_orderkey, o_custkey,
        row_number() OVER w AS seq,
        o_totalprice - lag(o_totalprice) OVER w AS prev_diff,
        ${microsSql("""sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")} AS run_total_micros
        FROM orders WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, seq""")),

    // rank-family window functions over a unique ordering (ties impossible
    // → cross-engine deterministic): quartiles, relative ranks
    QueryDef("w2_rank_family",
      (s, dir) => {
        val w = OrderedOps.ordered(Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 50)
          .select(col("o_orderkey"), col("o_custkey"),
            ntile(4).over(w).cast(LongType).as("quartile"),
            dense_rank().over(w).cast(LongType).as("drank"),
            round(percent_rank().over(w), 6).as("prank"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
        ntile(4) OVER w AS quartile,
        dense_rank() OVER w AS drank,
        round(percent_rank() OVER w, 6) AS prank,
        round(cume_dist() OVER w, 6) AS cdist
        FROM orders WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // E6: top-k per group
    QueryDef("e6_topk_per_group",
      (s, dir) => OrderedOps.topKPerGroup(
          Tables.orders(s, dir).filter(col("o_custkey") < 200),
          Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .withColumn("rank", col("rank").cast(LongType))
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rank"),
      Some("""SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders WHERE o_custkey < 200) t
        WHERE rank <= 3 ORDER BY o_custkey, rank""")),

    // TPC-H Q17 shape: correlated scalar subquery (rows below 20% of their
    // group's average). Spark-first spelling is the DECORRELATED form — one
    // per-key aggregate joined back on the key (a single key shuffle; at
    // scale the stats side is tiny-per-key and AQE picks the join strategy)
    // — while the oracle keeps the textbook correlated subqueries, proving
    // the rewrite. The threshold compare is exact integer/decimal math
    // (q·5·cnt < sum, not q < 0.2·avg) so no float boundary can flip a row
    // between engines.
    QueryDef("j5_correlated",
      (s, dir) => {
        val lq = Tables.lineitem(s, dir).select(col("l_partkey"),
          dec("l_quantity").as("q"), col("l_extendedprice"))
        val stats = lq.groupBy("l_partkey")
          .agg(sum("q").as("sumq"), count(lit(1)).as("cnt"))
        // deliberate SHUFFLE_HASH build on the part-grain stats side
        // (§3.1): the default SortMergeJoin sorted BOTH sides — the
        // line-grain probe sort is the expensive one — when the build side
        // is one row per part (per-partition build = parts/width, bounded
        // at any scale by partition sizing). Same inner equi-join,
        // identical rows; plan drops both join-side Sorts. 100× pin is
        // NEUTRAL on local[32] (12.0 → 12.1 warm — the row is bound by its
        // two lineitem exchanges there); kept because the removed probe-side
        // sort is per-task CPU the local pin simply doesn't isolate, and
        // the strictly-smaller plan carries no new data-sized cost.
        lq.join(stats.hint("shuffle_hash"), "l_partkey")
          .filter(col("q") * 5 * col("cnt") < col("sumq"))
          .agg(micros(sum(dec("l_extendedprice"))).as("total_micros"),
            count(lit(1)).as("n_below"))
      },
      Some(s"""SELECT
        ${microsSql("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS total_micros,
        count(*) AS n_below
        FROM lineitem l1
        WHERE CAST(l_quantity AS DECIMAL(18,6)) * 5 *
            (SELECT count(*) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT sum(CAST(l_quantity AS DECIMAL(18,6))) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)""")),

    // TPC-H Q2 shape: min-per-group correlated subquery over a 4-table dim
    // chain — "for each small part, the EUROPE supplier(s) hitting the
    // minimum offer cost" (offers stand in for partsupp, which this testdata
    // lacks: the min offer per (part, supplier) from lineitem). Spark-first
    // spelling decorrelates the scalar subquery into a per-part window min
    // over the region-filtered offer table — ONE extra hash exchange on
    // l_partkey, no join-back — with EQUALITY keeping all tied suppliers,
    // as Q2 requires. The part filter pushes below the aggregate (per-part
    // min is untouched by which parts survive); supplier/nation/region and
    // part ride broadcasts. Cost is exact integer cents. The oracle keeps
    // the textbook correlated scalar subquery, proving the rewrite.
    QueryDef("j10_min_cost_region",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0).cast(LongType)
        val euSup = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"))
        val smallParts = Tables.part(s, dir).filter(col("p_size") <= 15)
          .select(col("p_partkey"))
        val offers = Tables.lineitem(s, dir)
          .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(euSup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"), col("s_name"))
          .agg(min(cents).as("cost_cents"))
        val w = Window.partitionBy("l_partkey")
        offers
          .withColumn("min_cents", min("cost_cents").over(w))
          .filter(col("cost_cents") === col("min_cents"))
          .select(col("l_partkey").as("p_partkey"), col("s_name"),
            col("cost_cents"))
          .orderBy("p_partkey", "s_name")
      },
      Some("""WITH offers AS (SELECT l_partkey AS pk, l_suppkey AS sk,
            min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
          FROM lineitem GROUP BY 1, 2),
        eo AS (SELECT o.pk, o.sk, o.cost_cents FROM offers o
          JOIN supplier ON o.sk = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE')
        SELECT p_partkey, s_name, cost_cents
        FROM eo JOIN part ON eo.pk = p_partkey
          JOIN supplier ON eo.sk = s_suppkey
        WHERE p_size <= 15
          AND cost_cents = (SELECT min(e2.cost_cents) FROM eo e2
                            WHERE e2.pk = eo.pk)
        ORDER BY p_partkey, s_name""")),

    // TPC-H Q20 shape: nested semi-join gated by an aggregate threshold —
    // "suppliers who shipped MORE THAN HALF of some interesting part's 1995
    // volume" (shipped shares stand in for partsupp availability). The
    // textbook form nests an IN (parts by name) inside an aggregate compare
    // inside a supplier semi-join; the Spark-first spelling decorrelates to
    // one (part, supplier) aggregate, a per-part window total (the second
    // grain, no join-back), an integer-exact 2·qty > total gate, and a
    // broadcast part semi-join pushed BELOW both aggregates (per-part
    // totals are untouched by which parts survive). Supplier join is a
    // broadcast; the only wide shuffles are the two l_partkey-family
    // exchanges.
    QueryDef("j11_excess_share",
      (s, dir) => {
        val qty = round(col("l_quantity"), 0).cast(LongType)
        val interesting = Tables.part(s, dir)
          .filter(col("p_name").like("%a%")).select(col("p_partkey"))
        val shipped = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
          .join(broadcast(interesting), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(qty).as("qty"))
        val w = Window.partitionBy("l_partkey")
        val flagged = shipped
          .withColumn("total", sum("qty").over(w))
          .filter(col("qty") * 2 > col("total"))
        flagged
          .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(count(lit(1)).as("n_flagged"))
          .orderBy("s_suppkey")
      },
      Some("""WITH shipped AS (SELECT l_partkey AS pk, l_suppkey AS sk,
            CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1996-01-01' GROUP BY 1, 2),
        excess AS (SELECT sk FROM shipped s1
          WHERE s1.qty * 2 > (SELECT sum(s2.qty) FROM shipped s2
                              WHERE s2.pk = s1.pk)
            AND s1.pk IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%a%'))
        SELECT s_suppkey, s_name, count(*) AS n_flagged
        FROM supplier JOIN excess ON s_suppkey = sk
        GROUP BY 1, 2 ORDER BY s_suppkey""")),

    // TPC-H Q15 shape: max over an aggregated view, ties kept — "the
    // supplier(s) with the highest quarterly revenue". The textbook form
    // compares each view row against a scalar max-subquery over the same
    // view; a naive join-back against a separate rev.agg(max) plants TWO
    // copies of the view in the plan (the subtrees differ by a join-null
    // filter, so AQE's stage cache can't merge them and the fact table is
    // scanned + shuffled twice — measured on this exact query). The
    // Spark-first spelling instead takes the global max as an
    // empty-partition window OVER the aggregated view: the fact table is
    // scanned and shuffled exactly once (the l_suppkey agg exchange), and
    // only the supplier-grain view rows gather on one partition for the
    // max — a global-reduce the query semantically requires anyway.
    // Equality (not rank/limit) keeps every tied supplier, as Q15
    // requires. Revenue is exact decimal micros end to end. The oracle
    // keeps the textbook scalar-subquery spelling, proving the rewrite.
    QueryDef("j12_top_revenue_supplier",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
            .cast("decimal(28,12)"))).as("total_revenue_micros"))
        rev
          .withColumn("mx", max("total_revenue_micros")
            .over(Window.partitionBy()))
          .filter(col("total_revenue_micros") === col("mx"))
          .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue_micros"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH revenue AS (SELECT l_suppkey AS supplier_no,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
            AS total_revenue_micros
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue_micros
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue_micros = (SELECT max(total_revenue_micros)
                                      FROM revenue)
        ORDER BY s_suppkey""")),

    // TPC-H Q22 shape: anti-join + scalar-avg subquery with substring
    // predicates — "above-average-balance customers in selected country
    // codes with no RECENT order" (this testdata's customers all have at
    // least one order ever, so dormant = no order since 1999; the shape —
    // NOT EXISTS against the fact table — is unchanged). The textbook form
    // correlates a NOT EXISTS and compares against a scalar avg-subquery;
    // the Spark-first spelling reduces the code-filtered positive balances
    // to ONE row, broadcast-crosses it back, and gates with the integer-
    // exact product form bal·n > sum (avg never materializes — same
    // decimal-division dodge as j5), then a shuffle LEFT ANTI on custkey
    // against the date-pruned orders scan. The substring code extraction is
    // row-local; the only wide exchange is the anti-join's.
    QueryDef("j13_dormant_customers",
      (s, dir) => {
        val codes = Seq("02", "03", "23", "30", "31", "10", "15")
        val cu = Tables.customer(s, dir)
          .withColumn("cntrycode", substring(col("c_name"), -2, 2))
          .filter(col("cntrycode").isin(codes: _*))
          .select(col("c_custkey"), col("cntrycode"),
            dec("c_acctbal").as("bal"))
        val pos = cu.filter(col("bal") > 0)
          .agg(sum("bal").as("sum_pos"), count(lit(1)).as("n_pos"))
        cu.crossJoin(broadcast(pos))
          .filter(col("bal") * col("n_pos") > col("sum_pos"))
          .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("cntrycode")
          .agg(count(lit(1)).as("numcust"),
            micros(sum(col("bal"))).as("totacctbal_micros"))
          .orderBy("cntrycode")
      },
      Some(s"""WITH cu AS (SELECT right(c_name, 2) AS cntrycode, c_custkey,
            CAST(c_acctbal AS DECIMAL(18,6)) AS bal
          FROM customer
          WHERE right(c_name, 2) IN ('02','03','23','30','31','10','15'))
        SELECT cntrycode, count(*) AS numcust,
          ${microsSql("sum(bal)")} AS totacctbal_micros
        FROM cu c
        WHERE bal * (SELECT count(*) FROM cu WHERE bal > 0)
            > (SELECT sum(bal) FROM cu WHERE bal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c.c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode ORDER BY cntrycode""")),

    // TPC-H Q18 shape: large-volume orders — the aggregate-then-join-back
    // form (HAVING on the grouped fact, then the dims). Spark-first: ONE
    // partial-aggregated key shuffle over the fact, the > threshold filter
    // prunes it to a tiny order set BEFORE any join (so the joins are
    // broadcast-sized regardless of fact size), and the global top-100 is
    // TakeOrderedAndProject — never a full sort. Quantities are
    // integer-valued doubles, so the sum is exact in both engines (the
    // q1_pricing_summary argument).
    QueryDef("j14_big_orders",
      (s, dir) => {
        val big = Tables.lineitem(s, dir).groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 250.0)
        Tables.orders(s, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate"),
            col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          o_totalprice, total_qty
        FROM orders
        JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1
          HAVING sum(l_quantity) > 250) big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""")),

    // TPC-H Q7 shape: volume shipping between two nations — ONE fact row
    // reaches TWO independent dimension paths (lineitem→supplier→nation and
    // lineitem→orders→customer→nation) with a correlated cross-pair
    // predicate over the pair of dim attributes. Spark-first shape: the
    // nation filter is pushed INTO each dimension before it ever meets the
    // fact (supplier/customer shrink to 2/25 nations, so the inner joins
    // prune fact rows early); the two filtered dims broadcast, the only
    // fact-sized exchange is lineitem⋈orders on orderkey, and the residual
    // disjunction merely drops the two same-nation combinations. Revenue in
    // the exact decimal micro carrier (j2's idiom).
    QueryDef("j15_volume_shipping",
      (s, dir) => {
        val natPair = broadcast(Tables.nation(s, dir)
          .filter(col("n_name").isin("NATION_3", "NATION_7")))
        val supp = broadcast(Tables.supplier(s, dir)
          .join(natPair, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
        val cust = broadcast(Tables.customer(s, dir)
          .join(natPair, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation")))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(micros(sum((dec("l_extendedprice")
              * (lit(1) - dec("l_discount"))).cast("decimal(28,12)")))
            .as("revenue_micros"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          year(l_shipdate) AS l_year,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_3', 'NATION_7')
          AND n2.n_name IN ('NATION_3', 'NATION_7')
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // J16: fact⋈fact over bucketed storage — the co-located join strategy
    // the catalog's broadcast rows don't cover. Both sides are served from
    // bucketed+sorted tables ([[graft.sources.BucketedStore]]: the shuffle
    // paid once at write time), so the order-key join planned here needs NO
    // Exchange and NO per-query Sort — at 100 TB that turns every
    // lineitem⋈orders from a 2×full-shuffle into a scan-side zip. The merge
    // hint encodes the deployment posture (neither side broadcastable);
    // PlanSpec pins the shuffle-free/sort-free property. The oracle is the
    // plain join over the raw parquet — bucketing is purely physical.
    QueryDef("j16_bucketed_revenue",
      (s, dir) => {
        def bkt(table: String, bucketCol: String, df: DataFrame) =
          BucketedStore.ensure(s, table, Tables.key(dir, Seq(table)),
            bucketCol, 16)(df)
        val li = bkt("lineitem", "l_orderkey", Tables.lineitem(s, dir))
        val ord = bkt("orders", "o_orderkey", Tables.orders(s, dir))
        li.hint("merge").join(ord.hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            micros(sum((dec("l_extendedprice")
                * (lit(1) - dec("l_discount"))).cast("decimal(28,12)")))
              .as("revenue_micros"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q8 shape: national market share — the conditional-aggregation
    // ratio (share = Σ vol·[supp_nation=N] / Σ vol) over a join tree where
    // the fact reaches FOUR dimension paths (part type, order date window,
    // customer→nation→region market filter, supplier→nation share
    // attribution). Spark-first: every dim filter prunes its dim BEFORE the
    // fact join (part-type and ASIA-customer shrink the fact early), all
    // dims broadcast, both sums ride one partial-aggregated shuffle on
    // o_year, and the ratio divides two exact decimal micro carriers at the
    // very end (double division of identical operands — engine-stable).
    QueryDef("j17_market_share",
      (s, dir) => {
        val asiaCust = broadcast(Tables.customer(s, dir)
          .join(Tables.nation(s, dir),
            col("c_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey"))
        val supp = broadcast(Tables.supplier(s, dir)
          .join(Tables.nation(s, dir).select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation")),
            col("s_nationkey") === col("sn_key"))
          .select("s_suppkey", "supp_nation"))
        val pt = broadcast(Tables.part(s, dir)
          .filter(col("p_type") === "ECONOMY").select("p_partkey"))
        val vol = (dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,12)")
        Tables.lineitem(s, dir)
          .join(pt, col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
            .select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg(
            micros(sum(when(col("supp_nation") === "NATION_7", vol)
              .otherwise(lit(0).cast("decimal(28,12)")))).as("nation_vol_micros"),
            micros(sum(vol)).as("total_vol_micros"))
          .withColumn("mkt_share",
            round(col("nation_vol_micros").cast(DoubleType)
              / col("total_vol_micros").cast(DoubleType), 6))
          .orderBy("o_year")
      },
      Some(s"""WITH vols AS (SELECT year(o_orderdate) AS o_year,
            CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)) AS vol,
            n2.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT o_year,
          ${microsSql("""sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
              ELSE CAST(0 AS DECIMAL(28,12)) END)""")} AS nation_vol_micros,
          ${microsSql("sum(vol)")} AS total_vol_micros,
          round(CAST(${microsSql("""sum(CASE WHEN supp_nation = 'NATION_7'
              THEN vol ELSE CAST(0 AS DECIMAL(28,12)) END)""")} AS DOUBLE)
            / CAST(${microsSql("sum(vol)")} AS DOUBLE), 6) AS mkt_share
        FROM vols GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q9 shape: product-line profit by nation and year — a LIKE
    // predicate on the part name (pushed to the parquet scan as a
    // StringContains filter, so the fact join starts from the pruned part
    // set) through a 4-way join, grouped on a dim attribute × a derived
    // date part. The profit measure subtracts two exact decimal products
    // (revenue − retail-valued cost) inside the decimal carrier, so
    // partial-aggregation order can't perturb it. Only fact-sized exchange:
    // lineitem⋈orders on the order key; part and supplier→nation broadcast.
    QueryDef("j18_nation_profit",
      (s, dir) => {
        val pt = broadcast(Tables.part(s, dir)
          .filter(col("p_name").contains("gear"))
          .select("p_partkey", "p_retailprice"))
        val supp = broadcast(Tables.supplier(s, dir)
          .join(Tables.nation(s, dir),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
        val amount = (dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,12)")
          .minus((dec("p_retailprice") * dec("l_quantity"))
            .cast("decimal(28,12)"))
        Tables.lineitem(s, dir)
          .join(pt, col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("supp_nation"),
            year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg(count(lit(1)).as("n"),
            micros(sum(amount)).as("profit_micros"))
          .orderBy(col("supp_nation"), col("o_year"))
      },
      Some(s"""SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
          count(*) AS n,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12))
            - CAST(CAST(p_retailprice AS DECIMAL(18,6))
              * CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(28,12)))""")}
          AS profit_micros
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TPC-H Q10 shape: returned-item revenue by customer — a fact-attribute
    // filter (l_returnflag = 'R', pushed to the scan) pruning the fact
    // before a grouped aggregation on the CUSTOMER key (data-sized grain,
    // unlike j14's order grain), then a global top-20 on the aggregate.
    // Spark-first: one partial-aggregated shuffle on custkey over the pruned
    // fact, the customer/nation dims join AFTER aggregation (broadcast-sized
    // join input: one row per customer with revenue), and the top-20 is
    // TakeOrderedAndProject on the exact BIGINT micro carrier (revenue desc,
    // custkey tiebreak) so both engines order identically — never a sort on
    // a double.
    QueryDef("j19_returned_revenue",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
            .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(micros(sum((dec("l_extendedprice")
              * (lit(1) - dec("l_discount"))).cast("decimal(28,12)")))
            .as("revenue_micros"))
        rev.join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, dir),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("revenue_micros"))
          .orderBy(col("revenue_micros").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""WITH rev AS (SELECT o_custkey,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1)
        SELECT c_custkey, c_name, n_name, revenue_micros
        FROM rev JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue_micros DESC, c_custkey LIMIT 20""")),

    // S11: ORC scan — the other columnar format a mixed estate serves. The
    // fixture is copied to ORC ONCE per (fixture, format) via the
    // persisted-artifact path, then the query runs entirely off the ORC
    // files: same pushdown machinery as parquet (the shipdate range
    // reaches the ORC reader as a pushed filter — PlanSpec pins it), same
    // results by construction, which is exactly what the oracle checks
    // (the DuckDB side reads the registered parquet table — a hash match
    // proves the ORC path byte-equivalent).
    QueryDef("s11_orc_scan",
      (s, dir) => {
        val path = Tables.persistedArtifactPath(s, "graft_fmt",
          Tables.key(dir, Seq("lineitem")), format = "orc")(
          Tables.lineitem(s, dir))
        s.read.orc(path)
          .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            micros(sum((dec("l_extendedprice")
                * (lit(1) - dec("l_discount"))).cast("decimal(28,12)")))
              .as("revenue_micros"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, count(*) AS n,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // S12: JSON-lines scan with an EXPLICIT schema — the landing format of
    // half the world's event feeds. The fixture's events land as JSON once
    // per (fixture, format); the read supplies the schema up front, so
    // there is NO inference pass (at 100 TB schema inference is a full
    // extra scan — the single most common accidental 2× in JSON
    // pipelines). Aggregation in the exact micro carrier; oracle over the
    // registered parquet events proves the JSON round-trip lossless for
    // longs, strings, and doubles.
    QueryDef("s12_json_scan",
      (s, dir) => {
        val path = Tables.persistedArtifactPath(s, "graft_fmt",
          Tables.key(dir, Seq("events")), format = "json")(
          Tables.events(s, dir)
            .select("event_id", "user_id", "event_type", "value"))
        s.read.schema(
            "event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
          .json(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            micros(sum(dec("value"))).as("value_micros"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, count(*) AS n,
          ${microsSql("sum(CAST(value AS DECIMAL(18,6)))")} AS value_micros
        FROM events GROUP BY 1 ORDER BY 1""")),

    // R5: unpivot/melt — wide metrics to (key, metric, value) long form, the
    // inverse of r2_pivot. Map-side only (each input row emits k output
    // rows, no shuffle). Oracle is the portable UNION ALL spelling.
    QueryDef("r5_unpivot",
      (s, dir) => Tables.part(s, dir)
        .filter(col("p_partkey") <= 50)
        .select(col("p_partkey"),
          col("p_size").cast(DoubleType).as("size"),
          col("p_retailprice").as("retail"),
          length(col("p_name")).cast(DoubleType).as("name_len"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retail"), col("name_len")),
          "metric", "value")
        .orderBy("p_partkey", "metric"),
      Some("""SELECT p_partkey, metric, value FROM (
          SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
            FROM part WHERE p_partkey <= 50
          UNION ALL SELECT p_partkey, 'retail', p_retailprice
            FROM part WHERE p_partkey <= 50
          UNION ALL SELECT p_partkey, 'name_len', CAST(length(p_name) AS DOUBLE)
            FROM part WHERE p_partkey <= 50) t
        ORDER BY p_partkey, metric""")),

    // R6: explicit GROUPING SETS with grouping_id — the general form behind
    // r1_rollup/r4_cube (one pass, Expand feeds a single partial-aggregated
    // shuffle). gid disambiguates "grouped-out" from "genuinely NULL key".
    // Same finest-grain pre-aggregation as r1_rollup/r4_cube: every declared
    // set is a subset of (l_returnflag, l_linestatus), so folding the fact
    // to that grain first is exact (Σ of pre-counts / pre-sums) and the
    // 3-way Expand runs over ≤6 rows instead of the fact.
    QueryDef("r6_grouping_sets",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pre_n"), sum(dec("l_quantity")).as("pre_qty"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("gid"),
          sum(col("pre_n")).as("n"),
          micros(sum(col("pre_qty"))).as("qty_micros"))
        .select("gid", "l_returnflag", "l_linestatus", "n", "qty_micros")
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      Some(s"""SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        l_returnflag, l_linestatus, count(*) AS n,
        ${microsSql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS qty_micros
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus""")),

    // S6/C12: multi-source scan with per-file provenance. Fold to per-FILE
    // counts first (partial agg collapses to ~1 row per file per partition
    // map-side), THEN regex the handful of per-file rows into source names:
    // O(files) regex evaluations instead of O(rows) — at sf0.1 that is ~2
    // regex calls instead of 1.2M, and at 100 TB it is thousands instead of
    // trillions. Same result; the per-row spelling measured 1.3-5 s in
    // BENCH_r03, this one ~0.6 s.
    QueryDef("s6_source_tagging",
      (s, dir) => {
        def perFile(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("fn"))
          .groupBy(regexp_extract(col("f"), "([a-z]+)\\.parquet", 1).as("src"))
          .agg(sum("fn").as("n"))
        perFile(Tables.events(s, dir))
          .unionByName(perFile(Tables.lineitem(s, dir)))
          .orderBy("src")
      },
      Some("""SELECT 'events' AS src, count(*) AS n FROM events
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem ORDER BY src""")),

    // J7: TPC-H Q13 shape — customer order-count distribution. The LEFT
    // outer join keeps zero-order customers (count(o_orderkey) counts only
    // matched rows, so they land in the c_count=0 bucket — the row an inner
    // join silently drops). Scale shape: the filter prunes orders BEFORE the
    // join; the per-customer count rides the join's existing hash
    // partitioning on custkey (no second exchange — Catalyst reuses the
    // output partitioning); the distribution agg then moves only
    // |distinct c_count| ≈ dozens of rows.
    QueryDef("j7_custdist",
      (s, dir) => {
        val c = Tables.customer(s, dir).select("c_custkey")
        val o = Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) t
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // S10: the SQL-TEXT surface — the same engine through spark.sql over
    // registered views (parser → analyzer → the identical Catalyst plan),
    // proving a SQL-only user gets the DataFrame API's results verbatim:
    // CTE, window function, and aggregate in one statement. The oracle is
    // near-identical SQL, which is the point.
    QueryDef("s10_sql_text",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_v")
        s.sql("""
          WITH r AS (
            SELECT o_custkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders_v)
          SELECT o_custkey,
                 count(*) AS n_orders,
                 CAST(CAST(round(max(o_totalprice), 6) AS DECIMAL(30,6))
                   * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS top_micros
          FROM r WHERE rk <= 3 AND o_custkey < 200
          GROUP BY o_custkey ORDER BY o_custkey""")
      },
      Some("""WITH r AS (
          SELECT o_custkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
        SELECT o_custkey, count(*) AS n_orders,
          CAST(CAST(round(max(o_totalprice), 6) AS DECIMAL(30,6))
            * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS top_micros
        FROM r WHERE rk <= 3 AND o_custkey < 200
        GROUP BY o_custkey ORDER BY o_custkey""")),

    // U3: BAG set operations — intersectAll / exceptAll keep multiplicity
    // (u2's INTERSECT/EXCEPT collapse to distinct): a customer with 3 H1
    // orders and 1 H2 order contributes min(3,1)=1 to the intersection and
    // 3−1=2 to the difference. The per-key multiplicity accounting is what
    // reconciliation over non-deduplicated feeds actually needs.
    QueryDef("u3_bag_ops",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val h1 = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
          .select("o_custkey")
        val h2 = o.filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_custkey")
        h1.intersectAll(h2).agg(count(lit(1)).as("n_inter_all"))
          .crossJoin(h1.exceptAll(h2).agg(count(lit(1)).as("n_except_all")))
      },
      Some("""WITH h1 AS (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-07-01'),
        h2 AS (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-07-01'
            AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT
          (SELECT count(*) FROM
            (SELECT * FROM h1 INTERSECT ALL SELECT * FROM h2) a) AS n_inter_all,
          (SELECT count(*) FROM
            (SELECT * FROM h1 EXCEPT ALL SELECT * FROM h2) b) AS n_except_all""")),

    // W7: gaps-and-islands — the longest CONSECUTIVE same-type run per user
    // (session streaks, sensor-state runs): the classic rn − rn_per_type
    // trick turns consecutive equal values into a constant group key, all
    // inside the one user_id shuffle (three windows + an agg share it).
    QueryDef("w7_islands",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val wt = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"), col("event_id"))
          .withColumn("grp",
            row_number().over(w) - row_number().over(wt))
          .groupBy("user_id", "event_type", "grp")
          .agg(count(lit(1)).as("run_len"))
          .groupBy("user_id")
          .agg(max("run_len").as("longest_run"),
            min_by(col("event_type"), struct((-col("run_len")).as("nr"),
              col("event_type"))).as("run_type"))
          .orderBy("user_id")
      },
      Some("""WITH r AS (SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id)
            - row_number() OVER (PARTITION BY user_id, event_type
              ORDER BY epoch_us(ts), event_id) AS grp
          FROM events),
        runs AS (SELECT user_id, event_type, grp, count(*) AS run_len
          FROM r GROUP BY 1, 2, 3)
        SELECT user_id, max(run_len) AS longest_run,
          (SELECT event_type FROM runs i WHERE i.user_id = o.user_id
           ORDER BY run_len DESC, event_type LIMIT 1) AS run_type
        FROM runs o GROUP BY user_id ORDER BY user_id""")),

    // Q3: TPC-H Q14 shape — promo revenue share per order month: a join +
    // CONDITIONAL aggregate ratio (the numerator is a filtered slice of the
    // same sum), grouped on a derived calendar key. Exact decimal carriers
    // for both sums; the ratio divides once at output.
    QueryDef("q3_promo_share",
      (s, dir) => {
        val rev = (dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,12)")
        // deliberate SHUFFLE_HASH build on the orders side (§3.1): the
        // default SortMergeJoin paid a full sort of BOTH the line-grain and
        // order-grain sides; the build side here is two narrow columns
        // (o_orderkey, o_orderdate), so the per-partition hash relation is
        // orders/width — bounded at any scale by partition sizing.
        // Same inner equi-join, identical rows; 100× pin 5.1 → 3.9 s warm,
        // plan drops both join-side Sorts.
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir).hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"))
          .agg(
            micros(sum(when(col("p_type") === "PROMO", rev))).as("promo_micros"),
            micros(sum(rev)).as("total_micros"))
          .withColumn("promo_share",
            round(col("promo_micros").cast(DoubleType)
              / col("total_micros"), 6))
          .orderBy("yr", "mo")
      },
      Some(s"""SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
          ${microsSql("""sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12))
            END)""")} AS promo_micros,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
            * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
            AS total_micros,
          round(CAST(${microsSql("""sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12))
            END)""")} AS DOUBLE)
            / ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")},
            6) AS promo_share
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2 ORDER BY yr, mo""")),

    // J9: TPC-H Q19 shape — a DISJUNCTION of predicate bundles in the join
    // condition. The optimizer test: Catalyst must extract the common
    // p_partkey = l_partkey equi-key into a HASH join and keep only the OR
    // residual as a post-join filter — the naive reading is a nested-loop
    // join, quadratic at any scale (PlanSpec pins the hash join). Revenue
    // rides the q1 decimal carrier.
    QueryDef("j9_disjunctive",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val p = Tables.part(s, dir)
        val b1 = col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)
        val b2 = col("p_brand") === "Brand#17" &&
          col("p_size").between(11, 30) && col("l_quantity").between(10, 40)
        val b3 = col("p_type") === "ECONOMY" && col("p_size").between(1, 40) &&
          col("l_discount") <= 0.05
        l.join(p, col("p_partkey") === col("l_partkey") && (b1 || b2 || b3))
          .agg(count(lit(1)).as("n_lines"),
            micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
              .cast("decimal(28,12)"))).as("revenue_micros"))
      },
      Some(s"""SELECT count(*) AS n_lines,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
            * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem JOIN part ON p_partkey = l_partkey AND (
          (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 1 AND 20)
          OR (p_brand = 'Brand#17' AND p_size BETWEEN 11 AND 30
            AND l_quantity BETWEEN 10 AND 40)
          OR (p_type = 'ECONOMY' AND p_size BETWEEN 1 AND 40
            AND l_discount <= 0.05))""")),

    // W5: ratio-to-report — each nation's share of its region's revenue via
    // a window SUM over the already-aggregated nation rollup (the window
    // runs over ~|nations| rows, never the fact table; share math is exact
    // integer micros divided once at output).
    QueryDef("w5_share_of_total",
      (s, dir) => {
        val rev = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(micros(sum(dec("o_totalprice"))).as("rev_micros"))
        val w = Window.partitionBy("r_name")
        rev.withColumn("region_micros", sum("rev_micros").over(w))
          .withColumn("share", round(col("rev_micros").cast(DoubleType)
            / col("region_micros"), 6))
          .orderBy("r_name", "n_name")
      },
      Some(s"""WITH rev AS (SELECT r_name, n_name,
          ${microsSql("sum(CAST(o_totalprice AS DECIMAL(18,6)))")} AS rev_micros
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
        SELECT r_name, n_name, rev_micros,
          CAST(sum(rev_micros) OVER (PARTITION BY r_name) AS BIGINT)
            AS region_micros,
          round(CAST(rev_micros AS DOUBLE)
            / sum(rev_micros) OVER (PARTITION BY r_name), 6) AS share
        FROM rev ORDER BY r_name, n_name""")),

    // J8: TPC-H Q21 shape — suppliers who were the ONLY faulting supplier on
    // a multi-supplier order (returnflag = 'R' stands in for the reference
    // schema's receipt>commit lateness; this testdata carries no commit
    // dates). The textbook spelling is a correlated EXISTS + NOT EXISTS per
    // line; the distributed spelling decorrelates BOTH into per-order
    // windowed counts over the (order, supplier) pair table: ONE scan, a
    // map-side-combined pair agg, then a window that rides pair-sized rows
    // — measured 2× faster at 10× data than the count_distinct+join-back
    // form (whose Expand doubles every line row through its shuffle and
    // whose distinct re-scans the table). Top-10 via TakeOrderedAndProject.
    QueryDef("j8_sole_fault",
      (s, dir) => {
        // ONE pair-grain exchange instead of two (§2.4 exchange sharing,
        // the custSupp pattern): partitioning by l_orderkey up front
        // satisfies BOTH the (l_orderkey, l_suppkey) aggregate's clustering
        // (subset rule) and the order window's — the default plan exchanged
        // the pair table once on (ok, sk) for the agg and AGAIN on ok for
        // the window, two data-sized shuffles of the same rows (pair
        // multiplicity per line is ~1 on every fixture, so the partial agg
        // the (ok, sk) exchange bought collapsed nothing). 100× pin
        // 12.8 → 11.3 s warm; plan: 3 Exchange → 2, only one data-sized.
        // The width must be EXPLICIT (REPARTITION_BY_NUM, the simhash
        // precedent): a bare repartition(col) is AQE-coalescible and the
        // fused agg+sort+window stage then ran on few fat partitions —
        // measured 20.2 s, i.e. WORSE than the two-exchange baseline; the
        // explicit session width stays a deployment-tuned conf, not a
        // local[32] constant.
        val pairs = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_returnflag")
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("l_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max((col("l_returnflag") === "R").cast("int")).as("fault"))
        val w = Window.partitionBy("l_orderkey")
        pairs
          .withColumn("n_supp", count(lit(1)).over(w))
          .withColumn("n_fault_supp", sum("fault").over(w))
          .filter(col("fault") === 1 && col("n_supp") > 1 &&
            col("n_fault_supp") === 1)
          .groupBy(col("l_suppkey").as("s_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey"))
          .limit(10)
      },
      Some("""WITH po AS (SELECT l_orderkey,
            count(DISTINCT l_suppkey) AS n_supp,
            count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
              AS n_fault_supp
          FROM lineitem GROUP BY l_orderkey),
        f AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
          WHERE l_returnflag = 'R')
        SELECT l_suppkey AS s_suppkey, count(*) AS numwait
        FROM f JOIN po USING (l_orderkey)
        WHERE n_supp > 1 AND n_fault_supp = 1
        GROUP BY l_suppkey ORDER BY numwait DESC, s_suppkey LIMIT 10""")),

    // J20: TPC-H Q4 shape — priority checking: orders in a date window with
    // at least one late line, counted per priority. The plan lesson is the
    // EXISTS-as-semi-join with a CORRELATED NON-EQUI predicate riding the
    // equi key (l_orderkey = o_orderkey AND l_shipdate > o_orderdate —
    // this testdata has no commit/receipt dates, so ship-after-order is
    // the lateness stand-in). The date filter prunes the probe side BEFORE
    // the join; the semi join never multiplies fact rows, so the agg input
    // is order-sized.
    QueryDef("j20_priority_check",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        o.join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // J21: TPC-H Q5 shape — region-local supplier volume: the CYCLIC join
    // (customer→orders→lineitem→supplier, closed by c_nationkey =
    // s_nationkey) that credits revenue only when the supplier sits in the
    // customer's own nation. The cycle closure is a cheap post-join filter
    // on two already-present dim keys — never a second fact join; nation
    // and region broadcast; the one-year date filter prunes orders before
    // the fact-fact join.
    QueryDef("j21_local_supplier_volume",
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,12)"))).as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("n_name")),
      Some(s"""SELECT n_name,
        ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
          AS revenue_micros
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY revenue_micros DESC, n_name""")),

    // J22: TPC-H Q11 shape — HAVING over a GLOBAL ratio: parts whose
    // revenue exceeds 1.2× the average part's revenue (the fixtures'
    // per-part value spread tops out near 2× average at every SF, so this
    // selects a stable ~15% head). The plan lesson:
    // the threshold is a one-row scalar derived from the SAME aggregate —
    // aggregate once per part, re-aggregate the tiny per-part table for
    // the (total, n) scalar, broadcast it back as a cross join (one row —
    // no shuffle, no second fact scan). The comparison is integer-exact
    // (5·n·value > 6·total in micro-units) so both engines agree on
    // borderline rows, and SCALE-FREE — Q11's fixed fraction empties (or
    // floods) as the part key space grows with SF; a multiple-of-average
    // selects the same head shape at every scale.
    QueryDef("j22_important_parts",
      (s, dir) => {
        // the per-part table is CHECKPOINTED: it feeds both the one-row
        // scalar re-aggregate and the join probe, and without the pin the
        // fact gets scanned+aggregated twice (AQE's runtime stage reuse did
        // not fire on this shape — ProfileJ22 at 100×: 16.2 s two-scan vs
        // 12.0 s checkpointed). The materialized intermediate is PART-sized,
        // never fact-sized — the cheap side of the round-11 adjudication
        // rule for repeated derived subtrees.
        val pv = graft.operators.Ckpt.bounded(Tables.lineitem(s, dir)
          .groupBy("l_partkey")
          .agg(micros(sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
            .cast("decimal(28,12)"))).as("value_micros")))
        val total = pv.agg(sum("value_micros").as("total_micros"),
          count(lit(1)).as("n_parts"))
        pv.join(broadcast(total))
          // decimal, not long: value·n at 100× data exceeds BIGINT range
          .filter(col("value_micros").cast("decimal(38,0)") * col("n_parts") * 5 >
            col("total_micros").cast("decimal(38,0)") * 6)
          .select(col("l_partkey"), col("value_micros"))
          .orderBy(col("value_micros").desc, col("l_partkey"))
      },
      Some(s"""WITH pv AS (SELECT l_partkey,
          ${microsSql("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,12)))""")}
            AS value_micros
          FROM lineitem GROUP BY l_partkey),
        t AS (SELECT sum(value_micros) AS total_micros, count(*) AS n_parts
          FROM pv)
        SELECT l_partkey, value_micros FROM pv, t
        WHERE CAST(value_micros AS DECIMAL(38,0)) * n_parts * 5
          > CAST(total_micros AS DECIMAL(38,0)) * 6
        ORDER BY value_micros DESC, l_partkey""")),

    // J23: TPC-H Q12 shape — two-way conditional aggregation: late lines
    // per line status (shipmode stand-in; lateness = shipped after order
    // date, as in j20), split into high/low priority counts in ONE pass —
    // the CASE-inside-SUM decorrelation that replaces two filtered scans
    // with conditional aggregates over a single join.
    QueryDef("j23_priority_split",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate",
            "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > o_orderdate
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // J24: TPC-H Q16 shape — anti-joined distinct-count: how many distinct
    // suppliers serve each brand, EXCLUDING a supplier denylist (here:
    // negative account balance — this testdata has no comment field to
    // grep for complaints). The anti join runs against the SLIM distinct
    // (brand, suppkey) pair table, not the fact table, and the denylist
    // broadcasts; count(DISTINCT) then rides pair-sized rows.
    QueryDef("j24_supplier_breadth",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)
              .filter(col("p_brand") =!= "Brand#1")),
            col("l_partkey") === col("p_partkey"))
          .select("p_brand", "l_suppkey").distinct()
        val denied = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        pairs.join(broadcast(denied),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy("p_brand")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"))
      },
      Some("""SELECT p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand ORDER BY supplier_cnt DESC, p_brand"""))
  )
}
