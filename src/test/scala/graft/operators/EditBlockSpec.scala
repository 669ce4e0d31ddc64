package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Losslessness of the segment-pigeonhole blocking: nearPairs must return
  * EXACTLY the pairs the all-pairs join finds, for every threshold — on
  * fixtures engineered to stress the guarantee's edges (substitutions,
  * insertions/deletions that shift positions, length differences up to t,
  * short strings below t+1 chars, multi-byte text, duplicates). */
class EditBlockSpec extends SparkSpec {

  private def allPairs(df: DataFrame, t: Int): Set[(Long, Long, Long)] = {
    val p = df.select(col("id"), col("s"))
    p.as("a").join(p.as("b"), col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
      .filter(col("dist") <= t)
      .select(col("a.id"), col("b.id"), col("dist").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def blocked(df: DataFrame, t: Int): Set[(Long, Long, Long)] =
    EditBlock.nearPairs(df, "id", "s", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def fixture: DataFrame = {
    import spark.implicits._
    Seq(
      1L -> "the quick brown fox jumps over",
      2L -> "the quick brown fox jumps over",     // dist 0 dup
      3L -> "the quick brown fox jumped over",    // substitution + insert
      4L -> "a quick brown fox jumps over",       // prefix edit shifts all
      5L -> "the quick brown fox jumps overboard", // suffix insert, len +5
      6L -> "xhe quick brown fox jumps ovex",     // 2 substitutions at ends
      7L -> "completely unrelated content here",
      8L -> "short",                              // len 5 ≤ t for t ≥ 5
      9L -> "shirt",                              // dist 1 from short
      10L -> "sh",                                // very short
      11L -> "naïve café résumé über text",       // multi-byte
      12L -> "naive cafe resume uber text",       // accents stripped
      13L -> "",                                  // empty string
      14L -> "the quick brown fox"                // big deletion, dist > small t
    ).toDF("id", "s")
  }

  test("blocked pairs == all pairs on the edge-case fixture, several t") {
    for (t <- Seq(1, 2, 4, 6, 8)) {
      assert(blocked(fixture, t) === allPairs(fixture, t), s"t=$t")
    }
  }

  test("pair budget: audit counts exactly what the capped spelling drops, and trips on a pathological corpus") {
    import spark.implicits._
    // pathological near-dup structure: one template stamped 30×(one-char
    // variants) — a 30-member family, 435 pairs, degree 29 per member —
    // plus a handful of singletons. The budget-8 audit must TRIP, and
    // capped output must equal exact minus exactly the audited drop.
    val family = (0 until 30).map(i =>
      (i.toLong, s"template boilerplate line ${"abcdefghij".charAt(i % 10)}"))
    val singles = (100 until 110).map(i => (i.toLong, s"unique content $i xyz"))
    val df = (family ++ singles).toDF("id", "s")
    val t = 6
    val exact = EditBlock.nearPairs(df, "id", "s", t)
      .localCheckpoint()
    val nExact = exact.count()
    assert(nExact >= 435, s"fixture family produced only $nExact pairs")

    val budget = 8
    val audit = EditBlock.pairAudit(exact, budget).head()
    val (totalPairs, maxDeg, docsOver, capped) = (audit.getLong(1),
      audit.getLong(2), audit.getLong(3), audit.getLong(4))
    assert(totalPairs == nExact)
    assert(maxDeg >= 29L && docsOver >= 30L,
      s"family degrees not visible in the audit: max=$maxDeg over=$docsOver")
    assert(capped > 0L, "the pathological corpus must trip the cap")

    val kept = EditBlock.nearPairsCapped(df, "id", "s", t, budget)
      .localCheckpoint()
    assert(kept.count() == nExact - capped,
      "capped output must drop exactly the audited capped_rows")
    // every kept doc stays within its budget
    val degs = kept.select(col("id_a").as("id"))
      .unionAll(kept.select(col("id_b").as("id")))
      .groupBy("id").count().agg(max("count")).head().getLong(0)
    assert(degs <= budget,
      s"a document exceeded its pair budget after capping: $degs > $budget")
    // and every family member still surfaces with at least one partner
    val keptIds = kept.select("id_a").unionAll(kept.select("id_b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert((0 until 30).forall(i => keptIds.contains(i.toLong)),
      "capping must not erase a family member entirely")

    // a budget the corpus never reaches: audit 0, capped == exact
    val wide = EditBlock.pairAudit(exact, 500).head()
    assert(wide.getLong(4) == 0L)
    val all = EditBlock.nearPairsCapped(df, "id", "s", t, 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == exact.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "an unbinding budget must be the identity")
  }

  test("candidateStat counts exactly the joined rows the verify stage enumerates") {
    // the statistic must equal the TRUE cardinality of the blocking join
    // (self-matches included, per its contract) — it is the gate a
    // deployment reads BEFORE paying the join, so an estimate that drifts
    // from the join it prices is worse than none
    import spark.implicits._
    val t = 4
    for (df <- Seq(fixture, (0 until 25).map(i =>
        (i.toLong, s"template boilerplate line ${i % 3}")).toDF("id", "s"))) {
      val stat = EditBlock.candidateStat(df, "id", "s", t).head()
      val (long, short, idx, probe) = EditBlock.segTables(df, "id", "s", t)
      val joined = probe.join(idx, Seq("m", "si", "seg")).count()
      assert(stat.getAs[Long]("candidates") == joined,
        "statistic diverged from the join it prices")
      assert(stat.getAs[Long]("n_long") == long.count())
      assert(stat.getAs[Long]("n_short") == short.count())
      assert(stat.getAs[Long]("hottest_block") <= stat.getAs[Long]("candidates"))
    }
    // and on a boilerplate-stamped corpus it makes the quadratic VISIBLE:
    // candidates ~ n² while the corpus is only n rows
    val n = 40
    val boiler = (0 until n).map(i => (i.toLong, "identical thirty char line xx"))
      .toDF("id", "s")
    val stat = EditBlock.candidateStat(boiler, "id", "s", t).head()
    assert(stat.getAs[Long]("candidates") >= n.toLong * n,
      "a pathological corpus must price as quadratic before the join runs")
    // ADVICE r11: a corpus dominated by strings of length ≤ t must price
    // its short×short loop-join cost, not near-zero — short_pairs = n²
    // (the enumerated product of the non-equi fallback join)
    val allShort = (0 until 25).map(i => (i.toLong, "ab")).toDF("id", "s")
    val shortStat = EditBlock.candidateStat(allShort, "id", "s", t).head()
    assert(shortStat.getAs[Long]("candidates") == 0L)
    assert(shortStat.getAs[Long]("short_pairs") == 625L,
      "all-short corpus must price the fallback loop join as n_short²")
  }

  test("routing: the candidate budget picks exact, capped-at-tighter-t, or refuses") {
    import spark.implicits._
    // shape 1 (benign corpus, roomy budget): exact at the requested t, and
    // the routed output is nearPairs plus the constant decision columns
    val d1 = EditBlock.priceRoute(fixture, "id", "s", 4, 1000000L)
    assert(d1.route == "exact" && d1.tUsed == 4)
    val routed = EditBlock.nearPairsRouted(fixture, "id", "s", 4, 1000000L, 64)
      .localCheckpoint()
    val head = routed.head()
    assert(head.getAs[String]("route") == "exact")
    assert(head.getAs[Long]("t_used") == 4L)
    assert(head.getAs[Long]("priced_candidates") == d1.pricedCandidates)
    assert(head.getAs[Long]("budget") == 1000000L)
    assert(routed.select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === blocked(fixture, 4),
      "the exact route must be nearPairs row-for-row")

    // shape 2 (priced over budget at the requested t, affordable tighter):
    // the mutation-family corpus prices ~8× cheaper at t=2 than t=4, so a
    // budget between the two forces the step-down; the routed rows must be
    // nearPairsCapped's at the re-priced t — the audited cap semantics
    val fam = (0 until 12).flatMap(g => (0 until 5).map(j =>
      (g * 10L + j, s"shared prefix block $g suffix $j")))
      .toDF("id", "s")
    def total(t: Int): Long = EditBlock.candidateStat(fam, "id", "s", t)
      .select(col("candidates") + col("short_pairs")).head().getLong(0)
    val (t4, t2) = (total(4), total(2))
    assert(t4 > t2, s"fixture must price cheaper at tighter t: $t4 vs $t2")
    val budget = (t4 + t2) / 2
    val d2 = EditBlock.priceRoute(fam, "id", "s", 4, budget)
    assert(d2.route == "capped" && d2.tUsed < 4 && d2.pricedCandidates <= budget,
      s"expected a step-down decision, got $d2")
    val routed2 = EditBlock.nearPairsRouted(fam, "id", "s", 4, budget, 8)
      .localCheckpoint()
    assert(routed2.head().getAs[String]("route") == "capped")
    assert(routed2.select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === EditBlock.nearPairsCapped(fam, "id", "s", d2.tUsed, 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "the capped route must be nearPairsCapped at the re-priced t")

    // shape 3 (affordable nowhere): identical strings price quadratic at
    // EVERY t — the route must refuse loudly, never run the join silently
    val boiler = (0 until 40).map(i => (i.toLong, "identical thirty char line xx"))
      .toDF("id", "s")
    val e = intercept[IllegalStateException] {
      EditBlock.priceRoute(boiler, "id", "s", 4, 100L)
    }
    assert(e.getMessage.contains("over budget"))
  }

  test("candidateStatVector == candidateStat at every t, and priceRoute is ONE action") {
    // round-12 verdict item 3: the step-down re-priced per t (≤t sequential
    // actions). The vector must be numerically identical to the per-t
    // statistic — it IS the oracle-checked pricing arithmetic, computed for
    // all t in one pass — and routing must cost exactly one SQL execution
    // no matter how far it steps down.
    import spark.implicits._
    val fam = (0 until 12).flatMap(g => (0 until 5).map(j =>
      (g * 10L + j, s"shared prefix block $g suffix $j"))).toDF("id", "s")
    for (df <- Seq(fixture, fam)) {
      val vec = EditBlock.candidateStatVector(df, "id", "s", 4)
        .collect().map(r => r.getAs[Int]("t") -> r).toMap
      assert(vec.keySet == Set(1, 2, 3, 4))
      for (t <- 1 to 4) {
        val one = EditBlock.candidateStat(df, "id", "s", t).head()
        for (c <- Seq("n_long", "n_short", "blocks", "candidates",
            "hottest_block", "short_pairs"))
          assert(vec(t).getAs[Long](c) == one.getAs[Long](c),
            s"vector diverged from candidateStat at t=$t on $c: " +
              s"${vec(t).getAs[Long](c)} vs ${one.getAs[Long](c)}")
      }
    }
    // one-action accounting (the CardinalityStatsSpec pattern, at the SQL-
    // execution grain — AQE splits one execution into many jobs, so jobs
    // are the wrong unit): run priceRoute on a corpus that STEPS DOWN, and
    // the listener must see exactly one root SQLExecutionStart.
    import org.apache.spark.scheduler.SparkListener
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart =>
            // AQE re-entrant sub-executions carry a rootExecutionId that
            // differs from their own id; count ROOT executions only
            if (s.rootExecutionId.forall(_ == s.executionId))
              execs.add(s.executionId)
          case _ => ()
        }
    }
    def total(t: Int): Long = EditBlock.candidateStat(fam, "id", "s", t)
      .select(col("candidates") + col("short_pairs")).head().getLong(0)
    val budget = (total(4) + total(2)) / 2
    spark.sparkContext.addSparkListener(listener)
    try {
      val d = EditBlock.priceRoute(fam, "id", "s", 4, budget)
      assert(d.route == "capped" && d.tUsed < 4)
      // flush the FIFO listener bus: run a marker execution and wait until
      // the listener has seen it — every earlier event is then processed
      val priced = execs.size
      spark.range(1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (execs.size <= priced && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(execs.size > priced, "listener flush execution never seen")
      assert(priced == 1,
        s"a stepped-down priceRoute must be ONE action, saw $priced")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("blocked pairs == all pairs on a random mutation corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // 40 base strings of varied length, each with a few mutated children:
    // random substitutions / insertions / deletions, 0-6 edits
    val rows = (0 until 40).flatMap { i =>
      val base = randStr(8 + rnd.nextInt(25))
      val kids = (0 until 3).map { j =>
        var sb = new StringBuilder(base)
        val edits = rnd.nextInt(7)
        (0 until edits).foreach { _ =>
          if (sb.isEmpty) sb.append(alpha(rnd.nextInt(alpha.length)))
          else rnd.nextInt(3) match {
            case 0 => sb.setCharAt(rnd.nextInt(sb.length), alpha(rnd.nextInt(alpha.length)))
            case 1 => sb.insert(rnd.nextInt(sb.length + 1), alpha(rnd.nextInt(alpha.length)))
            case 2 => sb.deleteCharAt(rnd.nextInt(sb.length))
          }
        }
        sb.toString
      }
      (base +: kids).zipWithIndex.map { case (s, j) => (i * 10L + j, s) }
    }
    val df = rows.toDF("id", "s")
    for (t <- Seq(2, 5)) {
      assert(blocked(df, t) === allPairs(df, t), s"t=$t")
    }
  }

  test("the routed CATALOG ROW fails fast on a corpus priced over budget at every t — before any compare") {
    // the refuse asymmetry as CONTRACT (round-13 verdict item 5): the
    // oracle SQL models the exact and capped branches; the refuse branch
    // is deliberately asymmetric — SQL would return an empty set, Scala
    // THROWS at the catalog-row CALL (priceRoute's driver-side pricing
    // action runs before any join is planned), so a fixture priced over
    // budget at every τ fails the row loudly before the driver ever
    // compares. Fixture: one 30-char template stamped 25k times — at the
    // row's real 5×10⁸ budget even τ=1 prices ≈ 2·(25k)² = 1.25×10⁹.
    import spark.implicits._
    val tmp = tempDir("refuse_fixture")
    (0L until 25000L).map(i => (i, "the same boilerplate, every time"))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val e = intercept[IllegalStateException] {
      graft.queries.QueryCatalog.queries("e2_edit_routed")(spark, tmp)
    }
    assert(e.getMessage.contains("over budget at every t"),
      s"the refuse must carry the route's message: ${e.getMessage}")
    assert(e.getMessage.contains("raise the budget or sample the corpus"),
      "the refuse must tell the operator the two ways out")
  }
}
