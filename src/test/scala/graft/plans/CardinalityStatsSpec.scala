package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CardinalityStatsSpec extends SparkSpec {

  test("prefers plan statistics; the fallback is not evaluated on a stats hit") {
    // Range is the simplest plan that carries an exact rowCount statistic
    var fallbackRuns = 0
    val n = CardinalityStats.rowCount(spark.range(4242).toDF("id")) {
      fallbackRuns += 1; -1L
    }
    assert(n == 4242L, s"plan statistic not used: $n")
    assert(fallbackRuns == 0, "fallback must stay unevaluated on a stats hit")
  }

  test("falls back to the caller's count on a stats-less file scan") {
    val dir = tempDir("cardstats") + "/t"
    spark.range(123).toDF("id").write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
      "fixture invalid: a bare file scan should carry no rowCount statistic")
    var fallbackRuns = 0
    val n = CardinalityStats.rowCount(df) { fallbackRuns += 1; df.count() }
    assert(n == 123L && fallbackRuns == 1)
  }

  test("reads an ANALYZE'd catalog table's statistic without a job") {
    // the deployment path: the dimension lives in the catalog, ANALYZE
    // maintains its stats, and plan-stats propagation hands Catalyst (and
    // this helper) the row count with zero scan jobs
    val prev = spark.conf.getOption("spark.sql.cbo.planStats.enabled")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      spark.range(77).toDF("id").write.mode("overwrite")
        .saveAsTable("graft_cardstats_dim")
      spark.sql("ANALYZE TABLE graft_cardstats_dim COMPUTE STATISTICS")
      val n = CardinalityStats.rowCount(spark.table("graft_cardstats_dim")) {
        fail("fallback must not run for an ANALYZE'd catalog table"); -1L
      }
      assert(n == 77L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cardstats_dim")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.cbo.planStats.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.planStats.enabled")
      }
    }
  }

  test("supplierCount (the g2 routing statistic) still reports the dimension size") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.queries.AnalyticsOps.supplierCount(spark, dir)
    assert(n == graft.Tables.supplier(spark, dir).count(),
      "routing statistic diverged from the dimension row count")
  }

  test("g2 routing over an ANALYZE'd supplier table: ZERO statistic jobs, same decision") {
    // round-11 verdict item 5: every fixture path exercises the memoized-
    // count fallback; this is the production posture — the dimension lives
    // in the catalog, ANALYZE maintains its stats, and the routing
    // statistic is a metadata read. Job accounting is exact, not sleepy:
    // a listener records every job's jobGroup.id; a marker-grouped dummy
    // job is run AFTER the statistic read and the listener bus is FIFO, so
    // once the marker is visible every earlier jobStart has been processed
    // — the recorded set must then be the marker alone.
    // (The edit-family route has no catalog twin by design: its statistic
    // is a data aggregate over segment blocks — candidateStat's one linear
    // job — not a table-level stat any catalog maintains.)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val prev = spark.conf.getOption("spark.sql.cbo.planStats.enabled")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
      }
    }
    try {
      val real = graft.Tables.supplier(spark, "/root/testdata/sf0.001")
      val realN = real.count()
      real.write.mode("overwrite").saveAsTable("graft_stats_supplier")
      spark.sql("ANALYZE TABLE graft_stats_supplier COMPUTE STATISTICS")
      val dim = spark.table("graft_stats_supplier")

      spark.sparkContext.addSparkListener(listener)
      val n = graft.queries.AnalyticsOps.supplierCountOf(dim,
        graft.Tables.key("spec-analyzed-supplier", Nil))
      val marker = s"cardstats-flush-${System.nanoTime()}"
      spark.sparkContext.setJobGroup(marker, "listener flush")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(marker), "listener flush job never observed")
      import scala.jdk.CollectionConverters._
      assert(groups.asScala.toSet == Set(marker),
        s"the statistic read ran Spark jobs: ${groups.asScala.toSet - marker}")

      assert(n == realN, "catalog statistic diverged from the true count")
      // the decision the statistic feeds — identical from either source
      val max = graft.queries.AnalyticsOps.CosharePairKeySpaceMax
      assert((n * (n - 1) / 2 <= max) == (realN * (realN - 1) / 2 <= max),
        "routing decision diverged between catalog stats and real count")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sql("DROP TABLE IF EXISTS graft_stats_supplier")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.cbo.planStats.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.planStats.enabled")
      }
    }
  }
}
