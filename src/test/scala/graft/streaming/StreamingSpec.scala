package graft.streaming

import graft.{SparkSpec, Tables}

/** Structured Streaming parity: the streaming pipeline (file source →
  * watermark → tumbling agg → memory sink) must produce exactly the batch
  * transform's result once all input is processed. */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming tumbling-hourly equals the batch transform") {
    val q = EventsStreaming.runTumbling(spark, dir, "stream_tumbling_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_tumbling_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.tumblingHourly(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming sliding-quarters equals the batch transform") {
    val q = EventsStreaming.runSliding(spark, dir, "stream_sliding_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sliding_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.slidingQuarters(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming session windows equal the batch transform") {
    val q = EventsStreaming.runSession(spark, dir, "stream_session_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_session_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.sessionEvents(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("late rows are dropped by the watermark AND the drop is observable") {
    // ops contract at scale: a watermark silently discards late data — the
    // pipeline must be able to MONITOR that (numRowsDroppedByWatermark in
    // the query progress), or data loss looks like clean runs. Two probed
    // Spark 4 semantics this test pins: (1) the LATE filter uses the
    // PREVIOUS microbatch's watermark (SPARK-40925) — rows merely older
    // than the current watermark still merge into un-emitted state; (2)
    // the drop metric counts state-operator INPUT rows, i.e. post
    // map-side partial aggregation (1 row per window key per partition),
    // not raw events — so the count assert is on the finalized window.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = tempDir("stream_late")
    val t0 = 1700000000000000L // µs
    def mk(rows: Seq[(Long, Long)]) = rows
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts_utc"))
    // batch 0: 30 on-time rows in the hour-0 window
    mk((1L to 30L).map(i => (i, t0 + i * 1000000L)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200) // distinct mtime → deterministic file order
    // batch 1: rows ~10 h later — pushes the watermark past hour 0
    mk((1L to 50L).map(i => (i, t0 + 36000000000L + i * 1000000L)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 2: 20 rows TWO HOURS BEFORE t0 — older even than the
    // previous-batch watermark, genuinely late
    mk((31L to 50L).map(i => (i, t0 - 7200000000L + i * 1000000L)))
      .coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("user_id LONG, ts_utc TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts_utc", "10 minutes")
      .groupBy(window(col("ts_utc"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("stream_late_test").start()
    try {
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L,
        s"the late drop must be observable in progress metrics, got $dropped")
      // the hour-0 window finalizes with EXACTLY its 30 on-time rows —
      // none of the 20 late rows leaked into the emitted aggregate
      val emitted = spark.table("stream_late_test")
        .select(unix_micros(col("window.start")).as("ws"), col("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hour0Start = t0 - (t0 % 3600000000L)
      assert(emitted.get(hour0Start).contains(30L),
        s"hour-0 window must close with only on-time rows: $emitted")
      assert(!emitted.keySet.exists(_ < hour0Start),
        s"a late-region window leaked into the append output: $emitted")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark emits each (user, event_type) once") {
    val q = EventsStreaming.runDedupStream(spark, dir, "stream_dedup_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_dedup_test")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(streamed.length == streamed.distinct.length)
      val batchDistinct = Tables.events(spark, dir)
        .select("user_id", "event_type").distinct().count()
      assert(streamed.length == batchDistinct)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch transform") {
    val q = EventsStreaming.runStreamJoin(spark, dir, "stream_join_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_join_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.recentViewPairs(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("chained stream-stream interval joins (funnel) equal the batch transform") {
    // two cascaded append-mode interval joins in ONE streaming query —
    // inner joins emit on match (no timeout gating), so the full chain set
    // must equal the batch twin once the source drains
    val q = EventsStreaming.runFunnelStream(spark, dir, "stream_funnel_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_funnel_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.funnelChains(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join equals batch on the watermark-closed region") {
    import org.apache.spark.sql.functions._
    val q = EventsStreaming.runStreamLeftJoin(spark, dir, "stream_left_join_test")
    try {
      q.processAllAvailable()
      val ev = Tables.events(spark, dir)
      // rows whose outcome the watermark has sealed: the final watermark is
      // max(ts) - 1h, and a purchase's null-vs-match verdict is final once
      // watermark >= p_ts (its interval lies fully in the past). Purchases
      // younger than that may still sit in state — excluded on BOTH sides.
      val closedUs = ev.agg(max(unix_micros(col("ts_utc"))))
        .head().getLong(0) - 3600L * 1000000
      def closedRegion(df: org.apache.spark.sql.DataFrame) = df
        .join(ev.select(col("event_id").as("purchase_id"),
          unix_micros(col("ts_utc")).as("p_us")), "purchase_id")
        .filter(col("p_us") <= closedUs).drop("p_us")
        .collect().map(_.toSeq).toSet
      val streamed = closedRegion(spark.table("stream_left_join_test"))
      val batch = closedRegion(
        EventsStreaming.recentViewPairsLeft(Tables.events(spark, dir)))
      assert(batch.nonEmpty)
      // the left-outer form must actually exercise the null-extension path
      assert(batch.exists(_.contains(null)), "no unmatched purchase in fixture")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("foreachBatch versioned-merge sink converges to the batch latest-per-key") {
    val q = EventsStreaming.runForeachBatchUpsert(spark, dir, "stream_upsert_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_upsert_test")
        .collect().map(_.toSeq).toSet
      val batch = EventsStreaming.latestPerKey(Tables.events(spark, dir)
          .select("user_id", "event_type", "ts", "event_id", "value"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming user-state runner's latest snapshots equal batch aggregates") {
    import org.apache.spark.sql.functions._
    val q = EventsStreaming.runUserStateStream(spark, dir, "stream_userstate_test")
    try {
      q.processAllAvailable()
      // n_events is monotone per user, so the latest snapshot is max_by(n)
      val streamed = spark.table("stream_userstate_test")
        .groupBy("user_id")
        .agg(max_by(struct(col("n_events"), col("total_value"), col("last_ts")),
          col("n_events")).as("r"))
        .collect()
        .map(r => (r.getLong(0),
          (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1),
            r.getStruct(1).getLong(2)))).toMap
      val want = Tables.events(spark, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("s"), max("ts").as("m"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(streamed.keySet == want.keySet)
      for ((k, (n, s, m)) <- want) {
        assert(streamed(k)._1 == n && streamed(k)._3 == m, s"user $k")
        assert(math.abs(streamed(k)._2 - s) < 1e-6, s"user $k sum")
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState running accumulator matches batch aggregates") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir)
    val got = EventsStreaming.runningUserState(ev)
      .collect().map(u => u.user_id -> ((u.n_events, u.total_value, u.last_ts))).toMap
    val want = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s"), max("ts").as("m"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (n, s, m)) <- want) {
      assert(got(k)._1 == n && got(k)._3 == m)
      assert(math.abs(got(k)._2 - s) < 1e-6, s"user $k sum")
    }
  }
}
