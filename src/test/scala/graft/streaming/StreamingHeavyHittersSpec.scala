package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.HeavyHitters

/** Parity contract for streaming heavy hitters: feeding rows through the
  * micro-batch loop (per-batch Misra-Gries summary merged into the running
  * sketch, batch landed to the corpus store) and confirming must produce
  * EXACTLY what the batch operator produces on the same rows — and the
  * running state must stay at its designed ≤ k size however much streams
  * through.
  */
class StreamingHeavyHittersSpec extends SparkSpec {

  import spark.implicits._

  private val minFrac = 0.03

  /** Batch b: five hot keys ("h0".."h4") × 50 rows each + 750 unique cold
    * keys — per-batch hot share 5%, cold keys never repeat across batches.
    * Over three batches every hot key totals 150/3000 = 5% > 3%. */
  private def batchRows(b: Int) =
    ((0 until 5).flatMap(h => Seq.fill(50)(s"h$h")) ++
      (0 until 750).map(i => s"c${b}_$i")).map(k => (b.toLong, k))

  test("stream-fed sketch + exact confirm == one batch run, state stays ≤ k") {
    val inputDir = tempDir("stream_hh_in")
    val corpusDir = tempDir("stream_hh_corpus") + "/corpus"
    val template = batchRows(0).toDF("batch", "k")
    val state = HeavyHittersStreaming.emptyState(minFrac)
    val q = HeavyHittersStreaming.runHeavyHitterStream(spark, inputDir,
      template.schema, "k", corpusDir, state)
    try {
      for (b <- 0 until 3) {
        batchRows(b).toDF("batch", "k")
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
        // the running sketch never exceeds its k-counter budget, and every
        // currently-true heavy hitter is among its candidates (superset)
        assert(state.summary.size <= state.k,
          s"summary grew past k after batch $b: ${state.summary.size}")
        (0 until 5).foreach(h => assert(state.summary.contains(s"h$h"),
          s"hot key h$h evicted from the merged summary after batch $b"))
      }
      assert(state.rowsSeen == 3000L)

      val streamed = HeavyHittersStreaming
        .confirmed(spark, corpusDir, "k", state)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = HeavyHitters
        .heavyHitters((0 until 3).flatMap(batchRows).toDF("batch", "k"),
          col("k"), minFrac)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == (0 until 5).map(h => (s"h$h", 150L, 3000L)).toSet,
        s"batch ground truth wrong: $batch")
      assert(streamed == batch, s"stream/batch diverged: $streamed vs $batch")

      // restart story: a state re-derived from the landed corpus confirms
      // the same exact answer and resumes the batch-id guard past every
      // landed batch
      val rebuilt = HeavyHittersStreaming
        .stateFromCorpus(spark, corpusDir, "k", minFrac)
      assert(rebuilt.rowsSeen == 3000L && rebuilt.lastBatchId >= 2L,
        s"rebuilt state wrong: rows=${rebuilt.rowsSeen} last=${rebuilt.lastBatchId}")
      val reconfirmed = HeavyHittersStreaming
        .confirmed(spark, corpusDir, "k", rebuilt)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(reconfirmed == batch,
        s"corpus-rebuilt state diverged: $reconfirmed vs $batch")
    } finally q.stop()
  }

  test("a restarted stream with a fresh empty state auto-rebuilds from the corpus") {
    // review finding: restarting a CHECKPOINTED stream with emptyState()
    // used to resume the source past the already-landed batches while the
    // sketch was empty, so confirmed() missed every pre-restart heavy
    // hitter. runHeavyHitterStream must now detect the landed corpus ahead
    // of the state's lastBatchId and rebuild the sketch before starting.
    val base = tempDir("stream_hh_restart")
    val (inputDir, corpusDir, ckpt) =
      (s"$base/in", s"$base/corpus", s"$base/ckpt")
    new java.io.File(inputDir).mkdirs()
    val template = batchRows(0).toDF("batch", "k")

    val s1 = HeavyHittersStreaming.emptyState(minFrac)
    val q1 = HeavyHittersStreaming.runHeavyHitterStream(spark, inputDir,
      template.schema, "k", corpusDir, s1, Some(ckpt))
    try {
      for (b <- 0 until 2) {
        batchRows(b).toDF("batch", "k")
          .coalesce(1).write.mode("append").parquet(inputDir)
        q1.processAllAvailable()
      }
    } finally q1.stop()

    // crash: the in-memory state is gone; the operator restarts with a
    // FRESH empty state but the same checkpoint (source resumes at batch 2)
    val s2 = HeavyHittersStreaming.emptyState(minFrac)
    val q2 = HeavyHittersStreaming.runHeavyHitterStream(spark, inputDir,
      template.schema, "k", corpusDir, s2, Some(ckpt))
    try {
      assert(s2.rowsSeen == 2000L && s2.lastBatchId >= 1L,
        s"state not rebuilt from corpus: rows=${s2.rowsSeen} " +
          s"last=${s2.lastBatchId}")
      batchRows(2).toDF("batch", "k")
        .coalesce(1).write.mode("append").parquet(inputDir)
      q2.processAllAvailable()
      val streamed = HeavyHittersStreaming
        .confirmed(spark, corpusDir, "k", s2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == (0 until 5).map(h => (s"h$h", 150L, 3000L)).toSet,
        s"post-restart confirmation lost pre-restart history: $streamed")
    } finally q2.stop()
  }

  test("merge keeps a slow-burn key no single batch would rank highly") {
    // "slow" is 3 of 1000 rows in each of ten summaries (0.3%), but 30/10000
    // = 0.3%... raise: 30 rows per summary of 1000 (3%) merged ten times
    // stays 3% overall — the point is the merged UNDERCOUNT bound: after
    // merging, slow's summary count must still be positive
    val k = HeavyHitters.counters(0.02) // 100 counters
    var merged = Map.empty[String, Long]
    for (i <- 0 until 10) {
      val batch = (Seq.fill(30)("slow") ++
        (0 until 970).map(j => s"c${i}_$j")).map(s => (s, 1L))
      val summary = batch.groupBy(_._1).map { case (key, v) =>
        (key, v.size.toLong)
      }
      // simulate a bounded per-batch sketch by trimming through the merge
      merged = HeavyHitters.mergeSummaries(merged, summary, k)
    }
    // truth: slow = 300/10000 = 3% > 2%; undercount ≤ 10000/101 ≈ 99 < 300
    assert(merged.contains("slow"),
      s"slow-burn key lost by the merge: ${merged.size} keys")
    assert(merged("slow") > 0L && merged("slow") <= 300L)
  }
}
