package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions
import graft.operators.ConnectedComponents

/** Parity contract for the streaming incremental near-dedup composition
  * (round-8 verdict item 2): feeding the corpus through the stream in
  * micro-batches must leave EXACTLY the state one batch run produces —
  * same signature store, same pair set, same cluster labeling. The three
  * checks pin the three layers (sign-once store append, incremental band
  * join, root-graph merge) independently, so a regression localizes. */
class StreamingDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val (numHashes, bands, shingleLen, threshold) = (64, 8, 5, 0.8)

  test("stream-fed store, pairs, and labeling equal one batch run") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id")
      .localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    // three id-ordered micro-batches (the crawl-feed arrival contract)
    val cuts = Seq(maxId / 3, 2 * maxId / 3, maxId + 1)

    val inputDir = tempDir("stream_dedup")
    val state = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    val q = DedupStreaming.runNearDedupStream(spark, inputDir, docs.schema,
      state, numHashes, bands, shingleLen, threshold)
    try {
      var lo = -1L
      for ((hi, i) <- cuts.zipWithIndex) {
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
        lo = hi
        // the store grows by exactly the signable docs seen so far
        val expectSigs = TextFunctions.signatureTable(
          docs.filter(col("doc_id") <= hi), numHashes, shingleLen).count()
        assert(state.storeSig.count() == expectSigs,
          s"store size diverged after micro-batch ${i + 1}")
      }

      // 1) signature store == one batch signing of everything processed
      val batchSig = TextFunctions
        .signatureTable(docs, numHashes, shingleLen)
      val storeIds = state.storeSig.select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val batchIds = batchSig.select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(storeIds == batchIds)

      // 2) accumulated pair deltas == the one-shot batch pair set
      val batchPairs = TextFunctions.minhashLshPairs(docs, numHashes, bands,
          shingleLen, threshold)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamPairs = state.pairsSeen
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "fixture produced no near-dup pairs")
      assert(streamPairs == batchPairs)

      // 3) merged labeling == from-scratch CC over the full pair graph
      //    (the m5 identity: merge(prev, delta) == recompute(union))
      val batchLab = ConnectedComponents.minLabel(
          TextFunctions.minhashLshPairs(docs, numHashes, bands, shingleLen,
            threshold), "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamLab = state.labeling
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamLab == batchLab)
    } finally q.stop()
  }

  test("out-of-order micro-batches fail loudly instead of dropping pairs") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val inputDir = tempDir("stream_ooo")
    val state = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    val q = DedupStreaming.runNearDedupStream(spark, inputDir, docs.schema,
      state, numHashes, bands, shingleLen, threshold)
    try {
      // high ids land first, then a batch of LOWER ids — the silent
      // pair-loss scenario the guard exists for
      docs.filter(col("doc_id") > maxId / 2)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      docs.filter(col("doc_id") <= maxId / 2)
        .coalesce(1).write.mode("append").parquet(inputDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(messages(e).exists(_.contains("out-of-order micro-batch")),
        s"expected the arrival-order guard, got: ${messages(e)}")
    } finally q.stop()
  }

  test("a doc_id duplicated WITHIN one micro-batch fails loudly too") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .localCheckpoint()
    val inputDir = tempDir("stream_intra")
    val state = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    val q = DedupStreaming.runNearDedupStream(spark, inputDir, docs.schema,
      state, numHashes, bands, shingleLen, threshold)
    try {
      // two landed copies coalesce into ONE micro-batch: the min-vs-max
      // arrival guard alone cannot see this, so the count-vs-distinct
      // check must catch the store corruption before it happens
      val slice = docs.filter(col("doc_id") < 50)
      slice.unionAll(slice)
        .coalesce(1).write.mode("append").parquet(inputDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(messages(e).exists(_.contains("duplicated doc_id within")),
        s"expected the intra-batch duplicate guard, got: ${messages(e)}")
    } finally q.stop()
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
}
