package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.VectorOps

/** Parity contract for streaming IVF index maintenance: a posting store
  * fed micro-batch by micro-batch against the frozen trained quantizer
  * must equal the from-scratch batch assignment, and the served top-k must
  * be byte-identical to the batch e3_ivf_ann result. The two checks pin
  * the two layers (assign-and-append ingest, store-backed serving)
  * independently, so a regression localizes. */
class StreamingAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val (nlist, trainIters, nQueries, k, nprobe) = (16, 2, 50, 3, 4)

  test("stream-fed posting store and served top-k equal the batch build") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val maxId = embRaw.agg(max("vec_id")).head().getLong(0)
    val cuts = Seq(maxId / 3, 2 * maxId / 3, maxId + 1)
    // the same frozen quantizer artifact the batch e3_ivf_ann serves from
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)

    val inputDir = tempDir("stream_ann")
    val state = AnnStreaming.emptyState(embRaw)
    val q = AnnStreaming.runIvfIngestStream(spark, inputDir, embRaw.schema,
      state, cents)
    try {
      var lo = -1L
      for ((hi, i) <- cuts.zipWithIndex) {
        embRaw.filter(col("vec_id") > lo && col("vec_id") <= hi)
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
        lo = hi
        // the store grows by exactly the vectors seen so far
        val expect = embRaw.filter(col("vec_id") <= hi).count()
        assert(state.postings.count() == expect,
          s"posting store size diverged after micro-batch ${i + 1}")
      }

      // 1) posting store == one batch assignment of the whole corpus
      val batchAssign = VectorOps
        .nearestCentroid(VectorOps.prepEmb(embRaw), cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamAssign = state.postings.select("vec_id", "cluster")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamAssign == batchAssign)

      // 2) serving from the maintained store == the batch e3_ivf_ann plan
      val batchTopK = VectorOps.ivfAnnTopK(spark, dir, nQueries, k,
          nlist, nprobe, trainIters)
        .collect().map(_.toSeq).toSeq
      val servedTopK = AnnStreaming
        .serveTopK(state, cents, nQueries, k, nprobe)
        .collect().map(_.toSeq).toSeq
      assert(batchTopK.nonEmpty, "batch IVF produced no neighbors")
      assert(servedTopK == batchTopK)
    } finally q.stop()
  }

  test("stream-APPENDED on-disk store serves byte-identically to the batch-built store") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val maxId = embRaw.agg(max("vec_id")).head().getLong(0)
    val cuts = Seq(maxId / 3, 2 * maxId / 3, maxId + 1)
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("stream_annstore_in")
    val storePath = tempDir("stream_annstore") + "/store"
    val state = new AnnStreaming.StoreAppendState
    val q = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, state, cents)
    try {
      var lo = -1L
      for (hi <- cuts) {
        embRaw.filter(col("vec_id") > lo && col("vec_id") <= hi)
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
        lo = hi
      }
      // the appended layout is batchId-keyed (idempotent replay) with the
      // cluster partitioning one level down, so earlier batches' files are
      // never rewritten and DPP still prunes un-probed lists
      val batchDirs = new java.io.File(storePath).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      assert(batchDirs.length == cuts.length,
        s"expected one ingest_batch= directory per micro-batch at $storePath")
      assert(batchDirs.forall(_.listFiles()
          .exists(f => f.isDirectory && f.getName.startsWith("cluster="))),
        "expected cluster= partition directories inside each batch landing")
      // serving the stream-appended store == serving the batch-built store
      // (same plan: VectorOps.serveFromStorePath), which VectorSpec already
      // holds byte-equal to the from-scratch e3_ivf_ann
      val queries = VectorOps.prepEmb(embRaw).filter(col("vec_id") < nQueries)
        .localCheckpoint()
      val batchStore = VectorOps.ivfStoreTopK(spark, dir, nQueries, k,
        nlist, nprobe, trainIters).collect().toSeq
      val streamed = VectorOps.serveFromStorePath(spark, storePath,
        queries, cents, k, nprobe).collect().toSeq
      assert(batchStore.nonEmpty)
      assert(streamed == batchStore,
        "stream-appended store served differently from the batch-built store")
    } finally q.stop()
  }

  test("streamed store maintenance loop: consolidate batch landings, re-serve byte-identically") {
    // The streamed store's small-file problem is
    // the BATCH dimension — N ingest_batch= dirs × nlist cluster leaves,
    // each already one file, which per-leaf Compaction can never reduce —
    // so the maintenance loop is consolidateStore (fold all but the
    // newest landing into ingest_batch=-2), then a leaf-level Compaction
    // pass over the same live store. Asserted: fewer dirs AND files,
    // identical content, byte-identical serving under the same
    // cluster-partitioned DPP plan, the stream still absorbing afterwards,
    // and a concurrent reader that only ever counts the full store and
    // never fails a read across the fold.
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val maxId = embRaw.agg(max("vec_id")).head().getLong(0)
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("annstore_compact_in")
    val storePath = tempDir("annstore_compact") + "/store"
    val state = new AnnStreaming.StoreAppendState
    val q = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, state, cents)
    try {
      val cuts = Seq(maxId / 3, 2 * maxId / 3, maxId + 1)
      var lo = -1L
      for (hi <- cuts) {
        embRaw.filter(col("vec_id") > lo && col("vec_id") <= hi)
          .write.mode("append").parquet(inputDir)
        q.processAllAvailable()
        lo = hi
      }
      def batchDirs() = new java.io.File(storePath).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      assert(batchDirs().length == cuts.length)
      val sizes = batchDirs().map(d =>
        d.getName.stripPrefix("ingest_batch=").toLong ->
          spark.read.parquet(d.getPath).count()).toMap
      val newest = sizes.keys.max
      val foldable = (sizes - newest).values.toSeq
      val expectRows = embRaw.count()
      assert(sizes.values.sum == expectRows)
      val contentBefore = AnnStreaming.readStore(spark, storePath)
        .collect().map(_.toString).sorted.toSeq
      val queries = VectorOps.prepEmb(embRaw).filter(col("vec_id") < nQueries)
        .localCheckpoint()
      val servedBefore = VectorOps.serveFromStorePath(spark, storePath,
        queries, cents, k, nprobe).collect().toSeq

      // concurrent reader: the fold is ONE atomic manifest swap, so the
      // engine read's only legal count is the FULL total; and the fold's
      // sources are retained, so no read in flight across it may fail
      val reader = new StoreReader(spark, storePath, expectRows)
      val stats = try AnnStreaming.consolidateStore(spark, storePath)
        finally reader.finish()

      assert(!stats.skipped && stats.rows == foldable.sum,
        s"consolidation must fold exactly the older batches: $stats")
      assert(stats.batchDirsAfter == 2 &&
        stats.filesAfter < stats.filesBefore,
        s"expected [consolidated, newest] with fewer files: $stats")
      reader.check()
      // content (modulo the folded batch ids) and serving are identical
      val contentAfter = AnnStreaming.readStore(spark, storePath)
        .collect().map(_.toString).sorted.toSeq
      assert(contentAfter == contentBefore,
        "consolidation changed the store's content")
      val servedAfter = VectorOps.serveFromStorePath(spark, storePath,
        queries, cents, k, nprobe).collect().toSeq
      assert(servedAfter == servedBefore,
        "the consolidated store served differently")
      // the fold's sources stay on disk until the vacuum (recovery, or the
      // next fold) deletes them
      assert(batchDirs().length == cuts.length + 1)
      AnnStreaming.recoverConsolidation(spark, storePath)
      assert(batchDirs().length == 2)
      // a leaf-level Compaction pass composes with the consolidated layout
      // (here a metadata-only skip — consolidation already wrote compact
      // leaves — but the layout stays valid for it either way)
      val cstats = graft.sources.Compaction.compactParquet(spark, storePath)
      assert(AnnStreaming.readStore(spark, storePath).count() == expectRows)
      assert(cstats.filesAfter <= stats.filesAfter)
      assert(VectorOps.serveFromStorePath(spark, storePath,
        queries, cents, k, nprobe).collect().toSeq == servedBefore,
        "the leaf-compacted store served differently")
      // and the stream keeps absorbing on the consolidated layout
      val extra = embRaw.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + maxId + 1)
      extra.write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      assert(AnnStreaming.readStore(spark, storePath).count() == expectRows + 50,
        "the stream must keep absorbing after consolidation")
    } finally q.stop()
  }

  test("two-cycle consolidation crashes (both orderings) recover with zero row loss") {
    // driven END TO END through the real protocol: consolidate → stream
    // more batches → consolidate again, killed by the crashpoint seam
    // before the fold is placed, before its swap and after it, then
    // recovered — asserting zero row loss and byte-identical serving every
    // time. The second run's sources include the FIRST run's committed -2,
    // the shape a recovery keyed on "a -2 exists" would get wrong.
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("annstore_2cycle_in")
    val storePath = tempDir("annstore_2cycle") + "/store"
    val q = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, new AnnStreaming.StoreAppendState, cents)
    try {
      def land(lo: Long, hi: Long): Unit = {
        embRaw.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
      }
      land(0, 100); land(100, 200)
      // first cycle commits: ids = {-2(batch0 folded), 1}
      assert(!AnnStreaming.consolidateStore(spark, storePath).skipped)
      assert(AnnStreaming.manifest(spark, storePath) == Set(-2L, 1L))
      land(200, 300); land(300, 400)
      var total = 400L
      var hi = 400L
      assert(AnnStreaming.readStore(spark, storePath).count() == total)
      val queries = VectorOps.prepEmb(embRaw).filter(col("vec_id") < nQueries)
        .localCheckpoint()
      // every second-cycle fold below has the PRIOR cycle's fold id among
      // its ascending sources. Kill at each protocol step; a PRE-swap crash
      // ("verified", "placed") recovers by vacuuming the fold away, a
      // POST-swap crash ("manifested") is a committed fold whose sources
      // recovery vacuums — so after it a fresh batch re-creates a foldable
      // state.
      val killAt = Seq("verified", "placed", "manifested")
      for (step <- killAt) {
        while (AnnStreaming.manifest(spark, storePath).size < 3) {
          land(hi, hi + 25); hi += 25; total += 25
        }
        assert(AnnStreaming.manifest(spark, storePath).exists(_ < 0),
          "the second-cycle shape needs a prior fold id among the sources")
        val servedBefore = VectorOps.serveFromStorePath(spark, storePath,
          queries, cents, k, nprobe).collect().toSeq
        AnnStreaming.consolidateCrashpoint = s =>
          if (s.startsWith(step)) throw new RuntimeException(
            s"injected crash at $s")
        val e = intercept[RuntimeException] {
          AnnStreaming.consolidateStore(spark, storePath)
        }
        AnnStreaming.consolidateCrashpoint = _ => ()
        assert(e.getMessage.contains("injected crash"))
        AnnStreaming.recoverConsolidation(spark, storePath)
        assert(AnnStreaming.readStore(spark, storePath).count() == total,
          s"row loss after a crash at '$step'")
        val served = VectorOps.serveFromStorePath(spark, storePath,
          queries, cents, k, nprobe).collect().toSeq
        assert(served == servedBefore,
          s"serving diverged after a crash at '$step'")
      }
      // the last (post-swap) recovery left {fold, newest}: a clean re-run
      // is a no-op skip, and the stream keeps absorbing
      assert(AnnStreaming.consolidateStore(spark, storePath).skipped)
      land(hi, hi + 25)
      assert(AnnStreaming.readStore(spark, storePath).count() == total + 25,
        "the stream must keep absorbing after the two-cycle recovery")
    } finally {
      AnnStreaming.consolidateCrashpoint = _ => ()
      q.stop()
    }
  }

  test("consolidation concurrent with a landing batch loses neither side") {
    // the 100-TB posture is maintenance running WHILE the stream absorbs.
    // The crashpoint seam doubles as an interleaving hook: a fresh
    // micro-batch lands right after the fold's manifest swap, while the
    // fold still holds its lease. The landing must survive (it is not in
    // the consolidation's source snapshot) and the fold must commit;
    // whole-store reader visibility is pinned by the maintenance-loop
    // test above.
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("annstore_concur_in")
    val storePath = tempDir("annstore_concur") + "/store"
    val q = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, new AnnStreaming.StoreAppendState, cents)
    try {
      def land(lo: Long, hi: Long): Unit = {
        embRaw.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("append").parquet(inputDir)
        q.processAllAvailable()
      }
      land(0, 100); land(100, 200); land(200, 300)
      var landedInWindow = false
      AnnStreaming.consolidateCrashpoint = s =>
        if (s == "manifested" && !landedInWindow) {
          landedInWindow = true
          land(300, 400) // a whole micro-batch lands mid-protocol
        }
      val stats = try AnnStreaming.consolidateStore(spark, storePath)
        finally AnnStreaming.consolidateCrashpoint = _ => ()
      assert(landedInWindow, "the interleaving hook never fired")
      assert(!stats.skipped && stats.rows == 200L,
        s"consolidation must fold exactly its source snapshot: $stats")
      assert(AnnStreaming.readStore(spark, storePath).count() == 400L,
        "the mid-window landing or a folded batch was lost")
      // manifested: -2 (batches 0,1), 2 (kept newest of the snapshot),
      // 3 (landed mid-window); on disk too once the vacuum took 0 and 1
      assert(AnnStreaming.manifest(spark, storePath) == Set(-2L, 2L, 3L))
      AnnStreaming.recoverConsolidation(spark, storePath)
      val names = new java.io.File(storePath).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
        .map(_.getName).sorted.toSeq
      assert(names == Seq("ingest_batch=-2", "ingest_batch=2",
        "ingest_batch=3"), s"unexpected layout: $names")
      // and the stream keeps absorbing on the post-fold layout
      land(400, 450)
      assert(AnnStreaming.readStore(spark, storePath).count() == 450L)
    } finally {
      AnnStreaming.consolidateCrashpoint = _ => ()
      q.stop()
    }
  }

  test("the append stream enforces the same delivery guards as the heap ingest") {
    // the two ingest modes share StreamGuards.classify; this drives the
    // APPEND stream's wiring of it specifically, so moving the parquet
    // landing above the guard (or dropping the guard) fails here even
    // though serving would hide the duplicate rows behind candidate dedup
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    def freshStream() = {
      val inputDir = tempDir("annstore_guard_in")
      val storePath = tempDir("annstore_guard") + "/store"
      (inputDir, storePath,
        AnnStreaming.runIvfStoreAppendStream(spark, inputDir, embRaw.schema,
          storePath, new AnnStreaming.StoreAppendState, cents))
    }
    // (a) cross-batch SOURCE redelivery (same ids again under a new
    // batchId): skipped idempotently — the store must not grow and the
    // stream must keep running (an at-least-once feed is a healthy
    // deployment, not an outage)
    val (in1, store1, q1) = freshStream()
    try {
      embRaw.filter(col("vec_id") < 100).coalesce(1)
        .write.mode("append").parquet(in1)
      q1.processAllAvailable()
      val before = spark.read.parquet(store1)
        .drop("ingest_batch").collect().map(_.toString).sorted.toSeq
      embRaw.filter(col("vec_id") < 100).coalesce(1)
        .write.mode("append").parquet(in1)
      q1.processAllAvailable()
      val after = spark.read.parquet(store1)
        .drop("ingest_batch").collect().map(_.toString).sorted.toSeq
      assert(after == before,
        "a fully-redelivered batch must skip, leaving the store unchanged")
      // and the stream still absorbs fresh data afterwards
      embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 150).coalesce(1)
        .write.mode("append").parquet(in1)
      q1.processAllAvailable()
      assert(spark.read.parquet(store1).count() > before.size,
        "the stream must keep absorbing after an idempotent skip")
    } finally q1.stop()
    // (b) duplicate within one micro-batch still fails loudly
    val (in2, _, q2) = freshStream()
    try {
      val slice = embRaw.filter(col("vec_id") < 50)
      slice.unionAll(slice).coalesce(1).write.mode("append").parquet(in2)
      val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(messages(e2).exists(_.contains("duplicated vec_id within")))
    } finally q2.stop()
    // (c) genuinely NEW ids below the high-water mark are disorder, not a
    // redelivery — still fatal (absorbing them is fine for ANN, but the
    // shared contract keeps the dedup family's pair-loss scenario out)
    val (in3, _, q3) = freshStream()
    try {
      embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 200).coalesce(1)
        .write.mode("append").parquet(in3)
      q3.processAllAvailable()
      embRaw.filter(col("vec_id") < 100).coalesce(1)
        .write.mode("append").parquet(in3)
      val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(messages(e3).exists(_.contains("out-of-order micro-batch")),
        s"expected the disorder guard, got: ${messages(e3)}")
    } finally q3.stop()
  }

  test("re-delivered micro-batches skip idempotently instead of duplicating rows") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("stream_ann_dup")
    val state = AnnStreaming.emptyState(embRaw)
    val q = AnnStreaming.runIvfIngestStream(spark, inputDir, embRaw.schema,
      state, cents)
    try {
      embRaw.filter(col("vec_id") < 100)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      val before = state.postings.count()
      // the same id range lands again — the duplicated-postings scenario:
      // the heap index must not grow, and the stream must stay alive
      embRaw.filter(col("vec_id") < 100)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      assert(state.postings.count() == before,
        "a fully-redelivered batch must skip, leaving the index unchanged")
      // genuinely new ids BELOW the high-water mark remain fatal
      embRaw.filter(col("vec_id") >= 200 && col("vec_id") < 300)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .coalesce(1).write.mode("append").parquet(inputDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(messages(e).exists(_.contains("out-of-order micro-batch")),
        s"expected the disorder guard, got: ${messages(e)}")
    } finally q.stop()
  }

  test("a vec_id duplicated WITHIN one micro-batch fails loudly too") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val inputDir = tempDir("stream_ann_intra")
    val state = AnnStreaming.emptyState(embRaw)
    val q = AnnStreaming.runIvfIngestStream(spark, inputDir, embRaw.schema,
      state, cents)
    try {
      // two landed copies coalesce into ONE micro-batch: the min-vs-max
      // guard alone cannot see this (min > maxSeen holds), so the
      // count-vs-distinct check must catch it
      val slice = embRaw.filter(col("vec_id") < 50)
      slice.unionAll(slice)
        .coalesce(1).write.mode("append").parquet(inputDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(messages(e).exists(_.contains("duplicated vec_id within")),
        s"expected the intra-batch duplicate guard, got: ${messages(e)}")
    } finally q.stop()
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
}
