package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions
import graft.operators.ConnectedComponents
import graft.queries.VectorOps

/** Crash-recovery parity for the stateful foreachBatch loops (round-9
  * verdict item 1): a run that is killed and restarted from its checkpoint
  * must converge to EXACTLY the state of the uninterrupted run — for the
  * near-dedup loop (signature store, pair set, labeling) and the on-disk
  * IVF append loop (posting store content, served top-k). Two failure
  * points are driven per loop:
  *
  *  - BETWEEN batches: stop the query after a prefix of batches, reload
  *    durable state (`loadState` / `stateFromStore`), restart on the same
  *    checkpoint, feed the rest.
  *  - INSIDE a batch: replay a batch that was already (fully or partially)
  *    absorbed — the exact sequence Spark produces when a crash lands
  *    between the state mutation and the offset commit. Driven through the
  *    exposed `absorbBatch`/`absorbStoreBatch` bodies, which is what the
  *    streaming harness calls, so the replay path is the production path.
  */
class StreamingRecoverySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val (numHashes, bands, shingleLen, threshold) = (64, 8, 5, 0.8)
  private val (nlist, trainIters, nQueries, k, nprobe) = (16, 2, 50, 3, 4)

  test("near-dedup: kill between batches, restart from checkpoint + persisted state") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val base = tempDir("dedup")
    val (inputDir, ckpt, stateDir) = (s"$base/in", s"$base/ckpt", s"$base/state")
    new java.io.File(inputDir).mkdirs()

    // run 1: two batches land, state persists PER BATCH (the crash-safe
    // mode: state write precedes the offset commit), then the process dies
    val s1 = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    val q1 = DedupStreaming.runNearDedupStream(spark, inputDir, docs.schema,
      s1, numHashes, bands, shingleLen, threshold, Some(ckpt), Some(stateDir))
    try {
      for (hi <- Seq(maxId / 3, 2 * maxId / 3)) {
        docs.filter(col("doc_id") <= hi)
          .filter(col("doc_id") > (if (hi == maxId / 3) -1L else maxId / 3))
          .coalesce(1).write.mode("append").parquet(inputDir)
        q1.processAllAvailable()
      }
    } finally q1.stop()

    // run 2: a fresh process reloads the durable state and the same
    // checkpoint, then the remaining batch arrives
    val s2 = DedupStreaming.loadState(spark, stateDir)
    assert(s2.maxSeenId > Long.MinValue && s2.storeSig.count() > 0,
      "persisted state failed to reload")
    val q2 = DedupStreaming.runNearDedupStream(spark, inputDir, docs.schema,
      s2, numHashes, bands, shingleLen, threshold, Some(ckpt), Some(stateDir))
    try {
      docs.filter(col("doc_id") > 2 * maxId / 3)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q2.processAllAvailable()

      // parity with the uninterrupted batch twin, layer by layer
      val batchSigIds = TextFunctions
        .signatureTable(docs, numHashes, shingleLen)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s2.storeSig.select("doc_id").collect().map(_.getLong(0)).toSet
        == batchSigIds, "restarted store diverged from the batch signing")
      val batchPairs = TextFunctions.minhashLshPairs(docs, numHashes, bands,
          shingleLen, threshold).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "fixture produced no near-dup pairs")
      assert(s2.pairsSeen.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == batchPairs, "restarted pair deltas diverged from one batch run")
      val batchLab = ConnectedComponents.minLabel(
          TextFunctions.minhashLshPairs(docs, numHashes, bands, shingleLen,
            threshold), "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(s2.labeling.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == batchLab, "restarted labeling diverged from from-scratch CC")
    } finally q2.stop()
  }

  test("near-dedup: replaying an already-absorbed batch is a no-op (crash inside the commit window)") {
    // the sequence a crash between state-persist and offset-commit
    // produces: absorb(b1), absorb(b2), CRASH, replay absorb(b2), absorb(b3)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)

    val replayed = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    DedupStreaming.absorbBatch(replayed, slice(-1, maxId / 3))
    DedupStreaming.absorbBatch(replayed, slice(maxId / 3, 2 * maxId / 3))
    DedupStreaming.absorbBatch(replayed, slice(maxId / 3, 2 * maxId / 3)) // replay
    DedupStreaming.absorbBatch(replayed, slice(2 * maxId / 3, maxId))

    val clean = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    DedupStreaming.absorbBatch(clean, slice(-1, maxId / 3))
    DedupStreaming.absorbBatch(clean, slice(maxId / 3, 2 * maxId / 3))
    DedupStreaming.absorbBatch(clean, slice(2 * maxId / 3, maxId))

    def dump(s: DedupStreaming.NearDedupState) = (
      s.storeSig.select("doc_id").collect().map(_.getLong(0)).toSet,
      s.pairsSeen.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      s.labeling.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(dump(replayed) == dump(clean),
      "a replayed batch changed the state — redelivery is not idempotent")
  }

  test("IVF store: kill between batches, restart from checkpoint + store-derived state") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val maxId = embRaw.agg(max("vec_id")).head().getLong(0)
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val base = tempDir("ivf")
    val (inputDir, ckpt, storePath) = (s"$base/in", s"$base/ckpt", s"$base/store")
    new java.io.File(inputDir).mkdirs()

    val s1 = new AnnStreaming.StoreAppendState
    val q1 = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, s1, cents, Some(ckpt))
    try {
      embRaw.filter(col("vec_id") <= maxId / 2)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q1.processAllAvailable()
    } finally q1.stop()

    // fresh process: state is DELIBERATELY a fresh empty one — the run
    // entry point must rebuild it from the store (enforced recovery, the
    // HeavyHittersStreaming pattern)
    val s2 = new AnnStreaming.StoreAppendState
    val q2 = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, s2, cents, Some(ckpt))
    try {
      assert(s2.lastBatchId >= 0L && s2.maxSeenId > Long.MinValue,
        "state not rebuilt from the landed store")
      embRaw.filter(col("vec_id") > maxId / 2)
        .coalesce(1).write.mode("append").parquet(inputDir)
      q2.processAllAvailable()

      // store content == one batch assignment; serving == batch-built store
      val batchAssign = VectorOps
        .nearestCentroid(VectorOps.prepEmb(embRaw), cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // no explicit schema on this read, so the hive partition value
      // infers as INT — cast back to the store contract's long
      val stored = spark.read.parquet(storePath)
        .select(col("vec_id"), col("cluster").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stored == batchAssign,
        "restarted store assignment diverged from the batch build")
      val queries = VectorOps.prepEmb(embRaw)
        .filter(col("vec_id") < nQueries).localCheckpoint()
      val servedBatch = VectorOps.ivfStoreTopK(spark, dir, nQueries, k,
        nlist, nprobe, trainIters).collect().toSeq
      val servedStream = VectorOps.serveFromStorePath(spark, storePath,
        queries, cents, k, nprobe).collect().toSeq
      assert(servedBatch.nonEmpty && servedStream == servedBatch,
        "restarted store served differently from the batch-built store")
    } finally q2.stop()
  }

  test("IVF store: replaying a batchId twice leaves the store equal to playing it once, and heals a partial landing") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val b1 = embRaw.filter(col("vec_id") < 100)
    val b2 = embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 200)

    def storeRows(path: String) = AnnStreaming.readStore(spark, path)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // once-played reference
    val cleanStore = tempDir("ivf_once") + "/store"
    val sClean = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(sClean, b1, 0L, cleanStore, cents)
    AnnStreaming.absorbStoreBatch(sClean, b2, 1L, cleanStore, cents)
    val once = storeRows(cleanStore)
    assert(once.size == 200 && once.map(_._1).distinct.size == 200)

    // replay-twice: crash after batch 1 landed, Spark re-invokes batchId 1
    val replayStore = tempDir("ivf_replay") + "/store"
    val sReplay = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(sReplay, b1, 0L, replayStore, cents)
    AnnStreaming.absorbStoreBatch(sReplay, b2, 1L, replayStore, cents)
    // state rebuilt as a restarted process would rebuild it
    val sAfterCrash = AnnStreaming.stateFromStore(spark, replayStore)
    AnnStreaming.absorbStoreBatch(sAfterCrash, b2, 1L, replayStore, cents)
    assert(storeRows(replayStore) == once,
      "replaying a batchId twice must leave the store byte-equal to once")

    // partial landing: the crashed attempt left only half of batch 1's
    // rows in place and never committed them; the replay must REPLACE the
    // partial landing, not append to it
    val healStore = tempDir("ivf_heal") + "/store"
    val sHeal0 = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(sHeal0, b1, 0L, healStore, cents)
    VectorOps.assignWithVectors(
        VectorOps.prepEmb(b2.filter(col("vec_id") < 150)), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
      .write.partitionBy("cluster")
      .parquet(s"$healStore/ingest_batch=1") // partial write
    val sHeal = AnnStreaming.stateFromStore(spark, healStore)
    assert(sHeal.lastBatchId == 1L,
      "a partial landing must still be visible as the last batch id")
    AnnStreaming.absorbStoreBatch(sHeal, b2, 1L, healStore, cents) // replay
    assert(storeRows(healStore) == once,
      "a replayed batch must heal the partial landing it replaces")
  }

  test("near-dedup: a persist that crashes before its commit marker is invisible, and the batch replays as fresh") {
    // the round-11 advisory window: the old per-snapshot rename protocol
    // could tear BETWEEN the signatures swap and the labeling/pairs swaps —
    // the re-derived high-water mark then claimed the batch while its
    // pairs/labeling were lost. The versioned commit closes it: a torn
    // persist is an uncommitted directory loadState never reads.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    val stateDir = tempDir("dedup_torn") + "/state"

    val s1 = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    DedupStreaming.absorbBatch(s1, slice(-1, maxId / 2))
    DedupStreaming.persistState(s1, stateDir) // committed: v0

    // batch 2 absorbs, then its persist crashes AFTER writing the (new)
    // signatures but BEFORE the commit marker — exactly the torn window
    DedupStreaming.absorbBatch(s1, slice(maxId / 2, maxId))
    s1.storeSig.write.mode("overwrite").parquet(s"$stateDir/v1/signatures")
    // no labeling/, no pairs/, no _COMMITTED: the crash point

    // a restarted process must load v0 — NOT the torn v1 — so batch 2
    // classifies as FRESH and re-absorbs; nothing is lost
    val s2 = DedupStreaming.loadState(spark, stateDir)
    assert(s2.maxSeenId == maxId / 2,
      "loadState read a torn (uncommitted) version")
    assert(DedupStreaming.absorbBatch(s2, slice(maxId / 2, maxId)),
      "the batch lost to the torn persist must replay as fresh")

    // full parity with the uninterrupted run, pairs included — the exact
    // artifact the torn window used to lose
    def dump(s: DedupStreaming.NearDedupState) = (
      s.storeSig.select("doc_id").collect().map(_.getLong(0)).toSet,
      s.pairsSeen.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      s.labeling.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(dump(s2) == dump(s1),
      "recovery from the torn persist diverged from the uninterrupted run")
  }

  test("near-dedup: a redelivered first batch after restart must not re-persist (and the next fresh batch still absorbs)") {
    // the round-11 advisory race: loadState's frames lazily read the
    // persisted files; a gratuitous persist on the skip path would retire
    // exactly those files and the next fresh absorb would die on
    // FileNotFoundException. The contract is absorbBatch == false → no
    // persist; this drives the full sequence through the loaded state.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    val stateDir = tempDir("dedup_redeliver") + "/state"

    val s1 = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    assert(DedupStreaming.absorbBatch(s1, slice(-1, maxId / 2)))
    DedupStreaming.persistState(s1, stateDir)

    val s2 = DedupStreaming.loadState(spark, stateDir)
    // crash-window redelivery of the persisted batch: skip, signal no-persist
    assert(!DedupStreaming.absorbBatch(s2, slice(-1, maxId / 2)),
      "a fully-absorbed batch must classify as a redelivery")
    // the skip left the lazily-loaded frames intact; the fresh batch
    // absorbs and the post-absorb persist retires the old version safely
    assert(DedupStreaming.absorbBatch(s2, slice(maxId / 2, maxId)))
    DedupStreaming.persistState(s2, stateDir)
    val s3 = DedupStreaming.loadState(spark, stateDir)
    assert(s3.maxSeenId == maxId && s3.storeSig.count() == docs.count(),
      "state after skip→absorb→persist→reload diverged")
  }

  test("near-dedup: persistState on a just-loaded state is a guarded no-op, not a version rewrite") {
    // the round-11 advisory's PUBLIC-API half: the skip-path contract above
    // relies on callers, but persistState itself must refuse the foot-gun —
    // called directly on a loadState result (no fresh absorb), it would
    // write a new version from frames still lazily reading the old one,
    // then delete the old one out from under them. Enforced via the
    // framesDetached flag: the call is a no-op (no new version directory),
    // and the next absorb still reads its frames successfully.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy("doc_id").localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val stateDir = tempDir("dedup_noop_persist") + "/state"
    val s1 = DedupStreaming.emptyState(spark, docs, numHashes, shingleLen)
    assert(DedupStreaming.absorbBatch(s1,
      docs.filter(col("doc_id") <= maxId / 2)))
    DedupStreaming.persistState(s1, stateDir)
    def versions() = new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).sorted.toSeq
    val v0 = versions()

    val s2 = DedupStreaming.loadState(spark, stateDir)
    assert(!DedupStreaming.persistState(s2, stateDir), // must no-op, visibly
      "the guarded no-op must return false, not claim it persisted")
    assert(versions() == v0,
      "persistState on a loaded, un-absorbed state must not write a version")
    // the guard is scoped to the LOADED dir (advisory finding, round 12):
    // persisting the same loaded state to a DIFFERENT dir is a copy/backup
    // that retires none of the files the frames read — it must write, not
    // silently skip, and the backup must be independently loadable
    val backupDir = tempDir("dedup_noop_persist_backup") + "/state"
    assert(DedupStreaming.persistState(s2, backupDir),
      "a loaded-state persist to a different dir is a backup and must write")
    assert(DedupStreaming.loadState(spark, backupDir).storeSig.count()
      == s2.storeSig.count(), "the backup must be loadable and complete")
    // the loaded frames are intact: the next fresh absorb works and its
    // persist writes the next version
    assert(DedupStreaming.absorbBatch(s2,
      docs.filter(col("doc_id") > maxId / 2)))
    assert(DedupStreaming.persistState(s2, stateDir),
      "a post-absorb persist must report it wrote")
    assert(versions() != v0, "a post-absorb persist must commit a new version")
    val s3 = DedupStreaming.loadState(spark, stateDir)
    assert(s3.storeSig.count() == docs.count())

    // and a stray directory literally named "v" cannot brick the protocol
    val stray = new java.io.File(stateDir, "v")
    assert(stray.mkdir())
    assert(new java.io.File(stray, "_COMMITTED").createNewFile())
    assert(DedupStreaming.loadState(spark, stateDir).storeSig.count()
      == docs.count(), "a stray 'v' directory must be ignored, not parsed")
  }

  test("IVF store: the batch-built seed takes appends and folds") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val b1 = embRaw.filter(col("vec_id") < 100)
    val b2 = embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val storePath = tempDir("ivf_seeded") + "/store"

    // seed the store the way the batch build does: batch -1 through the
    // stream's own landing step
    AnnStreaming.landBatch(spark, storePath, -1L)(
      VectorOps.assignWithVectors(VectorOps.prepEmb(b1), cents))

    // the high-water mark reflects the seeded ids (no double-append
    // window) and appends compose
    val st = AnnStreaming.stateFromStore(spark, storePath)
    assert(st.lastBatchId == -1L && st.maxSeenId == 99L,
      "a seeded store must report its seeded ids as absorbed")
    AnnStreaming.absorbStoreBatch(st, b2, 0L, storePath, cents)
    def stored() = AnnStreaming.readStore(spark, storePath)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchAssign = VectorOps
      .nearestCentroid(VectorOps.prepEmb(
        embRaw.filter(col("vec_id") < 200)), cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored() == batchAssign,
      "append onto the seeded store diverged from the batch assignment")
    // and a redelivery of the seed corpus under a new batchId skips
    AnnStreaming.absorbStoreBatch(st, b1, 1L, storePath, cents)
    assert(AnnStreaming.readStore(spark, storePath).count() == 200L,
      "a redelivery of the seed corpus must skip, not double-append")

    // maintenance composes with the seed: the -1 landing is older than the
    // newest streamed batch, so consolidation folds it (and any older
    // batches) into -2 while keeping the newest landing, delivery state,
    // and serving identical
    val b3 = embRaw.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    AnnStreaming.absorbStoreBatch(st, b3, 2L, storePath, cents)
    val contentBefore = AnnStreaming.readStore(spark, storePath)
      .collect().map(_.toString).sorted.toSeq
    val cstats = AnnStreaming.consolidateStore(spark, storePath)
    assert(!cstats.skipped && cstats.batchDirsAfter == 2,
      s"expected the seed + older batch folded into [-2, newest]: $cstats")
    assert(AnnStreaming.manifest(spark, storePath) == Set(-2L, 2L))
    assert(AnnStreaming.readStore(spark, storePath)
      .collect().map(_.toString).sorted.toSeq == contentBefore,
      "consolidating a seeded store changed its content")
    val st2 = AnnStreaming.stateFromStore(spark, storePath)
    assert(st2.lastBatchId == 2L && st2.maxSeenId == 299L,
      "delivery state diverged after consolidating the seeded store")
  }

  test("IVF store: a crashed mid-landing write is invisible to readers and swept at restart") {
    // round-10 stretch item: landings commit by rename, so a reader
    // concurrent with a mid-landing crash never sees a partial batch —
    // the crashed attempt exists only as a dot-prefixed staging dir that
    // partition discovery cannot list
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val b1 = embRaw.filter(col("vec_id") < 100)
    val b2 = embRaw.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val base = tempDir("ivf_atomic")
    val storePath = s"$base/store"
    val st = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(st, b1, 0L, storePath, cents)

    // the crash point: batch 1's rows fully written to staging, rename
    // never happened
    val staged = s"$storePath/.staging_ingest_batch=1"
    VectorOps.assignWithVectors(VectorOps.prepEmb(b2), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(staged)

    // a reader sees exactly the committed store — none of batch 1
    assert(spark.read.parquet(storePath).count() == 100,
      "staged (uncommitted) rows leaked into a whole-store read")
    val st2 = AnnStreaming.stateFromStore(spark, storePath)
    assert(st2.lastBatchId == 0L && st2.maxSeenId == 99L,
      "state rebuild saw the uncommitted landing")

    // the stream entry point sweeps the garbage before starting
    val inputDir = s"$base/in"
    new java.io.File(inputDir).mkdirs()
    val q = AnnStreaming.runIvfStoreAppendStream(spark, inputDir,
      embRaw.schema, storePath, st2, cents)
    try q.processAllAvailable() finally q.stop()
    assert(!new java.io.File(staged).exists(),
      "stale staging directory survived the restart sweep")
  }

  test("IVF store: a dup-id batch is rejected on the crash-replay path too") {
    val embRaw = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = VectorOps
      .persistedTrainedCentroids(spark, dir, nlist, trainIters)
    val b1 = embRaw.filter(col("vec_id") < 50)
    val storePath = tempDir("ivf_dup") + "/store"
    val st = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(st, b1, 0L, storePath, cents)
    // replay of batchId 0 arrives CORRUPTED with a duplicated id — the
    // replay branch must reject it like every other path does
    intercept[IllegalStateException] {
      AnnStreaming.absorbStoreBatch(st,
        b1.unionByName(b1.filter(col("vec_id") === 0)), 0L, storePath, cents)
    }
  }
}
