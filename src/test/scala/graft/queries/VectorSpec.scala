package graft.queries

import graft.SparkSpec

/** ANN quality: LSH results are a subset of correct cosine scores, and
  * multi-table banding recalls a useful fraction of the true top-k. */
class VectorSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("LSH ANN recall@3 vs brute force, and scores agree on shared pairs") {
    val brute = VectorOps.bruteForceTopK(spark, dir, nQueries = 50, k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ann = VectorOps.lshAnnTopK(spark, dir, nQueries = 50, k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(brute.nonEmpty)
    // every ANN hit that is also a true top-3 hit must carry the same score
    for ((k, v) <- ann if brute.contains(k))
      assert(math.abs(brute(k) - v) < 1e-9, s"score mismatch at $k")
    val recall = brute.keySet.count(ann.contains).toDouble / brute.size
    // deterministic planes + deterministic data → recall is a fixed number;
    // assert a conservative floor (measured ≈ 0.4+ on seed-42 data)
    assert(recall >= 0.2, s"recall@3 = $recall")
  }

  test("IVF ANN recall@3 vs brute force, and scores agree on shared pairs") {
    val brute = VectorOps.bruteForceTopK(spark, dir, nQueries = 50, k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivf = VectorOps.ivfAnnTopK(spark, dir, nQueries = 50, k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(brute.nonEmpty && ivf.nonEmpty)
    for ((k, v) <- ivf if brute.contains(k))
      assert(math.abs(brute(k) - v) < 1e-9, s"score mismatch at $k")
    val recall = brute.keySet.count(ivf.contains).toDouble / brute.size
    // nprobe=4 of nlist=16 inverted lists; deterministic → fixed number,
    // assert a conservative floor
    assert(recall >= 0.2, s"IVF recall@3 = $recall")
  }

  test("trained IVF quantizer: recall@3 >= the lowest-id seed's at equal nprobe") {
    val brute = VectorOps.bruteForceTopK(spark, dir, nQueries = 50, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(trainIters: Int): Double = {
      val hits = VectorOps.ivfAnnTopK(spark, dir, nQueries = 50, k = 3,
          trainIters = trainIters)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      brute.count(hits.contains).toDouble / brute.size
    }
    val seed = recallOf(0)
    val trained = recallOf(2) // what e3_ivf_ann ships
    // Lloyd refinement moves centroids toward the data's real cluster
    // structure, so partitions get tighter and equal-nprobe recall must not
    // degrade (round-8 verdict item 1's acceptance bar)
    assert(trained >= seed,
      s"trained recall@3 $trained < lowest-id-seed recall@3 $seed")
    assert(trained >= 0.2, s"trained IVF recall@3 = $trained")
  }

  test("PQ-ADC recall@5 vs exact L2, and re-ranked distances are exact") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.toDoubleArr
    // exact top-5 by the same quantized squared-L2 the query re-ranks with
    val all = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val l2 = aggregate(zip_with(col("qv"), col("v"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + round(t * 1e6, 0).cast("long"))
    val brute = broadcast(q).join(all, col("q_id") =!= col("vec_id"))
      .withColumn("l2", l2)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("q_id").orderBy(col("l2"), col("vec_id"))))
      .filter(col("rn") <= 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
        -> r.getAs[Long]("l2")).toMap
    val pq = QueryCatalog.queries("e3_pq_adc")(spark, dir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
        -> r.getAs[Long]("l2_micros")).toMap
    assert(brute.nonEmpty && pq.nonEmpty)
    // the re-ranked distance is the TRUE distance wherever ANN found a
    // true top-5 neighbor
    for ((k, v) <- pq if brute.contains(k))
      assert(brute(k) == v, s"exact re-rank distance mismatch at $k")
    val recall = brute.keySet.count(pq.contains).toDouble / brute.size
    // 16-codeword × 8-subspace codebook on seed-42 data is deterministic;
    // conservative floor (measured well above)
    assert(recall >= 0.4, s"PQ recall@5 = $recall")
    // trained codebook (1 Lloyd refinement, what e3_pq_adc ships) must not
    // recall worse than the raw lowest-16-id seed at the same shortlist
    val seedPq = VectorOps.pqAdcTopK(spark, dir, refineIters = 0)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val seedRecall = brute.keySet.count(seedPq.contains).toDouble / brute.size
    assert(recall >= seedRecall,
      s"trained PQ recall@5 $recall < seed codebook recall@5 $seedRecall")
  }

  test("IVF store serving: byte-parity with the batch plan, partitioned layout on disk") {
    // the on-disk partitioned posting store must answer queries exactly as
    // the from-scratch batch build — same quantizer artifact, same
    // assignment, same re-rank; only WHERE the posting rows live differs
    val batch = VectorOps.ivfAnnTopK(spark, dir, nQueries = 50, k = 3,
      trainIters = 2).collect().toSeq
    val store = VectorOps.ivfStoreTopK(spark, dir, nQueries = 50, k = 3,
      trainIters = 2).collect().toSeq
    assert(batch.nonEmpty)
    assert(store == batch, "store-served top-k must equal the batch plan's")
    // the layout claim is real: one hive-style directory per inverted
    // list, inside the build's landing (batch -1)
    val path = VectorOps.postingStorePath(spark, dir, nlist = 16,
      trainIters = 2)
    val parts = new java.io.File(path, "ingest_batch=-1").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(parts.length > 1,
      s"expected one directory per inverted list under $path")
  }

  test("LSH store serving: byte-parity with the from-scratch plan") {
    // the persisted bucket index must answer exactly as the plan that
    // re-hashes the corpus — the index holds the same (vec_id, tb) rows
    // the explode produces, and the probe/re-rank is the same code
    val scratch = VectorOps.lshAnnTopK(spark, dir, nQueries = 50, k = 3)
      .collect().toSeq
    val store = VectorOps.lshStoreTopK(spark, dir, nQueries = 50, k = 3)
      .collect().toSeq
    assert(scratch.nonEmpty)
    assert(store == scratch,
      "index-served LSH top-k must equal the from-scratch plan's")
  }

  test("PQ store serving: byte-parity with the from-scratch plan") {
    // persisted codebook + code table vs retrain-and-re-encode: the ADC
    // sums, shortlist, and exact re-rank must be bit-identical
    val scratch = VectorOps.pqAdcTopK(spark, dir, refineIters = 1)
      .collect().toSeq
    val store = VectorOps.pqStoreTopK(spark, dir, refineIters = 1)
      .collect().toSeq
    assert(scratch.nonEmpty)
    assert(store == scratch,
      "index-served PQ top-k must equal the from-scratch plan's")
  }

  test("hybrid RRF id-alignment canary: embeddings.vec_id IS documents.doc_id") {
    // e3_hybrid_rrf fuses the dense list (over embeddings) with the sparse
    // list (over documents) BY ID — which is only meaningful because the
    // fixture's embeddings are the documents' embeddings, 1:1 by id. If
    // the driver ever decouples the two tables, this canary fails with a
    // diff instead of the fusion silently merging unrelated entities.
    val vecIds = graft.Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val docIds = graft.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(vecIds == docIds,
      s"id sets diverged: ${(vecIds diff docIds).take(5)} only in embeddings, " +
        s"${(docIds diff vecIds).take(5)} only in documents")
  }

  test("hybrid RRF: contiguous ranks, sane scores, two-list hits score higher") {
    val rows = QueryCatalog.queries("e3_hybrid_rrf")(spark, dir).collect()
    assert(rows.nonEmpty)
    // per query: ranks are 1..n contiguous, scores non-increasing
    for ((q, rs0) <- rows.groupBy(_.getAs[Long]("q_id"))) {
      val rs = rs0.sortBy(_.getAs[Long]("rank"))
      assert(rs.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length).toSeq,
        s"q$q: ranks not contiguous")
      val scores = rs.map(_.getAs[Double]("rrf_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q$q: scores not non-increasing")
    }
    for (r <- rows) {
      val nLists = r.getAs[Long]("n_lists")
      val score = r.getAs[Double]("rrf_score")
      assert(nLists == 1L || nLists == 2L)
      // depth-10 lists with k0=60: a single-list hit scores in
      // [1/70, 1/61]; a both-lists hit in [2/70, 2/61] (1e-6 margin for
      // the round-to-6 in the emitted score)
      if (nLists == 1L) assert(score >= 1.0 / 70 - 1e-6 && score <= 1.0 / 61 + 1e-6)
      else assert(score >= 2.0 / 70 - 1e-6 && score <= 2.0 / 61 + 1e-6)
    }
    // RRF's defining property at this depth/k0: appearing in BOTH lists
    // (any ranks) beats appearing in one (best rank): 2/70 > 1/61
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      val firstSingle = sorted.indexWhere(_.getAs[Long]("n_lists") == 1L)
      val lastDouble = sorted.lastIndexWhere(_.getAs[Long]("n_lists") == 2L)
      if (firstSingle >= 0 && lastDouble >= 0)
        assert(lastDouble < firstSingle,
          s"q$q: a one-list hit outranked a two-list hit")
    }
  }

  test("semdedup: every dup pairs with a lower-id keeper in its own cluster") {
    val rows = QueryCatalog.queries("e3_semdedup")(spark, dir).collect()
    assert(rows.nonEmpty)
    // cluster ids come from the 16-centroid coarse quantizer
    val clusters = rows.map(_.getAs[Long]("cluster")).toSet
    assert(clusters.forall(c => c >= 0 && c < 16))
    for (r <- rows) {
      assert(r.getAs[Long]("keeper_id") < r.getAs[Long]("dup_id"))
      assert(r.getAs[Double]("best_cos") >= 0.4)
      assert(r.getAs[Long]("n_candidates") >= 1)
    }
    // a dup appears exactly once (the decision step collapses candidates)
    val dups = rows.map(_.getAs[Long]("dup_id"))
    assert(dups.distinct.length == dups.length)
  }
}
