package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.VectorOps

/** IVF inverted-list maintenance under DISTRIBUTION DRIFT (round-15 verdict
  * item 5): the append stream assigns against a frozen quantizer, so a
  * drifting embedding distribution piles rows into a few hot lists and
  * probe cost concentrates. [[AnnStreaming.listSkewAudit]] is the signal;
  * [[AnnStreaming.splitHotLists]] is the bounded response — re-train ONLY
  * the hot lists' sub-centroids on a sample, relabel ONLY their rows
  * through the consolidation protocol, and refresh the quantizer
  * ADDITIVELY so every intermediate state (including a crash between the
  * quantizer persist and the relabel fold) still serves every row.
  *
  * Fixture: a 4-axis quantizer; three drift batches land a two-population
  * mixture (A/B around axis 0) into cluster 0 while the other lists stay
  * small — the classic "yesterday's crawl looks different" shape. */
class IvfDriftSpec extends SparkSpec {

  import spark.implicits._

  private val axes = Seq(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
    Array(0.0, 0.0, 1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))

  private def cents: DataFrame =
    axes.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq, 1.0) }
      .toDF("c_id", "cv", "cn")

  /** Cluster-0 mixture member: even ids lean +0.35 on dim 1 (pop A), odd
    * ids −0.35 (pop B); dims 2/3 carry deterministic jitter so every
    * cosine is distinct. */
  private def mix(id: Long): (Long, Array[Float]) =
    (id, Array(1.0f, if (id % 2 == 0) 0.35f else -0.35f,
      (id % 7).toFloat * 1e-3f, (id % 11).toFloat * 1e-3f))

  private def coldRegion(id: Long, axis: Int): (Long, Array[Float]) = {
    val v = Array.fill(4)(0.0f)
    v(axis) = 1.0f
    v((axis + 1) % 4) = (id % 5).toFloat * 1e-3f
    (id, v)
  }

  private def toDf(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** Land the drifted fixture: batch 0 mixed regions, batches 1-3 pure
    * cluster-0 mixture (the drift), batch 4 (newest, stays un-folded) cold. */
  private def buildDriftedStore(): String = {
    val store = tempDir("drift") + "/store"
    val st = new AnnStreaming.StoreAppendState
    val b0 = (0L until 10L).map(mix) ++
      (10L until 20L).map(coldRegion(_, 1)) ++
      (20L until 30L).map(coldRegion(_, 2)) ++
      (30L until 40L).map(coldRegion(_, 3))
    AnnStreaming.absorbStoreBatch(st, toDf(b0), 0L, store, cents)
    for (b <- 1 to 3) {
      val ids = (40L + 30L * (b - 1)) until (40L + 30L * b)
      AnnStreaming.absorbStoreBatch(st, toDf(ids.map(mix)), b.toLong,
        store, cents)
    }
    AnnStreaming.absorbStoreBatch(st,
      toDf((130L until 135L).map(coldRegion(_, 1))), 4L, store, cents)
    store
  }

  /** Exact top-1 neighbor (excluding self) over the store's own prepped
    * doubles — the ground truth serving must match. */
  private def bruteTop1(store: String, qIds: Seq[Long]): Map[Long, Long] = {
    val all = AnnStreaming.readStore(spark, store)
      .select("vec_id", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)) =
      a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)
    qIds.map { q =>
      val qv = all.find(_._1 == q).get
      q -> all.filter(_._1 != q)
        .maxBy(c => (cos(qv, c), -c._1))._1
    }.toMap
  }

  private def servedTop1(store: String, quantizer: DataFrame,
      qIds: Seq[Long], nprobe: Int): Map[Long, Long] = {
    val queries = AnnStreaming.readStore(spark, store)
      .filter(col("vec_id").isin(qIds: _*)).select("vec_id", "v", "nrm")
    VectorOps.serveFromStorePath(spark, store, queries,
        broadcast(quantizer), 1, nprobe)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
  }

  private def listCounts(store: String): Map[Long, Long] =
    AnnStreaming.readStore(spark, store).groupBy("cluster").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val driftQueries = Seq(41L, 44L, 71L, 82L, 101L, 112L, 15L, 25L)

  test("drifted store: audit flags the hot list, split bounds it, loses nothing, serving stays exact") {
    val store = buildDriftedStore()
    val audit = AnnStreaming.listSkewAudit(spark, store, hotFactor = 2.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(audit == Map(0L -> true, 1L -> false, 2L -> false, 3L -> false))

    val before = listCounts(store)
    assert(before(0L) == 100L, s"fixture drift miscounted: $before")
    val idsBefore = AnnStreaming.readStore(spark, store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val truth = bruteTop1(store, driftQueries)

    var persisted: Option[DataFrame] = None
    val (refreshed, stats) = AnnStreaming.splitHotLists(spark, store, cents,
      persistRefreshed = df => persisted = Some(df), hotFactor = 2.0)
    assert(stats.exists(_.hotClusters == Seq(0L)))
    assert(stats.exists(_.subCentroids == 2L))
    // the refresh is ADDITIVE: all four old centroids retained, two fresh
    // ids minted above the old max — and it was persisted via the callback
    val refIds = refreshed.select("c_id").collect().map(_.getLong(0)).toSet
    assert(refIds == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(persisted.isDefined)

    // bounded lists: the 100-row hot list splits into two ~50s; nothing lost
    val after = listCounts(store)
    assert(after.getOrElse(0L, 0L) == 0L,
      s"hot list not emptied (newest batch carried no cluster-0 rows): $after")
    assert(after.values.max <= (before.values.max * 7) / 10,
      s"split did not bound the hot list: $before -> $after")
    assert(after.values.sum == before.values.sum)
    val idsAfter = AnnStreaming.readStore(spark, store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idsAfter == idsBefore)

    // serving against the refreshed quantizer is still EXACT on both the
    // relabeled (drifted) and untouched (cold) populations
    assert(servedTop1(store, refreshed, driftQueries, nprobe = 2) == truth)
  }

  test("undrifted store: split is a no-op — quantizer untouched, store untouched, serving byte-identical") {
    val store = tempDir("nodrift") + "/store"
    val st = new AnnStreaming.StoreAppendState
    for (b <- 0 to 2) {
      val rows = (0 until 4).flatMap { axis =>
        val base = 100L * b + 25L * axis
        (base until base + 8L).map(coldRegion(_, axis))
      }
      AnnStreaming.absorbStoreBatch(st, toDf(rows), b.toLong, store, cents)
    }
    val entriesBefore = AnnStreaming.manifestEntries(spark, store)
    val qIds = Seq(3L, 28L, 52L, 77L, 103L)
    val quantizer = cents
    val servedBefore = servedTop1(store, quantizer, qIds, nprobe = 2)

    val (same, stats) = AnnStreaming.splitHotLists(spark, store, quantizer)
    assert(stats.isEmpty)
    assert(same eq quantizer, "no-op must hand the caller's quantizer back")
    assert(AnnStreaming.manifestEntries(spark, store) == entriesBefore,
      "no-op split must not touch the store")
    assert(servedTop1(store, cents, qIds, nprobe = 2) == servedBefore)
  }

  test("crash between quantizer refresh and relabel fold loses maintenance, never reachability") {
    val store = buildDriftedStore()
    val truth = bruteTop1(store, driftQueries)
    val entriesBefore = AnnStreaming.manifestEntries(spark, store)
    var persisted: Option[DataFrame] = None
    AnnStreaming.consolidateCrashpoint = name =>
      if (name == "verified") throw new RuntimeException("crash-after-persist")
    val boom = intercept[RuntimeException] {
      AnnStreaming.splitHotLists(spark, store, cents,
        persistRefreshed = df => persisted = Some(df), hotFactor = 2.0)
    }
    AnnStreaming.consolidateCrashpoint = _ => ()
    assert(boom.getMessage == "crash-after-persist")
    assert(persisted.isDefined, "the quantizer must persist BEFORE the fold")
    assert(AnnStreaming.manifestEntries(spark, store) == entriesBefore,
      "the crashed fold must leave the store unswapped")

    // the REFRESHED quantizer against the UNSPLIT store: rows still carry
    // the old label, the old centroid is retained, so a drifted query's
    // second probe is the old list — every row reachable, serving exact
    assert(servedTop1(store, persisted.get, driftQueries, nprobe = 2) == truth)

    // recovery sweeps the crashed staging; the re-run completes and mints
    // the SAME fresh ids (deterministic training on the same store)
    AnnStreaming.recoverConsolidation(spark, store)
    val (refreshed, stats) = AnnStreaming.splitHotLists(spark, store, cents,
      hotFactor = 2.0)
    assert(stats.nonEmpty)
    assert(refreshed.select("c_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(servedTop1(store, refreshed, driftQueries, nprobe = 2) == truth)
  }
}
