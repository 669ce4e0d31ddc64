package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.VectorOps

/** IVF cold-side maintenance under DISTRIBUTION DRIFT — the complement of
  * [[IvfDriftSpec]] (round-16 verdict item 2): drift doesn't only pile
  * rows into hot lists, it also DRAINS lists, and a dead centroid wastes
  * one probe of every query whose nprobe-nearest set includes it, forever.
  * [[AnnStreaming.coldListAudit]] is the signal (it sees zero-row lists
  * the hot audit structurally can't); [[AnnStreaming.mergeColdLists]] is
  * the bounded response — relabel the cold lists' rows to their nearest
  * SURVIVING centroids through the consolidation protocol FIRST, then
  * retire provably-empty centroids LAST (the inverse of split's ordering,
  * because this quantizer refresh is subtractive: the quantizer must keep
  * a row's label probe-able until the row has provably moved).
  *
  * Fixture: a 6-centroid quantizer over 4 dims — the four axes plus a
  * diagonal c4 (cold: two rows) and a diagonal c5 (dead: zero rows). */
class IvfMergeSpec extends SparkSpec {

  import spark.implicits._

  private val R2 = math.sqrt(0.5) // 0.7071…: unit diagonal component

  private def cents6: DataFrame = Seq(
    (0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
    (1L, Seq(0.0, 1.0, 0.0, 0.0), 1.0),
    (2L, Seq(0.0, 0.0, 1.0, 0.0), 1.0),
    (3L, Seq(0.0, 0.0, 0.0, 1.0), 1.0),
    (4L, Seq(0.0, 0.0, R2, R2), 1.0), // cold diagonal (dims 2/3)
    (5L, Seq(R2, R2, 0.0, 0.0), 1.0)  // dead diagonal (dims 0/1)
  ).toDF("c_id", "cv", "cn")

  private def axisRow(id: Long, axis: Int): (Long, Array[Float]) = {
    val v = Array.fill(4)(0.0f)
    v(axis) = 1.0f
    v((axis + 1) % 4) = (id % 5).toFloat * 1e-3f
    (id, v)
  }

  /** Cold-region pair: both assign to c4 (cos ≈ 0.99 beats the 0.8/0.6
    * axis cosines) yet their nearest SURVIVORS differ — r18 → c2,
    * r19 → c3 — so the merge demonstrably re-homes them apart. */
  private val coldPair = Seq(
    (18L, Array(0.0f, 0.0f, 0.8f, 0.6f)),
    (19L, Array(0.0f, 0.0f, 0.6f, 0.8f)))

  private def toDf(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def newStore(tag: String): String = tempDir(tag) + "/store"

  /** batches 0/1 carry the populations (incl. the cold pair — EARLY, so
    * the fold reaches them); batch 2 (newest, stays un-folded) is pure
    * axis-0, so the cold list drains completely. */
  private def buildDrainedStore(): String = {
    val store = newStore("drain")
    val st = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(st, toDf(
      (0L until 8L).map(axisRow(_, 0)) ++ (10L until 18L).map(axisRow(_, 1))
        ++ coldPair), 0L, store, cents6)
    AnnStreaming.absorbStoreBatch(st, toDf(
      (20L until 28L).map(axisRow(_, 2)) ++
        (30L until 38L).map(axisRow(_, 3))), 1L, store, cents6)
    AnnStreaming.absorbStoreBatch(st,
      toDf((40L until 44L).map(axisRow(_, 0))), 2L, store, cents6)
    store
  }

  private def bruteTopK(store: String, qIds: Seq[Long],
      k: Int): Map[Long, Seq[Long]] = {
    val all = AnnStreaming.readStore(spark, store)
      .select("vec_id", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)) =
      a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)
    qIds.map { q =>
      val qv = all.find(_._1 == q).get
      q -> all.filter(_._1 != q)
        .sortBy(c => (-cos(qv, c), c._1)).take(k).map(_._1).toSeq
    }.toMap
  }

  private def servedTopK(store: String, quantizer: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): Map[Long, Seq[Long]] =
    VectorOps.serveFromStorePath(spark, store, queries,
        broadcast(quantizer), k, nprobe)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }

  private def storeQueries(store: String, qIds: Seq[Long]): DataFrame =
    AnnStreaming.readStore(spark, store)
      .filter(col("vec_id").isin(qIds: _*)).select("vec_id", "v", "nrm")

  private def listCounts(store: String): Map[Long, Long] =
    AnnStreaming.readStore(spark, store).groupBy("cluster").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val mergeQueries = Seq(3L, 13L, 23L, 33L, 18L, 19L, 41L)

  test("drained store: audit flags cold + dead, merge re-homes and retires, loses nothing, serving stays exact") {
    val store = buildDrainedStore()
    val audit = AnnStreaming.coldListAudit(spark, store, cents6,
        coldFactor = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(audit == Map(
      0L -> ((false, false, false)), 1L -> ((false, false, false)),
      2L -> ((false, false, false)), 3L -> ((false, false, false)),
      4L -> ((true, false, false)),  // cold: 2 rows, ratio 2/6.33
      5L -> ((false, true, false)))) // dead: zero rows

    val before = listCounts(store)
    assert(before.get(4L).contains(2L) && !before.contains(5L),
      s"fixture drained lists miscounted: $before")
    val idsBefore = AnnStreaming.readStore(spark, store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val truth = bruteTopK(store, mergeQueries, 1)

    var persisted: Option[DataFrame] = None
    val (refreshed, stats) = AnnStreaming.mergeColdLists(spark, store,
      cents6, persistRefreshed = df => persisted = Some(df),
      coldFactor = 0.5)
    assert(stats.exists(_.coldClusters == Seq(4L)))
    assert(stats.exists(_.orphans == Seq.empty))
    assert(stats.exists(_.retired == Seq(4L, 5L)))
    assert(stats.exists(_.draining == Seq.empty))
    assert(persisted.isDefined, "retirement must fire the persist callback")
    // the refresh is SUBTRACTIVE: both drained centroids gone, axes kept
    assert(refreshed.select("c_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))

    // the cold pair re-homed APART, each to its own nearest survivor
    val after = listCounts(store)
    assert(!after.contains(4L) && !after.contains(5L),
      s"cold list not drained: $after")
    assert(after.values.sum == before.values.sum)
    assert(after(2L) == before(2L) + 1 && after(3L) == before(3L) + 1,
      s"cold pair not re-homed to nearest survivors: $before -> $after")
    val idsAfter = AnnStreaming.readStore(spark, store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idsAfter == idsBefore)

    // serving against the shrunken quantizer is still EXACT, including on
    // the re-homed rows themselves
    assert(servedTopK(store, refreshed, storeQueries(store, mergeQueries),
      1, nprobe = 2) == truth)
  }

  test("retirement recovers probe budget: a probe burned on the dead list misses results the retired quantizer finds") {
    val store = buildDrainedStore()
    // external query on the c5 diagonal: nearest centroid is DEAD c5
    // (cos 0.998), then c1 (0.751), then c0 (0.661); its true top-10 spans
    // lists 1 AND 0 (8 axis-1 rows, then the 2 best axis-0 rows)
    val q = Seq((999L, Seq(0.66, 0.75, 0.0, 0.0)))
      .toDF("vec_id", "v")
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0),
        (acc, x) => acc + x * x)))
    val served = (quant: DataFrame) =>
      servedTopK(store, quant, q, k = 10, nprobe = 2)
        .getOrElse(999L, Seq.empty)
    // pre-merge: probes {c5, c1} — one probe of the budget burns on the
    // empty dead list, so only list 1's 8 rows surface and the two true
    // axis-0 members of the top-10 are missed
    val pre = served(cents6)
    val (refreshed, stats) =
      AnnStreaming.mergeColdLists(spark, store, cents6, coldFactor = 0.5)
    assert(stats.nonEmpty)
    // post-retire: the SAME nprobe now probes {c1, c0} — the full top-10
    val post = served(refreshed)
    val axis1 = (10L until 18L).toSet
    assert(pre.size == 8 && pre.toSet == axis1,
      s"pre-merge, the dead probe must cost the axis-0 hits: $pre")
    // the two axis-0 entrants: highest dim-1 jitter wins (id 4, j=.004),
    // then the j=.003 tie (ids 3 and 43) breaks to the lowest vec_id
    assert(post.size == 10 && post.toSet == axis1 ++ Set(4L, 3L),
      s"retired quantizer must recover the cross-list top-10: $post")
  }

  test("a cold straggler in the un-folded newest landing keeps its centroid DRAINING; a later pass retires it") {
    val store = newStore("draining")
    val st = new AnnStreaming.StoreAppendState
    AnnStreaming.absorbStoreBatch(st, toDf(
      (0L until 8L).map(axisRow(_, 0)) ++ (10L until 18L).map(axisRow(_, 1))
        ++ coldPair), 0L, store, cents6)
    AnnStreaming.absorbStoreBatch(st, toDf(
      (20L until 28L).map(axisRow(_, 2)) ++
        (30L until 38L).map(axisRow(_, 3))), 1L, store, cents6)
    // newest landing CARRIES a cold-region straggler — the fold must not
    // touch it (crash-replay contract), so c4 cannot retire this pass
    AnnStreaming.absorbStoreBatch(st, toDf(
      (40L until 44L).map(axisRow(_, 0)) :+
        ((120L, Array(0.0f, 0.0f, 0.7f, 0.7f)))), 2L, store, cents6)
    val truth = bruteTopK(store, mergeQueries :+ 120L, 1)

    var persistCount = 0
    val (q1, s1) = AnnStreaming.mergeColdLists(spark, store, cents6,
      persistRefreshed = _ => persistCount += 1, coldFactor = 0.5)
    assert(s1.exists(_.coldClusters == Seq(4L)))
    assert(s1.exists(_.retired == Seq(5L)), "the dead list retires now")
    assert(s1.exists(_.draining == Seq(4L)),
      "the straggler-holding list must keep DRAINING, not retire")
    assert(q1.select("c_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L))
    assert(persistCount == 1)
    // the straggler stays reachable through its retained centroid
    assert(servedTopK(store, q1, storeQueries(store, mergeQueries :+ 120L),
      1, nprobe = 2) == truth)

    // a later landing folds the straggler; the next pass retires c4
    AnnStreaming.absorbStoreBatch(st,
      toDf((130L until 134L).map(axisRow(_, 1))), 3L, store, cents6)
    val (q2, s2) = AnnStreaming.mergeColdLists(spark, store, q1,
      persistRefreshed = _ => persistCount += 1, coldFactor = 0.5)
    assert(s2.exists(_.retired == Seq(4L)))
    assert(s2.exists(_.draining == Seq.empty))
    assert(q2.select("c_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
    assert(persistCount == 2)
    val truth2 = bruteTopK(store, mergeQueries :+ 120L, 1)
    assert(servedTopK(store, q2, storeQueries(store, mergeQueries :+ 120L),
      1, nprobe = 2) == truth2)
  }

  test("crash mid-fold loses maintenance, never reachability or the quantizer; recovery completes the merge") {
    val store = buildDrainedStore()
    val truth = bruteTopK(store, mergeQueries, 1)
    val entriesBefore = AnnStreaming.manifestEntries(spark, store)
    var persisted: Option[DataFrame] = None
    AnnStreaming.consolidateCrashpoint = name =>
      if (name == "verified") throw new RuntimeException("crash-mid-fold")
    val boom = intercept[RuntimeException] {
      AnnStreaming.mergeColdLists(spark, store, cents6,
        persistRefreshed = df => persisted = Some(df), coldFactor = 0.5)
    }
    AnnStreaming.consolidateCrashpoint = _ => ()
    assert(boom.getMessage == "crash-mid-fold")
    // retire is LAST: a crash during the fold must leave the quantizer
    // untouched (the inverse of split, whose persist comes first)
    assert(persisted.isEmpty,
      "the quantizer must NOT refresh before the fold commits")
    assert(AnnStreaming.manifestEntries(spark, store) == entriesBefore,
      "the crashed fold must leave the store unswapped")
    // the ORIGINAL quantizer over the unswapped store: every row reachable
    assert(servedTopK(store, cents6, storeQueries(store, mergeQueries),
      1, nprobe = 2) == truth)

    AnnStreaming.recoverConsolidation(spark, store)
    val (refreshed, stats) =
      AnnStreaming.mergeColdLists(spark, store, cents6, coldFactor = 0.5)
    assert(stats.exists(_.retired == Seq(4L, 5L)))
    assert(refreshed.select("c_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
    assert(servedTopK(store, refreshed, storeQueries(store, mergeQueries),
      1, nprobe = 2) == truth)
  }

  test("a stale appender's rows against a retired centroid surface as ORPHANS and the next pass rescues them") {
    val store = buildDrainedStore()
    val (refreshed, stats) =
      AnnStreaming.mergeColdLists(spark, store, cents6, coldFactor = 0.5)
    assert(stats.exists(_.retired == Seq(4L, 5L)))
    // a stale appender still frozen on the OLD 6-centroid quantizer lands
    // a c4-region row — labeled with a centroid the refreshed quantizer
    // no longer carries
    val st = AnnStreaming.stateFromStore(spark, store)
    AnnStreaming.absorbStoreBatch(st,
      toDf(Seq((130L, Array(0.0f, 0.0f, 0.75f, 0.66f)))), 10L, store, cents6)
    AnnStreaming.absorbStoreBatch(st,
      toDf((140L until 142L).map(axisRow(_, 0))), 11L, store, cents6)
    val audit = AnnStreaming.coldListAudit(spark, store, refreshed,
        coldFactor = 0.5)
      .filter(col("is_orphan")).collect().map(_.getLong(0)).toSeq
    assert(audit == Seq(4L), "the stray label must surface as an orphan")
    // unreachable THROUGH the refreshed quantizer (the documented
    // stale-appender window) …
    val served = servedTopK(store, refreshed,
      storeQueries(store, Seq(23L)), 1, nprobe = 6)
    assert(!served(23L).contains(130L))
    // … until the next merge pass rescues it to a surviving list
    val (q2, s2) = AnnStreaming.mergeColdLists(spark, store, refreshed,
      coldFactor = 0.5)
    assert(s2.exists(_.orphans == Seq(4L)))
    val counts = listCounts(store)
    assert(!counts.contains(4L), s"orphan rows not rescued: $counts")
    val truth = bruteTopK(store, Seq(130L), 1)
    assert(servedTopK(store, q2, storeQueries(store, Seq(130L)),
      1, nprobe = 2) == truth)
  }

  test("healthy store: merge is a no-op — quantizer handed back, store untouched") {
    val store = newStore("noop")
    val st = new AnnStreaming.StoreAppendState
    val cents4 = cents6.filter(col("c_id") < 4)
    for (b <- 0 to 2) {
      val rows = (0 until 4).flatMap { axis =>
        val base = 100L * b + 25L * axis
        (base until base + 6L).map(axisRow(_, axis))
      }
      AnnStreaming.absorbStoreBatch(st, toDf(rows), b.toLong, store, cents4)
    }
    val entriesBefore = AnnStreaming.manifestEntries(spark, store)
    val (same, stats) = AnnStreaming.mergeColdLists(spark, store, cents4)
    assert(stats.isEmpty)
    assert(same eq cents4, "no-op must hand the caller's quantizer back")
    assert(AnnStreaming.manifestEntries(spark, store) == entriesBefore,
      "no-op merge must not touch the store")
  }
}
