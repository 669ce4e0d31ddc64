package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PQ codebook staleness under DISTRIBUTION DRIFT (round-16 verdict item
  * 3): the codebook is trained once at index-build time, so a drifting
  * embedding distribution raises encoding distortion in exactly the
  * drifted sub-spaces while the codebook stands still — ADC distances
  * quietly degrade and nothing in the serving path pushes back.
  * [[VectorOps.pqDistortionOf]] is the per-sub-space measurement (the
  * driver-checked e3_pq_distortion row is its oracle-replayed twin);
  * [[VectorOps.pqDriftAudit]] is the decision gate, shaped like the IVF
  * list-skew audit (ratio + boolean gate) against the codebook's own
  * training-time baseline; retraining via
  * [[VectorOps.pqCodebook]] on the drifted corpus is the response. This
  * spec drives the full loop and pins that the NUMBER MOVES: clean →
  * flagged in exactly the shifted sub-spaces → recovered after retrain.
  *
  * Fixture: 200 base vectors with deterministic spread; 100 drifted
  * vectors identical in shape except sub-spaces 2 and 5 (dims 16-23 and
  * 40-47) sit at a constant +5.0 — far outside the trained codewords. */
class PqDriftSpec extends SparkSpec {

  import spark.implicits._

  private val DriftedSubspaces = Set(2, 5)

  private def baseVec(id: Long): Array[Float] =
    Array.tabulate(64)(d => (((id * 31 + d * 7) % 97).toFloat / 97.0f))

  private def driftVec(id: Long): Array[Float] = {
    val v = baseVec(id)
    for (j <- DriftedSubspaces; d <- j * 8 until j * 8 + 8) v(d) = 5.0f
    v
  }

  private def toEmb(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArr(col("embedding")).as("v"))

  private val popA = (0L until 200L).map(id => (id, baseVec(id)))
  private val popB = (1000L until 1100L).map(id => (id, driftVec(id)))

  private def distortionMap(sub: DataFrame, cb: DataFrame): Map[Int, Double] =
    VectorOps.pqDistortionOf(sub, cb).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap

  test("drift raises distortion in exactly the shifted sub-spaces; the audit flags them; retrain recovers") {
    val subA = VectorOps.pqSub(toEmb(popA))
    val cb = VectorOps.pqSeedCb(subA)

    // training-time baseline, measured on the training corpus — in
    // production this persists next to the codebook artifact
    // (pqBaselineDistortion); here the spec holds it explicitly
    val baselineA = VectorOps.pqDistortionOf(subA, cb)
      .localCheckpoint(true, graft.operators.Ckpt.SerLevel)

    // clean corpus, clean audit: every ratio is exactly 1
    val cleanAudit = VectorOps
      .pqDriftAudit(subA, cb, baselineA, staleFactor = 4.0)
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(cleanAudit.size == 8 && cleanAudit.values.forall(_ == false),
      s"clean corpus must not flag: $cleanAudit")
    val distClean = distortionMap(subA, cb)

    // drifted corpus against the STALE codebook: distortion explodes in
    // sub-spaces 2/5 (the +5.0 shift is far outside every codeword) and
    // holds at baseline elsewhere
    val subDrift = VectorOps.pqSub(toEmb(popA ++ popB))
    val distStale = distortionMap(subDrift, cb)
    for (j <- DriftedSubspaces)
      assert(distStale(j) > 10 * distClean(j),
        s"sub-space $j should blow up: clean ${distClean(j)} vs stale ${distStale(j)}")
    for (j <- (0 until 8).filterNot(DriftedSubspaces))
      assert(distStale(j) < 2 * distClean(j),
        s"un-drifted sub-space $j should hold: ${distClean(j)} vs ${distStale(j)}")

    // the audit gate (the consolidation decision, same shape as the IVF
    // list-skew audit) flags EXACTLY the drifted sub-spaces
    val staleAudit = VectorOps
      .pqDriftAudit(subDrift, cb, baselineA, staleFactor = 4.0)
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(staleAudit.filter(_._2).keySet == DriftedSubspaces,
      s"audit must flag exactly $DriftedSubspaces: $staleAudit")

    // RESPONSE: retrain on the drifted corpus through the real persisted
    // path (pqCodebook over a written fixture — the artifact key folds
    // the fixture token, so the refreshed data replaces the artifact)
    val dir = tempDir("pq_drift")
    (popA ++ popB).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cb2 = VectorOps.pqCodebook(spark, dir, subDrift, refineIters = 1)
    val distRetrained = distortionMap(subDrift, cb2)
    for (j <- DriftedSubspaces)
      assert(distRetrained(j) < 0.8 * distStale(j),
        s"retrain must recover sub-space $j: stale ${distStale(j)} vs retrained ${distRetrained(j)}")
    // the retrain refreshes the baseline with the codebook (the persisted
    // artifact key couples them), so the audit measures degradation SINCE
    // THIS training — clean by construction right after, and armed to
    // catch the NEXT drift
    val baseline2 = VectorOps.pqDistortionOf(subDrift, cb2)
      .localCheckpoint(true, graft.operators.Ckpt.SerLevel)
    val retrainedAudit = VectorOps
      .pqDriftAudit(subDrift, cb2, baseline2, staleFactor = 4.0)
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(retrainedAudit.values.forall(_ == false),
      s"retrained codebook must clear the audit: $retrainedAudit")
  }
}
