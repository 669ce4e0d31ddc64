package graft.queries

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Pipeline observability surfaces: inline quality metrics via observe()
  * (no second scan) and storage-codec round-trips — the ops hooks a 100 TB
  * job exposes to its monitoring, asserted against known data facts. */
class ObservabilitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("observe() reports row/null/range metrics from the SAME pass") {
    val obs = Observation("events_quality")
    val ev = Tables.events(spark, dir)
    val out = ev.observe(obs,
        count(lit(1)).as("rows"),
        sum(col("value").isNull.cast("long")).as("null_values"),
        min("ts").as("ts_min"), max("ts").as("ts_max"))
      .filter(col("event_type") === "purchase")
    val kept = out.count()
    val m = obs.get
    // the metrics describe the FULL scan (pre-filter), proving they ride
    // the existing pass rather than a second job
    assert(m("rows") == ev.count())
    assert(kept < m("rows").asInstanceOf[Long])
    assert(m("null_values") ==
      ev.filter(col("value").isNull).count())
    assert(m("ts_min").asInstanceOf[Long] <= m("ts_max").asInstanceOf[Long])
  }

  test("g2 coshare degree cap fires VISIBLY: audit row counts truncated " +
      "customers while the projection truncates") {
    import spark.implicits._
    // 3 customers, 10 suppliers each — every supplier pair co-shared by all
    // 3 customers (>= the row's shared_customers >= 3 floor)
    val cs = (for { c <- 1 to 3; sk <- 1 to 10 } yield (c.toLong, sk.toLong))
      .toDF("c", "sk")
    val cap = 4
    // audit makes the truncation countable: all 3 customers exceed cap 4
    val audit = AnalyticsOps.coshareAudit(cs, cap).collect().head
    assert(audit.getAs[Long]("capped_customers") == 3L)
    assert(audit.getAs[Long]("max_degree") == 10L)
    assert(audit.getAs[Long]("cap") == cap.toLong)
    // and the projection under the cap keeps only pairs of the first 4
    // suppliers per customer: C(4,2)=6 pairs, vs C(10,2)=45 uncapped
    val capped = AnalyticsOps
      .coshareTop(AnalyticsOps.cappedPosting(cs, cap), nSupp = 10L).collect()
    assert(capped.length == 6)
    assert(capped.forall(r => r.getAs[Long]("supp_b") <= 4L))
    assert(AnalyticsOps
      .coshareTop(AnalyticsOps.cappedPosting(cs, AnalyticsOps.CoshareCap),
        nSupp = 10L)
      .count() == 20) // top-20 of the 45 uncapped pairs
    // the supplier-cardinality routing is a pure physical choice: the
    // partial-agg shape (small key space) and the repartition shape (forced
    // via a key space above CosharePairKeySpaceMax) return identical rows
    val viaPartial = AnalyticsOps
      .coshareTop(AnalyticsOps.cappedPosting(cs, cap), nSupp = 10L)
      .collect().toSeq
    val viaRepart = AnalyticsOps
      .coshareTop(AnalyticsOps.cappedPosting(cs, cap), nSupp = 10_000_000L)
      .collect().toSeq
    assert(viaPartial == viaRepart)
    // the shipping fixture is far below the cap — the catalog row's audit
    // companion proves (not assumes) zero truncation today
    val real = AnalyticsOps.coshareAudit(
      AnalyticsOps.custSupp(spark, dir), AnalyticsOps.CoshareCap)
      .collect().head
    assert(real.getAs[Long]("capped_customers") == 0L)
    assert(real.getAs[Long]("max_degree") < AnalyticsOps.CoshareCap)
  }

  test("zstd parquet round-trips bit-identically (storage codec swap)") {
    val docs = Tables.documents(spark, dir).orderBy("doc_id")
    val out = tempDir("docs_zstd")
    docs.write.mode("overwrite")
      .option("compression", "zstd").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      s"codec not applied: ${files.mkString(",")}")
    val back = spark.read.parquet(out).orderBy("doc_id")
    assert(back.collect().map(_.toSeq).toSeq ==
      docs.collect().map(_.toSeq).toSeq)
  }
}
