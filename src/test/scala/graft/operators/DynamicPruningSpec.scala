package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Dynamic partition pruning — the mechanism that makes a 100 TB star join
  * cheap: when the fact table is partitioned on the join key and the dim side
  * carries a selective filter, the fact scan's partition filter is populated
  * AT RUNTIME from the dim side, so only matching partitions' files are read
  * (a static plan can't know them). */
class DynamicPruningSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("dim filter prunes fact partitions at runtime (DPP)") {
    val out = tempDir("events_by_type")
    val events = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
    events.write.mode("overwrite").partitionBy("event_type").parquet(out)

    val dim = events.select("event_type").distinct()
      .withColumn("is_conversion",
        col("event_type").isin("purchase", "signup"))

    val joined = spark.read.parquet(out)
      .join(dim.filter(col("is_conversion")), Seq("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))

    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a runtime partition filter from the dim side:\n$p")

    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events.filter(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }
}
