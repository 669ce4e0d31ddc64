package graft.battery

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Glob collation (S6) and inspection helpers (S8/S9). */
class CollateInspectSpec extends SparkSpec {

  test("featuresFromDir: glob read + filename-derived cell_id") {
    val dir = tempDir("collate")
    for (cell <- Seq("CELLA", "CELLB")) {
      val f = Features.all(Normalize(spark, resource("arbin_small.csv")), 3.0)
      f.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$dir/${cell}_features_full.csv")
    }
    val collated = Collate.featuresFromDir(spark, dir)
    assert(collated.columns.head == "cell_id")
    val cells = collated.select("cell_id").distinct()
      .collect().map(_.getString(0)).sorted
    assert(cells.toSeq == Seq("CELLA", "CELLB"))
    assert(collated.count() == 8) // 4 cycles × 2 cells
  }

  test("inspect: headTail renders dtypes and bounded rows") {
    val c = Normalize(spark, resource("arbin_small.csv"))
    val out = Inspect.headTail(c, "timestamp", n = 3)
    assert(out.contains("timestamp: timestamp"))
    assert(out.contains("head(3):") && out.contains("tail(3):"))
  }

  test("inspect: groupSample caps rows per group in order") {
    val c = Normalize(spark, resource("arbin_small.csv"))
    val s = Inspect.groupSample(c, Seq("cycle_index"), "timestamp", perGroup = 3)
    val counts = s.groupBy("cycle_index").count().collect()
    assert(counts.forall(_.getLong(1) == 3))
  }

  test("inspect: plotData emits the plotted series ordered by cycle") {
    val f = Features.all(Normalize(spark, resource("arbin_small.csv")), 3.0)
    val p = Inspect.plotData(f).collect()
    assert(p.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(p.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }
}
