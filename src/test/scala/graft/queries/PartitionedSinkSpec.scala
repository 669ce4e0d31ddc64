package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Hive-style partitioned sink + partition-pruned scan — the layout that
  * makes 100 TB reads cheap: a predicate on the partition column must prune
  * at the FILE level (PartitionFilters in the scan, not a post-scan Filter),
  * so a one-language query over a many-language corpus never opens the
  * other languages' files.
  */
class PartitionedSinkSpec extends SparkSpec {

  test("partitionBy(lang) write prunes non-matching partitions on read") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("documents")
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)

    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.length > 1, "fixture needs multiple languages")
    val one = langs.sorted.head

    val read = spark.read.parquet(out).filter(col("lang") === one)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(one),
      s"lang predicate must prune partitions:\n$plan")
    // the pruned scan touches only the matching partition directory
    val scannedFiles = read.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
      }.flatten
    assert(scannedFiles.nonEmpty &&
      scannedFiles.forall(_.contains(s"lang=$one")),
      s"expected only lang=$one files, got:\n${scannedFiles.mkString("\n")}")
    // and the data round-trips
    assert(read.count() == docs.filter(col("lang") === one).count())
  }
}
