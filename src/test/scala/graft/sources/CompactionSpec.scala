package graft.sources

import java.io.File

import graft.SparkSpec

class CompactionSpec extends SparkSpec {

  import spark.implicits._

  private def fragmented(n: Int, rowsPerFile: Int): String = {
    val dir = tempDir("compact") + "/t"
    for (i <- 0 until n)
      (0 until rowsPerFile).map(j => (i.toLong, s"v${i}_$j"))
        .toDF("part", "v").coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  private def parquetFiles(dir: String): Seq[File] =
    new File(dir).listFiles.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("compaction merges small files, preserves every row, and is idempotent") {
    val dir = fragmented(40, 50) // 40 tiny files, 2000 rows
    val before = spark.read.parquet(dir)
      .collect().map(_.toSeq).toSet
    val totalBytes = parquetFiles(dir).map(_.length).sum

    // target ~quarter of the data per file -> ~4 files
    val s = Compaction.compactParquet(spark, dir, targetBytes = totalBytes / 4)
    assert(!s.skipped && s.filesBefore == 40 && s.rows == 2000)
    assert(s.filesAfter <= 5, s"still fragmented: $s")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before,
      "compaction changed the data")
    // no leftover swap state
    assert(!new File(s"$dir.compact.tmp").exists())
    assert(!new File(s"$dir.compact.old").exists())

    // converges: merged files compress better, so a repeat pass may shave
    // the count once more — but each pass strictly reduces files and the
    // skip fixpoint arrives within a couple of passes, data intact
    var last = s
    var passes = 0
    while (!last.skipped && passes < 3) {
      val next = Compaction.compactParquet(spark, dir, targetBytes = totalBytes / 4)
      assert(next.skipped || next.filesAfter < last.filesAfter,
        s"non-skipping pass failed to reduce files: $next after $last")
      last = next; passes += 1
    }
    assert(last.skipped, s"compaction did not converge in $passes passes: $last")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before,
      "convergence passes changed the data")
  }

  test("an already-compact directory is left untouched, with no Spark job") {
    val dir = fragmented(1, 100)
    val names = parquetFiles(dir).map(_.getName).toSet
    val s = Compaction.compactParquet(spark, dir) // default 128 MB target
    assert(s.skipped && s.filesBefore == 1 && s.rows == -1L,
      s"skip path must not count rows (that is a full Spark job): $s")
    assert(parquetFiles(dir).map(_.getName).toSet == names,
      "no-op compaction rewrote files")
  }

  test("a hive-partitioned directory is compacted per leaf, layout preserved") {
    val root = tempDir("compact_part") + "/t"
    // 3 partitions × 10 fragment files × 40 rows
    for (p <- 0 until 3; i <- 0 until 10)
      (0 until 40).map(j => (s"v${p}_${i}_$j"))
        .toDF("v").coalesce(1).write.mode("append").parquet(s"$root/k=$p")
    val before = spark.read.parquet(root).collect().map(_.toSeq).toSet
    val leafBytes = parquetFiles(s"$root/k=0").map(_.length).sum

    val s = Compaction.compactParquet(spark, root, targetBytes = leafBytes / 2)
    assert(!s.skipped && s.filesBefore == 30 && s.rows == 1200, s"$s")
    (0 until 3).foreach { p =>
      assert(parquetFiles(s"$root/k=$p").size <= 3,
        s"partition k=$p still fragmented")
    }
    assert(spark.read.parquet(root).collect().map(_.toSeq).toSet == before,
      "partitioned compaction changed the data")
  }
}
