package graft.battery

import graft.SparkSpec

/** Parity contract for continuous battery ingestion: files fed one at a
  * time through the landing-directory stream must leave exactly the
  * collated per-cycle feature table the batch re-run-and-collate loop
  * produces over the same files — structural parity, since both paths run
  * the identical Normalize → Features.all → withCellId code. */
class StreamingBatterySpec extends SparkSpec {

  private val fixtures = Seq(
    "src/test/resources/arbin_small.csv",
    "src/test/resources/neware_small.csv")

  test("stream-fed collated features equal the batch collate over the same files") {
    val rawDir = tempDir("battery_raw")
    val outDir = tempDir("battery_out")
    val q = StreamingIngest.run(spark, rawDir, outDir)
    try {
      // land the vendor exports one at a time — two different dialects
      // (Arbin comma/A/Ah vs Neware semicolon/mV/mAh), so the per-file
      // probing path is exercised per micro-batch. Landing follows the
      // class-doc contract: copy to a temp name the *.csv glob ignores,
      // then an atomic same-filesystem rename into place — the source can
      // never list a half-copied file.
      for (f <- fixtures) {
        val src = java.nio.file.Paths.get(f)
        val tmp = java.nio.file.Paths.get(rawDir,
          src.getFileName.toString + ".tmp")
        java.nio.file.Files.copy(src, tmp)
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get(rawDir, src.getFileName.toString),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }

      val streamed = spark.read
        .parquet(s"$outDir/features_collated.parquet")
        .collect().map(_.toSeq).toSet
      val batch = fixtures.map(f =>
          StreamingIngest.featuresForFile(spark, f, ratedAh = 3.0, dV = 0.05))
        .reduce(_.unionByName(_))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
      // both cells landed under their own id
      val cells = streamed.map(_.head)
      assert(cells == Set("arbin_small", "neware_small"))

      // a re-delivered file must NOT duplicate its feature rows: a second
      // stream (fresh landing dir + fresh source log, same sink — the
      // restart-after-lost-checkpoint scenario) re-lists arbin_small.csv,
      // finds its cell already committed, and skips it
      val rawDir2 = tempDir("battery_raw2")
      val q2 = StreamingIngest.run(spark, rawDir2, outDir)
      try {
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(fixtures.head),
          java.nio.file.Paths.get(rawDir2, "arbin_small.csv"))
        q2.processAllAvailable()
      } finally q2.stop()
      val after = spark.read
        .parquet(s"$outDir/features_collated.parquet")
        .collect().map(_.toSeq)
      assert(after.length == after.toSet.size && after.toSet == streamed,
        "re-delivery duplicated feature rows")
      // …and the drop is ACCOUNTED, not silent: one late_skips row naming
      // the file, its cell, and its raw line count
      val skips = StreamingIngest.lateSkips(spark, outDir)
        .collect().map(r => (r.getString(1), r.getLong(2)))
      val rawLines = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(fixtures.head)).size.toLong
      assert(skips.toSeq == Seq(("arbin_small", rawLines)),
        s"re-delivery must land in the late-skips accounting: ${skips.toSeq}")
    } finally q.stop()
  }

  test("out-of-order samples within a file are absorbed; a late re-export beyond the file boundary is dropped WITH visible row accounting") {
    val rawDir = tempDir("battery_late_raw")
    val outDir = tempDir("battery_late_out")
    // the file-granularity analog of "shuffled within the watermark": the
    // cell's samples arrive out of order INSIDE its export — tolerated,
    // because normalize's global timestamp sort restores event order
    // before any windowed feature runs
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(fixtures.head))).asScala.toVector
    val (header, data) = (lines.head, lines.tail)
    val shuffled = header +: new scala.util.Random(42).shuffle(data)
    val shuffledPath = java.nio.file.Paths.get(rawDir, "late_cell.csv.tmp")
    java.nio.file.Files.write(shuffledPath,
      scala.jdk.CollectionConverters.SeqHasAsJava(
        shuffled.asInstanceOf[Seq[CharSequence]]).asJava)
    val q = StreamingIngest.run(spark, rawDir, outDir)
    try {
      java.nio.file.Files.move(shuffledPath,
        java.nio.file.Paths.get(rawDir, "late_cell.csv"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      val streamed = spark.read
        .parquet(s"$outDir/features_collated.parquet")
        .collect().map(_.toSeq).toSet
      // order-insensitivity: the shuffled export's features equal the
      // IN-ORDER original's (cell id aside)
      val ordered = StreamingIngest
        .featuresForFile(spark, fixtures.head, ratedAh = 3.0, dV = 0.05)
        .collect().map(r => "late_cell" +: r.toSeq.tail).toSet
      assert(streamed == ordered,
        "shuffled-sample export must normalize to the in-order features")

      // "one beyond it": a late re-export of the same cell carrying ONE
      // extra sample arrives AFTER the cell committed — the file boundary
      // is this pipeline's watermark, so the re-export is dropped, and the
      // accounting must say exactly how many raw rows went with it
      val lateLines = shuffled :+ shuffled.last
      val latePath = java.nio.file.Paths.get(rawDir, "late_cell.csv.tmp2")
      java.nio.file.Files.write(latePath,
        scala.jdk.CollectionConverters.SeqHasAsJava(
          lateLines.asInstanceOf[Seq[CharSequence]]).asJava)
      // a new landing dir re-delivers the cell (same restart shape as the
      // parity test); the extra-sample re-export is the late arrival
      val rawDir2 = tempDir("battery_late_raw2")
      val q2 = StreamingIngest.run(spark, rawDir2, outDir)
      try {
        java.nio.file.Files.move(latePath,
          java.nio.file.Paths.get(rawDir2, "late_cell.csv"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q2.processAllAvailable()
      } finally q2.stop()

      // the sink is untouched…
      val after = spark.read
        .parquet(s"$outDir/features_collated.parquet")
        .collect().map(_.toSeq).toSet
      assert(after == streamed, "late re-export must not change the sink")
      // …and the dropped rows are counted EXPLICITLY: the late file's raw
      // line count (original + 1 extra sample) is in the accounting
      val skips = StreamingIngest.lateSkips(spark, outDir)
        .collect().map(r => (r.getString(1), r.getLong(2)))
      assert(skips.toSeq == Seq(("late_cell", lateLines.size.toLong)),
        s"late re-export must be accounted with its row count: ${skips.toSeq}")
    } finally q.stop()
  }
}
