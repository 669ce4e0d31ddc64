package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The build-once artifact store ([[Tables.key]], [[Tables.memo]],
  * [[Tables.persistedArtifact]]): what stales a key, and atomic publish. */
class ArtifactSpec extends SparkSpec {

  private val family = "graft_artifactspec"
  private def familyDir = new File(s"/tmp/$family")
  private def entries: Seq[String] =
    Option(familyDir.list()).toSeq.flatten.sorted

  override def afterAll(): Unit =
    try sources.LocalFs.deleteRecursively(familyDir)
    finally super.afterAll()

  private def writeTable(dir: String, rows: Int): Unit =
    spark.range(rows).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  private def artifact(dir: String)(build: => DataFrame): DataFrame =
    Tables.persistedArtifact(spark, family, Tables.key(dir, Seq("t"), "copy"))(build)

  test("a rewritten fixture table rebuilds its artifact") {
    sources.LocalFs.deleteRecursively(familyDir)
    val dir = tempDir("fixture")
    writeTable(dir, 10)
    def copy = artifact(dir)(spark.read.parquet(s"$dir/t.parquet"))
    assert(copy.count() == 10)
    assert(copy.count() == 10 && entries.size == 1, "a warm key rebuilt")
    writeTable(dir, 25)
    assert(copy.count() == 25, "served the artifact of the old fixture")
    assert(entries.size == 2)
  }

  test("a failed build leaves neither a final nor a staging dir; the next call builds") {
    sources.LocalFs.deleteRecursively(familyDir)
    val dir = tempDir("failing")
    writeTable(dir, 100)
    val failing = spark.read.parquet(s"$dir/t.parquet").select(
      when(col("id") === 50, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    intercept[Exception](artifact(dir)(failing))
    assert(entries.isEmpty, s"a failed build left $entries")
    intercept[IllegalStateException](artifact(dir)(throw new IllegalStateException("plan")))
    assert(entries.isEmpty, s"a failed build left $entries")
    assert(artifact(dir)(spark.read.parquet(s"$dir/t.parquet")).count() == 100)
    assert(entries.size == 1)
  }

  test("four threads cold on one key publish exactly one dir") {
    sources.LocalFs.deleteRecursively(familyDir)
    val dir = tempDir("race")
    writeTable(dir, 1000)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val counts = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          artifact(dir)(spark.read.parquet(s"$dir/t.parquet").repartition(4)).count()
        }
      }))
      start.countDown()
      assert(counts.map(_.get()) == Seq.fill(4)(1000L))
    } finally pool.shutdown()
    assert(entries.size == 1 && !entries.head.startsWith("."),
      s"expected one published dir and no staging dir, found $entries")
  }

  test("the engine token covers graft/ class files and nothing else") {
    val live = Paths.get(Tables.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val copy = Paths.get(tempDir("classes"))
    org.apache.commons.io.FileUtils.copyDirectory(live.toFile, copy.toFile)
    def classUnder(sub: String): Path = {
      val walk = Files.walk(copy.resolve(sub))
      try walk.filter(_.toString.endsWith(".class")).findFirst().get()
      finally walk.close()
    }
    def touch(p: Path): Unit =
      Files.write(p, Files.readAllBytes(p) :+ 0.toByte): Unit
    val base = Tables.engineTokenOf(copy)
    assert(base == Tables.engineToken)
    touch(classUnder("org"))
    assert(Tables.engineTokenOf(copy) == base, "a non-graft class changed the token")
    touch(classUnder("graft"))
    val edited = Tables.engineTokenOf(copy)
    assert(edited != base, "a graft class edit kept the token")
    // the same tree packaged as a jar reads the same token
    val jar = Paths.get(tempDir("jar")).resolve("engine.jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jar))
    try {
      val walk = Files.walk(copy)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        out.putNextEntry(new java.util.jar.JarEntry(copy.relativize(p).toString))
        out.write(Files.readAllBytes(p))
      } finally walk.close()
    } finally out.close()
    assert(Tables.engineTokenOf(jar) == edited)
  }

  test("the scalar memo recomputes after the fixture changes") {
    val dir = tempDir("memo")
    writeTable(dir, 10)
    var runs = 0
    def n = Tables.memo(Tables.key(dir, Seq("t"), "rows")) {
      runs += 1
      spark.read.parquet(s"$dir/t.parquet").count()
    }
    assert(n == 10 && n == 10 && runs == 1)
    writeTable(dir, 20)
    assert(n == 20 && runs == 2)
  }
}
