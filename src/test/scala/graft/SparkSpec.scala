package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    // the manifest CAS specs race readers against mid-write version files;
    // FSInputChecker handles that (reads on without the checksum) but
    // WARN-logs a full EOFException trace each time — noise, not signal.
    // Set AFTER session init: Spark's logging bootstrap reconfigures log4j.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.hadoop.fs.FSInputChecker",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** This suite's temp root: one directory per suite, created on first
    * use and deleted after the suite. */
  private lazy val suiteTmp: java.nio.file.Path = {
    tmpUsed = true
    java.nio.file.Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")
  }
  @volatile private var tmpUsed = false

  /** A fresh directory under this suite's temp root. */
  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(suiteTmp, tag).toString

  override def afterAll(): Unit =
    try {
      if (tmpUsed) org.apache.commons.io.FileUtils
        .deleteDirectory(suiteTmp.toFile)
    } finally super.afterAll()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Parse a small golden CSV (header + rows, no quoting/commas in values). */
  def readGolden(name: String): (Seq[String], Seq[Array[Option[Double]]]) = {
    val lines = scala.io.Source.fromFile(resource(name)).getLines().toSeq
    val header = lines.head.split(",").toSeq
    val rows = lines.tail.map(_.split(",", -1).map { s =>
      if (s.isEmpty) None
      else scala.util.Try(s.toDouble).toOption
    })
    (header, rows)
  }

  def assertClose(got: Option[Double], want: Option[Double], tol: Double,
                  ctx: String): Unit = (got, want) match {
    case (None, None) =>
    case (Some(g), Some(w)) =>
      assert(math.abs(g - w) <= tol * math.max(1.0, math.abs(w)),
        s"$ctx: got $g want $w")
    case _ => fail(s"$ctx: got $got want $want")
  }
}
