package graft

import java.nio.file.{FileSystems, Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

/** Loaders for the testdata tables (TESTDATA.md), and the one
  * place that keys and publishes what is derived from them.
  *
  * Build-once artifacts (signature stores, quantizers, ANN indexes, format
  * copies) live at `/tmp/<family>/<md5 of key>/`, and scalar statistics
  * sit in one per-JVM [[memo]]. Both take a [[Key]] from [[key]], the only
  * rule for when derived state is stale.
  *
  * `events.ts` has shipped in two parquet encodings across testdata
  * generations: TIMESTAMP(NANOS) — which Spark reads as a raw nanosecond
  * `LongType` under `spark.sql.legacy.parquet.nanosAsLong=true` (set by
  * [[GraftSession.tune]]) — and TIMESTAMP(MICROS), which Spark reads as
  * `TIMESTAMP_NTZ`. [[normalizeEventTs]] canonicalizes both to the internal
  * contract every events query assumes: `ts` = ns-since-epoch long (matches
  * DuckDB `epoch_ns(ts)` exactly, since the µs encoding is a whole number of
  * µs) plus a derived µs `ts_utc` TimestampType column. The session timezone
  * is pinned to UTC ([[GraftSession]]), so the NTZ→TZ cast is numerically the
  * identity.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Optional part↔supplier catalog table (TPC-H `partsupp` shape:
    * `ps_partkey, ps_suppkey, ps_availqty, ps_supplycost`). NOT part of the
    * driver testdata (hence not in [[names]]): the scale fixtures grow one
    * via `scripts/make_scale.py`, and [[graft.queries.PartsuppOps]]'s
    * spec-only TPC-H Q2/Q20 twins synthesize their own. Callers own the
    * existence check. */
  def partsupp(s: SparkSession, d: String): DataFrame = load(s, d, "partsupp")

  /** Events with `ts` as raw ns-since-epoch long plus a µs timestamp view. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** Cheap content fingerprint of one fixture table: total parquet byte
    * size + newest file mtime. Filesystem metadata only, no Spark job. */
  private def fixtureToken(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val files: Seq[java.io.File] =
      if (root.isDirectory) root.listFiles().toSeq.filter(_.isFile)
      else Seq(root)
    s"${files.map(_.length).sum}-${files.map(_.lastModified).foldLeft(0L)(math.max)}"
  }

  /** md5 over every class file of the `graft` package under `root` (a
    * classes directory or a jar), in path order. */
  private[graft] def engineTokenOf(root: Path): String = {
    val jar = if (Files.isDirectory(root)) None else Some(FileSystems.newFileSystem(root))
    try {
      val base = jar.fold(root)(_.getPath("/"))
      val walk = Files.walk(base.resolve("graft"))
      val md = java.security.MessageDigest.getInstance("MD5")
      try walk.iterator().asScala.map(base.relativize(_).toString)
        .filter(_.endsWith(".class")).toSeq.sorted.foreach { name =>
          md.update(name.getBytes("UTF-8"))
          md.update(Files.readAllBytes(base.resolve(name)))
        }
      finally walk.close()
      md.digest().map("%02x".format(_)).mkString
    } finally jar.foreach(_.close())
  }

  /** [[engineTokenOf]] the class-path entry this engine was loaded from,
    * computed once per JVM. */
  lazy val engineToken: String = engineTokenOf(
    Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  /** What a build-once artifact or scalar memo depends on; made only by
    * [[key]]. */
  final class Key private[Tables] (val id: String)

  /** The one key rule for every build-once artifact and memo. It folds the
    * fixture dir, the [[fixtureToken]] of each input table (a fixture
    * regenerated at the same path rebuilds), the [[engineToken]] (any
    * engine edit rebuilds: a builder's output also depends on the kernels
    * and helpers it calls, which a per-class token cannot see) and the
    * call's parameters. */
  def key(dir: String, tables: Seq[String], params: Any*): Key =
    new Key((Seq(dir) ++ tables.map(t => s"$t=${fixtureToken(dir, t)}") ++
      Seq(engineToken) ++ params.map(String.valueOf)).mkString("|"))

  private val memos = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** A scalar statistic (a collected count or max) computed once per
    * `key`, so a query build pays its job once per fixture. */
  def memo(key: Key)(compute: => Long): Long =
    memos.getOrElseUpdate(key.id, compute)

  /** The directory the artifact (`family`, `key`) is published at. */
  def artifactDir(family: String, key: Key): String =
    s"/tmp/$family/${graft.sources.LocalFs.md5Hex(key.id)}"

  /** Build-once parquet artifact: materializes `build` the first time
    * `key` is seen under `/tmp/<family>/` and reads it back on every later
    * use (the index-build-time posture: built once and served, never
    * recomputed per query). */
  def persistedArtifact(s: SparkSession, family: String, key: Key)
      (build: => DataFrame): DataFrame =
    s.read.parquet(persistedArtifactPath(s, family, key)(build))

  /** [[persistedArtifact]] returning the published PATH, written in
    * `format`. `build` is written to a staging sibling under the family dir
    * and published with one directory rename, so the path holds a whole
    * artifact or nothing. A builder whose rename loses to a concurrent one
    * discards its copy and serves the winner's. */
  def persistedArtifactPath(s: SparkSession, family: String, key: Key,
      format: String = "parquet")(build: => DataFrame): String = {
    val dest = new java.io.File(artifactDir(family, new Key(s"${key.id}|$format")))
    if (!dest.isDirectory) {
      val staging = new java.io.File(dest.getParentFile,
        s".${dest.getName}.${java.util.UUID.randomUUID}")
      try {
        build.write.format(format).save(staging.getPath)
        if (!staging.renameTo(dest) && !dest.isDirectory)
          throw new java.io.IOException(s"could not publish $staging as $dest")
      } finally graft.sources.LocalFs.deleteRecursively(staging)
    }
    dest.getPath
  }

  /** Canonicalize `ts` to ns-since-epoch long + add the µs `ts_utc` view,
    * whatever logical type the parquet writer chose (see class doc). Pure
    * column expressions — safe on both batch and streaming DataFrames. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val tsNs = df.schema("ts").dataType match {
      case LongType         => col("ts")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case TimestampType    => unix_micros(col("ts")) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet logical type $other")
    }
    df.withColumn("ts", tsNs)
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
  }
}
