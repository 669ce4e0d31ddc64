package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver testdata tables (TESTDATA.md).
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

  /** Cheap content fingerprint of one fixture table — total parquet byte
    * size + newest file mtime. Folded into memo keys and every /tmp
    * artifact key so a fixture REGENERATED at the same path invalidates
    * persisted state (signature stores, trained quantizers, cached counts)
    * instead of silently serving stale artifacts. Filesystem metadata only —
    * no Spark job. One definition for every call site (sig store, routing
    * statistic, quantizer) so the invalidation semantics cannot drift. */
  def fixtureToken(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val files: Seq[java.io.File] =
      if (root.isDirectory) root.listFiles().toSeq.filter(_.isFile)
      else Seq(root)
    s"${files.map(_.length).sum}-${files.map(_.lastModified).foldLeft(0L)(math.max)}"
  }

  private val codeTokenCache =
    scala.collection.concurrent.TrieMap.empty[Class[_], String]

  /** md5 (truncated) of `owner`'s compiled class bytes, memoized. Folded
    * into persisted-artifact keys so EDITING the builder's defining class
    * invalidates its /tmp artifacts automatically — a manual version tag
    * only invalidates when someone remembers to bump it, and a stale
    * artifact makes tests green-light code they never executed.
    * Over-invalidates (any edit to the class rebuilds its artifacts once) —
    * the safe direction; builder logic living in OTHER classes still needs
    * a manual tag bump, so keep params + a version in the key too. */
  def codeToken(owner: Class[_]): String =
    codeTokenCache.getOrElseUpdate(owner, {
      val res = owner.getName.replace('.', '/') + ".class"
      val in = owner.getClassLoader.getResourceAsStream(res)
      if (in == null) "no-classfile"
      else
        try {
          val md = java.security.MessageDigest.getInstance("MD5")
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
          md.digest().map("%02x".format(_)).mkString.take(12)
        } finally in.close()
    })

  /** Build-once parquet artifact: materializes `build` the first time this
    * exact `key` is seen under `/tmp/<family>/`, reads it back on every
    * later use (the index-build-time posture: nightly artifacts are built
    * once and served, never recomputed per query). The _SUCCESS marker
    * gates against a partial write. Callers fold [[fixtureToken]] (input
    * invalidation) and [[codeToken]] (builder invalidation) into `key`. */
  def persistedArtifact(s: SparkSession, family: String, key: String)
      (build: => DataFrame): DataFrame =
    s.read.parquet(persistedArtifactPath(s, family, key)(build))

  /** The directory a build-once artifact of (`family`, `key`) lives in. */
  def artifactDir(family: String, key: String): String =
    s"/tmp/$family/${graft.sources.LocalFs.md5Hex(key)}"

  /** [[persistedArtifact]] returning the on-disk PATH instead of a read —
    * for artifacts whose directory LAYOUT is part of the contract (e.g. a
    * `partitionBy` posting store whose serving plan must see the partition
    * columns). `partitionBy` columns become hive-style directory keys; the
    * reader re-infers their types, so callers cast them back explicitly. */
  def persistedArtifactPath(s: SparkSession, family: String, key: String,
      partitionBy: Seq[String] = Nil, format: String = "parquet")
      (build: => DataFrame): String = {
    // the layout is part of the artifact's identity: the same (family, key)
    // requested with a different partitionBy or format must NOT serve the
    // previously-written directory with the wrong structure
    val path = artifactDir(family,
      s"$key|layout=${partitionBy.mkString(",")}|fmt=$format")
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val w = build.write.mode("overwrite").format(format)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(path)
    }
    path
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
