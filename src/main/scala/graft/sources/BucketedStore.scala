package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed + sorted tables: the co-located-join strategy for fact⋈fact at
  * 100 TB, where NEITHER side broadcasts and a per-query shuffle of both
  * sides is the dominant cost. Bucketing pays the shuffle ONCE at write time
  * (each side hash-clustered into `buckets` files on the join key, sorted
  * within each file); every subsequent join on that key then satisfies the
  * join's distribution requirement straight off the scan — no Exchange, and
  * with the in-file sort no per-query Sort either.
  *
  * Deployment posture mirrors [[graft.Tables.persistedArtifact]]: the table
  * is materialized at most once per (process, [[graft.Tables.Key]], layout)
  * — the index-build-time cost — and served from the session catalog
  * afterwards; the catalog name folds the key, so anything that stales the
  * key materializes a fresh table. `build` is pre-partitioned on the bucket
  * column so each bucket is exactly ONE file — the layout Spark requires to
  * serve the join's sort order from the scan (multi-file buckets keep the
  * no-Exchange property but re-sort per query).
  *
  * Bucket hashing is Spark's own Murmur3 pmod (`HashPartitioning`), i.e. the
  * same function `repartition(n, col)` uses — which is what makes the
  * one-file-per-bucket pre-partitioning line up with the bucket layout.
  */
object BucketedStore {

  /** Serve `build` as a bucketed+sorted catalog table, materializing it at
    * most once per (process, `family`, `key`, layout). Thread-safe: suites
    * sharing one session race here, the write happens once.
    */
  def ensure(s: SparkSession, family: String, key: graft.Tables.Key,
      bucketCol: String, buckets: Int)(build: => DataFrame): DataFrame =
    synchronized {
      val md5 = LocalFs.md5Hex(s"${key.id}|$bucketCol|$buckets").take(12)
      val name = s"graft_bkt_${family}_$md5"
      if (!s.catalog.tableExists(name)) {
        // The in-memory catalog is per-process but the warehouse directory
        // is not: a previous JVM's managed-table location would fail the
        // CREATE with LOCATION_ALREADY_EXISTS, so clear it first. (Bucket
        // metadata lives in the catalog, so re-registering over old files
        // isn't an option through the DataFrame writer — rewrite instead;
        // the write IS the once-per-process index-build cost.)
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
        LocalFs.deleteRecursively(loc)
        build.repartition(buckets, col(bucketCol))
          .write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .mode("overwrite").saveAsTable(name)
      }
      s.table(name)
    }
}
