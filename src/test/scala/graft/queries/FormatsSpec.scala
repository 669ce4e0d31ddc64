package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Source/sink format breadth: the engine's tables must round-trip through
  * JSON lines and ORC with schema and values intact (parquet and CSV are
  * exercised throughout the battery layer and driver dumps). */
class FormatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("documents round-trip through JSON lines") {
    val docs = Tables.documents(spark, dir).orderBy("doc_id")
    val out = tempDir("docs_json")
    docs.write.mode("overwrite").json(out)
    val back = spark.read.schema(docs.schema).json(out).orderBy("doc_id")
    assert(back.collect().map(_.toSeq).toSeq ==
      docs.collect().map(_.toSeq).toSeq)
  }

  test("nested struct scans prune to the accessed field (nested schema pruning)") {
    // at 100 TB a table of struct<meta: struct<...>, payload: binary> must
    // not read the payload bytes to answer a query over one meta field —
    // Spark's nested schema pruning pushes the field access into ReadSchema
    val docs = Tables.documents(spark, dir)
    val out = tempDir("docs_nested")
    docs.select(col("doc_id"),
        struct(col("lang"), col("n_chars"),
          col("text").as("payload")).as("rec"))
      .write.mode("overwrite").parquet(out)
    val q = spark.read.parquet(out)
      .select(col("doc_id"), col("rec.n_chars"))
      .filter(col("rec.n_chars") > 100)
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("rec:struct<n_chars"),
      s"scan must read only rec.n_chars, not the payload:\n$scan")
    assert(!scan.contains("payload"),
      s"payload must be pruned out of the scan:\n$scan")
    assert(q.count() ==
      docs.filter(col("n_chars") > 100).count())
  }

  test("parquet mergeSchema unifies evolved schemas with null fill") {
    // schema evolution — the at-scale reality that a 100 TB table's old
    // files lack columns added later: a merged read must union the schemas
    // and null-fill the missing column in old files, and a scan WITHOUT the
    // new column must stay cheap (no merge needed to read shared columns)
    val docs = Tables.documents(spark, dir)
    val out = tempDir("docs_evolved")
    docs.select("doc_id", "lang", "n_chars")
      .filter(col("doc_id") < 100)
      .write.mode("overwrite").parquet(s"$out/batch=old")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        col("source").as("added_col"))
      .filter(col("doc_id") >= 100)
      .write.mode("overwrite").parquet(s"$out/batch=new")

    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.contains("added_col"))
    val oldRows = merged.filter(col("doc_id") < 100)
    assert(oldRows.filter(col("added_col").isNotNull).count() == 0,
      "old files must null-fill the added column")
    assert(merged.filter(col("doc_id") >= 100)
      .filter(col("added_col").isNull).count() == 0)
    assert(merged.count() == docs.count())
  }

  test("lineitem aggregates identically from an ORC round-trip") {
    val li = Tables.lineitem(spark, dir)
    val out = tempDir("li_orc")
    li.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == li.schema)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,6)")),
        min("l_shipdate"), max("l_shipdate")).head().toSeq
    assert(agg(back) == agg(li))
    // and filters still push down to the ORC scan
    val p = back.filter(col("l_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_orderkey"), p)
  }
}
