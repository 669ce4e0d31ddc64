package graft

/** The SQL surface of the native expressions: GraftExtensions must register
  * vec_dot so pure-SQL users get the same codegen'd kernel as the Column API.
  */
class ExtensionsSpec extends SparkSpec {

  test("vec_dot is callable from SQL and agrees with the Column API") {
    val row = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head()
    assert(row.getDouble(0) == 32.0)
    // null contract: length mismatch and null inputs yield NULL
    assert(spark.sql("SELECT vec_dot(array(1.0D), array(1.0D, 2.0D))")
      .head().isNullAt(0))
    assert(spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .head().isNullAt(0))
  }

  test("every text kernel is callable from SQL and agrees with the Column API") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"))).toDF("id", "t")
    df.createOrReplaceTempView("ext_docs")

    // lev_within: exact distance on the <= t set, -1 past the threshold
    val lev = spark.sql(
      """SELECT lev_within(a.t, b.t, 3) AS d3, lev_within(a.t, b.t, 1) AS d1
         FROM ext_docs a JOIN ext_docs b ON a.id = 1 AND b.id = 2""").head()
    assert(lev.getInt(0) == 2 && lev.getInt(1) == -1)

    // shingle_set / minhash_sig / shingle_minhash: SQL spelling equals the
    // Column-API spelling bit for bit
    val sqlSide = spark.sql(
      """SELECT id, shingle_set(t, 5) AS ss, minhash_sig(shingle_set(t, 5), 16) AS mh,
         shingle_minhash(t, 5, 16) AS smh FROM ext_docs ORDER BY id""").collect()
    import org.apache.spark.sql.graftbridge.Bridge
    def ex(c: org.apache.spark.sql.Column) = Bridge.expression(c)
    val colSide = df.select(col("id"),
        Bridge.column(graft.expressions.ShingleSet(ex(col("t")), 5)).as("ss"),
        Bridge.column(graft.expressions.MinHashSig(
          graft.expressions.ShingleSet(ex(col("t")), 5), 16)).as("mh"),
        Bridge.column(
          graft.expressions.ShingleMinHash(ex(col("t")), 5, 16)).as("smh"))
      .orderBy("id").collect()
    assert(sqlSide.map(_.toString).toSeq == colSide.map(_.toString).toSeq)

    // shingle_sha_min: SQL spelling equals the staged explode→sha2→min
    val fp = spark.sql(
      """SELECT shingle_sha_min(t, 8).fp AS fp, shingle_sha_min(t, 8).sz AS sz
         FROM ext_docs WHERE id = 1""").head()
    val stagedFp = df.filter(col("id") === 1)
      .select(explode(Bridge.column(
        graft.expressions.ShingleSet(ex(col("t")), 8))).as("sh"))
      .agg(min(sha2(col("sh"), 256)).as("fp"), count(lit(1)).as("sz")).head()
    assert(fp.getString(0) == stagedFp.getString(0) &&
      fp.getInt(1).toLong == stagedFp.getLong(1))

    // simhash_sig: SQL spelling equals the Column API for both hash kinds
    val sim = spark.sql(
      """SELECT simhash_sig(t, false) AS sx, simhash_sig(t, true) AS sm
         FROM ext_docs WHERE id = 1""").head()
    val simCol = df.filter(col("id") === 1).select(
      graft.expressions.SimhashSig(col("t"), useMd5 = false).as("sx"),
      graft.expressions.SimhashSig(col("t"), useMd5 = true).as("sm")).head()
    assert(sim.getLong(0) == simCol.getLong(0) &&
      sim.getLong(1) == simCol.getLong(1))

    // sorted_intersect_size over two sorted shingle arrays
    val isz = spark.sql(
      """SELECT sorted_intersect_size(shingle_set(a.t, 5), shingle_set(b.t, 5)) AS n,
         size(shingle_set(a.t, 5)) AS na
         FROM ext_docs a JOIN ext_docs b ON a.id = 1 AND b.id = 2""").head()
    assert(isz.getInt(0) > 0 && isz.getInt(0) < isz.getInt(1))

    // structural parameters must be literals — a column reference fails
    // at analysis, not with a wrong answer
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_set(t, CAST(id AS INT)) FROM ext_docs").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)

    // simhash_sig's use_md5 accepts any FOLDABLE boolean spelling, not just
    // a bare literal (review finding: `NOT false` and casts were rejected)
    val folded = spark.sql(
      """SELECT simhash_sig(t, NOT false) AS sm,
         simhash_sig(t, CAST(1 AS BOOLEAN)) AS sm2
         FROM ext_docs WHERE id = 1""").head()
    assert(folded.getLong(0) == sim.getLong(1) &&
      folded.getLong(1) == sim.getLong(1))
    // a typed NULL fails with the parameter named, not a MatchError
    val en = intercept[Exception] {
      spark.sql(
        "SELECT simhash_sig(t, CAST(NULL AS BOOLEAN)) FROM ext_docs").collect()
    }
    assert(en.getMessage.contains("use_md5"), en.getMessage)
    // a non-foldable boolean still fails loudly at analysis
    val ec = intercept[Exception] {
      spark.sql("SELECT simhash_sig(t, id > 0) FROM ext_docs").collect()
    }
    assert(ec.getMessage.contains("use_md5"), ec.getMessage)

    // the registration table: exactly these nine SQL names resolve to graft
    // kernels, and a wrong-arity call to each fails at analysis, named
    val sqlNames = Set("vec_dot", "vec_l2_micros", "lev_within", "shingle_set",
      "minhash_sig", "shingle_minhash", "shingle_sha_min", "simhash_sig",
      "sorted_intersect_size")
    val registered = spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.")))
      .map(_.name).toSet
    assert(registered == sqlNames)
    for (name <- sqlNames; arity <- Seq(1, 4)) {
      val ea = intercept[Exception] {
        spark.sql(s"SELECT $name(${Seq.fill(arity)("1").mkString(", ")})")
      }
      assert(ea.getMessage.contains(name), ea.getMessage)
    }
  }

  test("optimizer rewrites the HOF dot-product spelling to vec_dot") {
    import org.apache.spark.sql.functions._
    val df = spark.range(3).select(
      aggregate(
        zip_with(array(lit(1.0), col("id").cast("double")),
          array(lit(2.0), lit(3.0)), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    assert(df.queryExecution.optimizedPlan.toString.contains("vec_dot"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(2.0, 5.0, 8.0))
    // a non-matching aggregate (different merge fn) must NOT rewrite
    val other = spark.range(1).select(
      aggregate(zip_with(array(lit(1.0)), array(lit(2.0)), (x, y) => x * y),
        lit(0.0), (acc, x) => acc - x).as("d"))
    assert(!other.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    assert(other.head().getDouble(0) == -2.0)
  }
}
