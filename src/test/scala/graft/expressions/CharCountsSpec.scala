package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions.charCounts

/** The one-pass char-histogram kernel must yield exactly the rows of the
  * regex spelling it replaced: explode(regexp_extract_all(text, '[\s\S]'))
  * then groupBy(id, c).count() — per-code-point counts, including
  * multi-byte code points (the regex iterates code points, so the kernel's
  * UTF-8 walk must slice the same units) and the empty-string → no-rows
  * behavior that keeps empty docs out of e4_char_entropy's output. */
class CharCountsSpec extends SparkSpec {

  private val cases = Seq(
    "abcabc aa",                    // repeats + spaces
    "x",                            // single char
    "",                             // empty → no rows after explode
    "a\tb\nc\rd",                   // whitespace classes [\s\S] must count
    "héllo wörld",                  // 2-byte codepoints
    "日本語のテキスト日本",             // 3-byte codepoints
    "mix 日本 and ascii")            // mixed widths

  private def df = {
    import spark.implicits._
    cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("kernel rows ≡ regex explode + group count") {
    val kernel = df
      .select(col("id"), explode(charCounts(col("text"))).as("e"))
      .select(col("id"), col("e.c").as("c"), col("e.cnt").as("cnt"))
    val regex = df
      .select(col("id"),
        explode(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0)))
          .as("c"))
      .groupBy("id", "c").agg(count(lit(1)).as("cnt"))
    assert(kernel.exceptAll(regex).isEmpty && regex.exceptAll(kernel).isEmpty,
      "kernel and regex spellings disagree")
  }

  test("counts sum to the code-point length; empty string yields no rows") {
    val sums = df
      .select(col("id"), length(col("text")).as("n"),
        explode(charCounts(col("text"))).as("e"))
      .groupBy("id", "n").agg(sum("e.cnt").as("total"))
      .collect()
    // the empty-text id is absent (explode of an empty array drops the row)
    assert(sums.length == cases.count(_.nonEmpty))
    sums.foreach(r => assert(r.getInt(1).toLong == r.getLong(2),
      s"id ${r.getLong(0)}: length ${r.getInt(1)} != sum ${r.getLong(2)}"))
  }

  test("a truncated UTF-8 tail is one clamped character, not a read past the input") {
    // Parquet strings and binary→string casts are not UTF-8-validated: c3 a9
    // is é, and e6 97 are the first two bytes of a three-byte character
    for (pad <- Seq(0, 5, 28)) {
      val counts = spark.range(1)
        .select(explode(charCounts(
          unhex(lit("61" * pad + "C3A9E697")).cast("string"))).as("e"))
        .select(hex(col("e.c").cast("binary")), col("e.cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
      val want = Set("C3A9" -> 1L, "E697" -> 1L) ++
        (if (pad > 0) Set("61" -> pad.toLong) else Set.empty)
      assert(counts == want, s"$pad leading a's")
    }
  }

  test("null text → null, not a crash") {
    import spark.implicits._
    val r = Seq(Tuple1(Option.empty[String])).toDF("text")
      .select(charCounts(col("text"))).head
    assert(r.isNullAt(0))
  }
}
