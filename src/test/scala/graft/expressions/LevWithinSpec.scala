package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The banded kernel must agree with SQL `levenshtein` everywhere the
  * query can observe it: exact distance whenever the true distance is
  * ≤ t, and -1 (filtered out) exactly when it exceeds t — across random
  * strings, band-edge distances (== t, == t+1), length gaps, empties, and
  * multi-byte codepoints (the built-in indexes codepoints, not UTF-16). */
class LevWithinSpec extends SparkSpec {

  private def check(pairs: Seq[(String, String)], t: Int): Unit = {
    import spark.implicits._
    checkRows(pairs.toDF("a", "b"), t)
  }

  /** [[check]] over raw bytes: hex pairs cast to string unvalidated, the
    * way Parquet strings and binary casts reach the kernel. */
  private def checkHex(pairs: Seq[(String, String)], t: Int): Unit = {
    import spark.implicits._
    checkRows(pairs.toDF("a", "b").select(
      unhex(col("a")).cast("string").as("a"),
      unhex(col("b")).cast("string").as("b")), t)
  }

  private def checkRows(df: org.apache.spark.sql.DataFrame, t: Int): Unit = {
    val rows = df.select(
      levenshtein(col("a"), col("b")).as("ref"),
      graft.expressions.LevWithin(col("a"), col("b"), t).as("got"),
      col("a"), col("b")).collect()
    rows.foreach { r =>
      val (ref, got) = (r.getInt(0), r.getInt(1))
      val expect = if (ref <= t) ref else -1
      assert(got == expect,
        s"t=$t a='${r.getString(2)}' b='${r.getString(3)}' ref=$ref got=$got")
    }
  }

  test("hand-picked band edges, empties, length gaps (t=4)") {
    check(Seq(
      ("", ""), ("", "abc"), ("", "abcd"), ("", "abcde"),
      ("abc", "abc"), ("abc", "abd"), ("abcdef", "badcfe"),
      ("aaaa", "bbbb"), ("aaaaa", "bbbbb"),            // dist == len
      ("abcdefgh", "abcdefgh".reverse),
      ("kitten", "sitting"), ("flaw", "lawn"),
      ("abcdefghij", "abcdefghijklmn"),                 // len gap == t
      ("abcdefghij", "abcdefghijklmno"),                // len gap == t+1
      ("aaaaaaaaaa", "aaaaaaaaab"),
      ("héllo wörld", "hello world"),                   // 2-byte codepoints
      ("日本語テキスト", "日本語テキスト"),
      ("日本語テキスト", "日本誤テキスト"),
      ("xxabcdefgh", "abcdefghxx")), 4)
    // malformed UTF-8: characters step by lead byte, as the built-in does
    checkHex(Seq(
      ("E697E697", "E697"),    // a lead byte swallows the next sequence
      ("80", "81"),            // lone continuation bytes
      ("6180", "6181"),
      ("E697", "E697")), 4)
  }

  test("randomized ≡ levenshtein across thresholds") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcde"  // small alphabet → distances cluster near t
    def str(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (0 until 400).map { _ =>
      (str(rnd.nextInt(32)), str(rnd.nextInt(32)))
    }
    for (t <- Seq(0, 1, 2, 4, 8)) check(pairs, t)
  }

  test("randomized across the ASCII/multibyte path boundary") {
    // the kernel routes full-ASCII pairs through a byte-indexed scratch-
    // buffer path and everything else through the code-point arrays —
    // mixed pairs must agree with the built-in regardless of which side
    // (or neither, or both) is ASCII
    val rnd = new scala.util.Random(11)
    val alpha = "abcdé日"  // 1-, 2- and 3-byte code points
    def str(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (0 until 300).map { _ =>
      (str(rnd.nextInt(24)), str(rnd.nextInt(24)))
    }
    for (t <- Seq(1, 2, 4)) check(pairs, t)
  }

  test("null on either side → null") {
    import spark.implicits._
    val df = Seq((Option("abc"), Option.empty[String]),
      (Option.empty[String], Option("abc"))).toDF("a", "b")
    val rows = df.select(
      graft.expressions.LevWithin(col("a"), col("b"), 4)).collect()
    rows.foreach(r => assert(r.isNullAt(0)))
  }
}
