package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions._

/** Planted-duplicate semantics for the sketch-based dedup operators (the
  * hash-dependent paths the DuckDB oracle can't express). */
class DedupSpec extends SparkSpec {

  private def planted: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill in the afternoon sun light"
    val nearDup = base.replace("afternoon", "evening") // tiny edit
    val nearDup2 = base.replace("quick", "swift")
    val unrelated1 = "completely different content about spark shuffle " +
      "partitions and catalyst optimizer rules for distributed queries"
    val unrelated2 = "yet another text on battery cycling capacity fade " +
      "and coulombic efficiency measured over many charge cycles"
    Seq((0L, base), (1L, nearDup), (2L, nearDup2), (3L, unrelated1),
      (4L, unrelated2))
      .toDF("doc_id", "text")
  }

  test("minhash LSH finds every pair whose exact jaccard clears the threshold") {
    val got = minhashLshPairs(planted, numHashes = 128, bands = 32,
      shingleLen = 5, threshold = 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact jaccard ground truth via the posting-list join
    val sh = planted.select(col("doc_id"), shingles(col("text"), 5).as("s"))
    val truth = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
        size(array_union(col("a.s"), col("b.s"))))
      .filter(col("j") >= 0.6)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain high-jaccard pairs")
    assert(got == truth, s"got $got want $truth")
  }

  test("an AT-threshold pair survives the signature-agreement pre-filter") {
    // the sketch filter (sketchAgreeOk, the 100x-probe fix) prunes banding
    // false positives at agreement >= threshold - 0.3; a true pair sitting
    // EXACTLY at the jaccard threshold is its worst case and must still be
    // recalled. Build one at J ~= threshold by mixing shared + private
    // tails, compute its exact jaccard, and run at that exact threshold.
    import spark.implicits._
    val shared = (1 to 60).map(i => s"w$i").mkString(" ")
    val tailA = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val tailB = (1 to 12).map(i => s"beta$i").mkString(" ")
    val df = Seq((0L, s"$shared $tailA"), (1L, s"$shared $tailB"))
      .toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), shingles(col("text"), 5).as("s"))
    val j = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
        size(array_union(col("a.s"), col("b.s"))))
      .head().getDouble(0)
    assert(j > 0.5 && j < 0.95, s"fixture drifted: exact jaccard $j")
    // 32 bands of 2 rows: banding recall at this J is ~1 - (1-J^2)^32 ~= 1,
    // so the sketch filter is the ONLY mechanism that could drop the pair —
    // the test isolates the filter at its worst-case margin (the 8x8
    // catalog banding's own recall curve is a separate property, proven
    // against the driver oracle where true dups sit at J ~= 1)
    val got = minhashLshPairs(df, numHashes = 64, bands = 32,
      shingleLen = 5, threshold = j)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)),
      s"at-threshold pair (J=$j) lost by the pre-verify filter: $got")
  }

  test("simhash: near-dups collide at small hamming distance, unrelated don't") {
    val pairs = simhashPairs(planted, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair missing from $pairs")
    assert(!pairs.contains((3L, 4L)), "unrelated docs must not collide")
  }

  test("sub-banded simhash (hamming ≤ 3) is lossless vs brute-force hamming") {
    // The (chunk16, sub12) hierarchical banding must return EXACTLY the
    // pairs within the radius — the double pigeonhole guarantees recall,
    // the final hamming filter precision. Random word-mutation corpus:
    // clusters of near-identical docs (0-2 token flips) over a shared
    // vocabulary, so both planted near-pairs and background collisions
    // exercise the bucket join.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w$i")
    val docs = (0 until 60).flatMap { c =>
      val base = Seq.fill(30)(vocab(rnd.nextInt(vocab.size)))
      (0 until 3).map { v =>
        val mutated = base.map(w =>
          if (rnd.nextInt(20) == 0) vocab(rnd.nextInt(vocab.size)) else w)
        (c * 3L + v, mutated.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val got = simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = docs.select(col("doc_id"), simhash("text").as("h"))
    val truth = hashes.as("a").crossJoin(hashes.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.h").bitwiseXOR(col("b.h"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain hamming-close pairs")
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("simhash of identical text is identical; single-token flip is close") {
    import spark.implicits._
    val d = Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), simhash("text").as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(0L) == d(1L))
    assert(java.lang.Long.bitCount(d(0L) ^ d(2L)) <= 24)
  }

  test("span dedup cuts exactly the words covered by a shared 5-gram") {
    import spark.implicits._
    val dir = tempDir("spandedup")
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta unique0 tail0"),
      (1L, "head1 alpha beta gamma delta epsilon zeta tail1"),
      (2L, "totally different words none repeated here at all"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long")
          .as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.QueryCatalog.queries("e2_span_dedup")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // docs 0/1 share the span "alpha beta gamma delta epsilon zeta": every
    // position under a duplicated 5-gram goes, the rest survive in order
    assert(got(0L) == ((2L, "unique0 tail0")))
    assert(got(1L) == ((2L, "head1 tail1")))
    // no duplicated grams elsewhere: untouched, including the < 5-word doc
    assert(got(2L) == ((8L, "totally different words none repeated here at all")))
    assert(got(3L) == ((2L, "tiny doc")))
  }
}
