package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Decontamination fixtures: planted eval overlap, the below-n short-doc
  * rule, ASCII case folding, and the complete-spine guarantee.
  */
class DecontaminateSpec extends AnyFunSuite with SparkSpec {

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def run(docs: Seq[(Long, String)], eval: Seq[(Long, String)],
      n: Int = 4): Map[Long, (Long, Boolean)] =
    Decontaminate.screen(df(docs: _*), df(eval: _*), n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("planted overlap flags; clean docs keep a zero row") {
    val eval = Seq((100L, "the quick brown fox jumps"))
    val out = run(Seq(
      1L -> "prefix the quick brown fox jumps suffix", // 2 gram positions hit
      2L -> "totally unrelated text with many words here",
      3L -> "the quick brown fox sat"), // shares only a 4-gram
      eval)
    assert(out(1L) == ((2L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((1L, true)))
    assert(out.size == 3, "every input doc keeps a row")
  }

  test("docs below n tokens can never be contaminated") {
    val out = run(Seq(1L -> "the quick brown"), Seq((9L, "the quick brown fox")), n = 4)
    assert(out(1L) == ((0L, false)))
  }

  test("ASCII case folds; eval-set duplicates don't double-count") {
    val out = run(
      Seq(1L -> "THE QUICK Brown Fox jumps"),
      Seq((9L, "the quick brown fox"), (10L, "The Quick Brown Fox")), n = 4)
    assert(out(1L) == ((1L, true))) // one gram position, despite 2 eval copies
  }

  test("repeated hit positions in the doc each count") {
    val out = run(Seq(1L -> "a b c d and a b c d"), Seq((9L, "a b c d")), n = 4)
    assert(out(1L)._1 == 2L)
  }

  test("compiled ngrams UDF is row-identical to the Column-HOF spec twin") {
    import org.apache.spark.sql.functions.col
    val fixtures = df(
      1L -> "The QUICK brown fox JUMPS over the lazy dog today",
      2L -> "short doc", // below n -> empty
      3L -> "", // empty text
      4L -> "  tabs\tand\nnewlines   collapse  ", // ws runs
      5L -> "a b c d e f g h", // exactly n tokens at n=8
      6L -> "İstanbul STRASSE ß ümlaut MIXED case grams here now") // non-ASCII untouched
    for (n <- Seq(2, 4, 8)) {
      val u = fixtures.select(col("doc_id"),
        Decontaminate.ngrams(col("text"), n).as("g")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val h = fixtures.select(col("doc_id"),
        SpecTwins.ngramsHof(col("text"), n).as("g")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(u == h, s"n=$n")
    }
    // and over the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.select(col("doc_id"), Decontaminate.ngrams(col("text"), 8).as("g"))
    val b = docs.select(col("doc_id"), SpecTwins.ngramsHof(col("text"), 8).as("g"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
