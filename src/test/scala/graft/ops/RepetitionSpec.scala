package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Repetition-signal fixtures with hand-computed expectations, covering the
  * branches the synthetic corpus alone would leave at zero (the oracle path
  * plants dup lines for that — q54's derivation; here the arithmetic itself
  * is pinned).
  */
class RepetitionSpec extends AnyFunSuite with SparkSpec {

  private def sig(text: String): (Long, Long, Long, Long) = {
    import spark.implicits._
    val r = Repetition.signals(Seq((1L, text)).toDF("doc_id", "text")).collect()(0)
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("duplicate lines: counts, char mass, empty-line exclusion") {
    // lines a,b,a,c (the blank line vanishes): 4 lines, 3 distinct
    val (nl, dupBp, dupCharBp, _) = sig("a\nb\na\n\nc")
    assert(nl == 4L)
    assert(dupBp == 2500L) // (4-3)/4
    assert(dupCharBp == 2500L) // 1 duplicated char of 4
  }

  test("duplicate char mass weights long lines more") {
    // "longline" duplicated (8 of 17 line chars), "x" unique
    val (_, dupBp, dupCharBp, _) = sig("longline\nx\nlongline")
    assert(dupBp == 3333L) // 1 of 3 lines
    assert(dupCharBp == floorBp(8, 17))
  }

  test("top bigram: max(count * len) over token bigrams") {
    // tokens x y x y x -> bigrams "x y","y x","x y","y x": both count 2,
    // len 3 -> top chars 6 of 9 text chars
    val (_, _, _, topBp) = sig("x y x y x")
    assert(topBp == floorBp(6, 9))
  }

  test("degenerate docs: empty text and single token yield zeros") {
    assert(sig("") == ((0L, 0L, 0L, 0L)))
    assert(sig("solo") == ((1L, 0L, 0L, 0L)))
  }

  test("no duplicates -> zero dup fractions, bigram still counted") {
    val (nl, dupBp, dupCharBp, topBp) = sig("a b\nc d")
    assert(nl == 2L && dupBp == 0L && dupCharBp == 0L)
    assert(topBp == floorBp(3, 7)) // every bigram count 1, len 3 ("a b")
  }

  private def floorBp(num: Long, den: Long): Long =
    math.floor(num * 10000.0 / den).toLong

  test("corpusDupNgrams: cross-doc and within-doc repeats flag positions; short docs zero") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"w$i").mkString(" ") // exactly one 10-gram
    val docs = Seq(
      (1L, shared),                       // 1 position, duplicated via doc 2
      (2L, shared + " tail"),             // 2 positions, first duplicated
      (3L, s"$shared extra $shared"),     // self-repeat: both copies + bridges
      (4L, "too short to have any"),      // < 10 tokens -> 0 positions
      (5L, (1 to 12).map(i => s"u$i").mkString(" "))) // 3 unique positions
      .toDF("doc_id", "text")
    val out = Repetition.corpusDupNgrams(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1L, 1L, 10000L)))
    assert(out(2L) == ((2L, 1L, 5000L)))
    // doc 3: 21 tokens -> 12 positions; the two clean copies of the shared
    // gram repeat (within-doc + cross-doc); the 10 bridge grams through
    // "extra" are unique
    assert(out(3L) == ((12L, 2L, floorBp(2, 12))))
    assert(out(4L) == ((0L, 0L, 0L)))
    assert(out(5L) == ((3L, 0L, 0L)))
    assert(out.size == 5)
  }

  test("exactSubstringDedup: removes every copy of a duplicated run, keeps flanks") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),   // dup run mid-doc, flanks survive
      (2L, s"$shared delta"),              // dup run at the head
      (3L, "too short to have any"),       // < 10 tokens: untouched
      (4L, (1 to 11).map(i => s"u$i").mkString(" "))) // unique: untouched
      .toDF("doc_id", "text")
    val out = Repetition.exactSubstringDedup(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // remove-EVERY-occurrence: both docs lose the shared 10 tokens
    assert(out(1L) == ((13L, 10L, "alpha beta gamma")), out.toString)
    assert(out(2L) == ((11L, 10L, "delta")), out.toString)
    assert(out(3L) == ((5L, 0L, "too short to have any")), out.toString)
    assert(out(4L) == ((11L, 0L, (1 to 11).map(i => s"u$i").mkString(" "))), out.toString)
  }

  test("exactSubstringDedup: overlapping duplicated grams cover the whole run once") {
    import spark.implicits._
    // a duplicated 12-token run = 3 duplicated 10-gram starts (0,1,2) whose
    // windows overlap; exactly the 12 run tokens go, nothing beyond
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val docs = Seq((1L, s"$run keepme"), (2L, run)).toDF("doc_id", "text")
    val out = Repetition.exactSubstringDedup(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((13L, 12L, "keepme")), out.toString)
    assert(out(2L) == ((12L, 12L, "")), out.toString)
  }

  test("dupLineFracBp column equals signals' dup_line_frac_bp row-by-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "a\nb\na\n\nc"), (2L, "x"), (3L, ""), (4L, "l\nl\nl"))
      .toDF("doc_id", "text")
    val viaSignals = Repetition.signals(docs)
      .select(col("doc_id"), col("dup_line_frac_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaColumn = docs
      .select(col("doc_id"), Repetition.dupLineFracBp(col("text")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSignals == viaColumn)
  }

  test("corpusDupNgrams: minCount raises the duplication bar") {
    import spark.implicits._
    val g = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, g), (2L, g), (3L, g)).toDF("doc_id", "text")
    val strict = Repetition.corpusDupNgrams(docs, minCount = 4L).collect()
    assert(strict.forall(_.getLong(2) == 0L), "3 copies under minCount=4 must not flag")
    val loose = Repetition.corpusDupNgrams(docs, minCount = 3L).collect()
    assert(loose.forall(_.getLong(2) == 1L))
  }
}
