package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Vocabulary-stats suite: hand-computed tf/df fixture (case folding, minTf
  * cut), exact unigram-score arithmetic including the empty-doc row, and the
  * precomputed-vocab fast path equalling the self-computed one.
  */
class VocabSpec extends AnyFunSuite with SparkSpec {

  def fixture(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "The cat sat"),
      (2L, "the cat ran"),
      (3L, "THE the zebra"),
      (4L, "")).toDF("doc_id", "text")
  }

  test("tokenStats: tf totals occurrences, df counts docs, minTf cuts the tail") {
    val out = Vocab.tokenStats(fixture(), minTf = 2L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "the": 4 occurrences (The/the/THE/the) across 3 docs; "cat": 2 in 2 docs
    assert(out == Map("the" -> ((4L, 3L)), "cat" -> ((2L, 2L))))
  }

  test("unigramScore: exact integer arithmetic, empty doc keeps a zero row") {
    val out = Vocab.unigramScore(fixture()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // corpus tf: the=4 sat=1 cat=2 ran=1 zebra=1 -> floor(log2): 2,0,1,0,0
    // doc1 the,cat,sat: (2+1+0)/3 = 10000 bp; doc2 the,cat,ran: 3/3 -> 10000
    // doc3 the,the,zebra: (2+2+0)/3 -> floor(4*10000/3)=13333; doc4 empty -> 0
    assert(out == Map(
      1L -> ((3L, 10000L)), 2L -> ((3L, 10000L)),
      3L -> ((3L, 13333L)), 4L -> ((0L, 0L))))
  }

  test("bpePairCounts: pairs weighted by word frequency; 1-char words drop; char-based split") {
    import spark.implicits._
    // words: ab(x2), abc(x1), x(x1, dropped), héé(x1)
    val docs = Seq(
      (1L, "ab AB x"),
      (2L, "abc héé")).toDF("doc_id", "text")
    val out = Vocab.bpePairCounts(docs, minCount = 1L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ab: 2 (from "ab") + 1 (from "abc") = 3; bc: 1; hé/éé: character
    // substring semantics, multibyte-safe on both engines
    assert(out == Map("ab" -> 3L, "bc" -> 1L, "hé" -> 1L, "éé" -> 1L), out.toString)
    val cut = Vocab.bpePairCounts(docs, minCount = 2L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cut == Map("ab" -> 3L))
  }

  test("tfidfKeywords: rare-here-and-nowhere-else wins; score ties break on token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "banana banana banana date")).toDF("doc_id", "text")
    val out = Vocab.tfidfKeywords(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // df: apple 1, banana 3, cherry 1, date 1
    assert(out((1L, "apple")) == ((2L, 1L, 20000L, 1L)))
    assert(out((1L, "banana")) == ((1L, 3L, 3333L, 2L)))
    assert(out((2L, "cherry")) == ((1L, 1L, 10000L, 1L)))
    // doc 3: banana floor(3*10000/3)=10000 ties date 10000 -> token asc
    assert(out((3L, "banana"))._4 == 1L && out((3L, "date"))._4 == 2L)
    val top1 = Vocab.tfidfKeywords(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1 == Map(1L -> "apple", 2L -> "cherry", 3L -> "banana"))
  }

  test("tfidfKeywords: the top-k window is executed as WindowGroupLimit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Vocab.tfidfKeywords(docs).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("tfidfKeywords: precomputed broadcast df table equals the self-computed path") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dfT = broadcast(Vocab.tokenStats(docs, minTf = 1L)
      .select(col("token"), col("df")))
    val a = Vocab.tfidfKeywords(docs)
    val b = Vocab.tfidfKeywords(docs, dfTable = Some(dfT))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("tfidfKeywords: a minTf=2 (default) df table still scores tf=1 tokens as df=1") {
    import spark.implicits._
    // "unicorn" occurs ONCE in the corpus -> cut by tokenStats minTf=2;
    // the left join + coalesce(df, 1) must still rank it top (df=1 is its
    // exact document frequency), where an inner join would drop the doc's
    // best keyword entirely.
    val docs = Seq(
      (1L, "unicorn common common"),
      (2L, "common common filler"),
      (3L, "common filler filler")).toDF("doc_id", "text")
    val dfT = Vocab.tokenStats(docs).select(col("token"), col("df")) // default minTf = 2
    assert(!dfT.collect().map(_.getString(0)).contains("unicorn"))
    val a = Vocab.tfidfKeywords(docs)
    val b = Vocab.tfidfKeywords(docs, dfTable = Some(dfT))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val top1 = Vocab.tfidfKeywords(docs, k = 1, dfTable = Some(dfT)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1(1L) == "unicorn")
  }

  test("precomputed broadcast vocab path equals the self-computed path") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = broadcast(Vocab.tokenStats(docs, minTf = 1L))
    val a = Vocab.unigramScore(docs)
    val b = Vocab.unigramScore(docs, vocab = Some(vocab))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() == docs.count())
  }

  test("unigramScore: a minTf=2 (default) vocab still weights tf=1 tokens as log2(1)=0") {
    // a token cut by the default minTf=2 has corpus tf exactly 1, whose
    // weight floor(log2(1)) = 0 the left join + coalesce reproduces — an
    // inner join would shrink the denominator and score gibberish HIGH
    import spark.implicits._
    val docs = Seq(
      (1L, "unicorn common common"), // unicorn: corpus tf = 1, cut at minTf=2
      (2L, "common common rare rare"),
      (3L, "common rare mid mid")).toDF("doc_id", "text")
    val defVocab = Vocab.tokenStats(docs) // default minTf = 2
    assert(!defVocab.collect().map(_.getString(0)).contains("unicorn"))
    val a = Vocab.unigramScore(docs)
    val b = Vocab.unigramScore(docs, vocab = Some(defVocab))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and the absolute value: doc1 = (log2(5)=2) + (0 for unicorn) ... over
    // 3 tokens; common tf=5 -> weight 2; floor((2+2+0)*10000/3) = 13333
    val d1 = b.filter($"doc_id" === 1L).head()
    assert(d1.getLong(1) == 3L && d1.getLong(2) == 13333L, d1.toString)
  }
}
