package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Planted-fixture suite for the source-mixture report: known per-source
  * doc/token/dup counts must come out exactly, and the balanced rate must
  * equalize token mass (the min-token source at exactly 10000 bp).
  */
class MixtureSpec extends AnyFunSuite with SparkSpec {

  test("sourceMixture: planted counts, dup fraction, balanced rate") {
    import spark.implicits._
    // srcA: 4 docs, one exact dup pair (after normalize: case folds), 12 tokens
    // srcB: 2 docs, no dups, 4 tokens -> the min-token source
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "srcA", 0L),
      (2L, "ALPHA  beta   gamma", "en", "srcA", 0L), // normalizes == doc 1
      (3L, "one two three four five", "en", "srcA", 0L),
      (4L, "six seven eight nine", "en", "srcA", 0L),
      (5L, "left right", "en", "srcB", 0L),
      (6L, "up down", "en", "srcB", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Mixture.sourceMixture(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // srcA: 4 docs, 3+3+5+4=15 tokens, 3 distinct, dup 1/4 = 2500 bp,
    //       rate = floor(4 * 10000 / 15) = 2666
    assert(got("srcA") == ((4L, 15L, 3L, 2500L, 2666L)), got.toString)
    // srcB: min-token source -> rate exactly 10000
    assert(got("srcB") == ((2L, 4L, 2L, 0L, 10000L)), got.toString)
  }

  test("sourceMixture: deterministic under repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Mixture.sourceMixture(docs).collect().map(_.toSeq).toSet
    val b = Mixture.sourceMixture(docs.repartition(7)).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("applyMixture: kept iff coin*10000 < rate*buckets; min-token source keeps all") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Mixture.applyMixture(docs)
    val bad = out.filter(col("coin") * lit(10000L) >=
      col("rate_bp") * lit(Splits.SampleBuckets.toLong)).count()
    assert(bad == 0)
    // the min-token source has rate_bp = 10000 -> every coin qualifies
    val rates = Mixture.sourceMixture(docs).select(col("source"), col("rate_bp"))
    val minSrc = rates.orderBy(col("rate_bp").desc).head()
    assert(minSrc.getLong(1) == 10000L)
    val full = docs.filter(col("source") === minSrc.getString(0)).count()
    assert(out.filter(col("source") === minSrc.getString(0)).count() == full)
    // precomputed-report path equals the self-computed path
    val pre = Mixture.applyMixture(docs, Some(rates))
    assert(out.exceptAll(pre).isEmpty && pre.exceptAll(out).isEmpty)
  }

  test("applyMixture: a reported rate_bp of 0 keeps ~1bp of the source, never zero") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a source >10000x the min's tokens reports floor(...) = 0; applying a
    // literal 0 would drop the whole source — the floor keeps coin < 1bp
    val docs = (1L to 30000L).map(i => (i, "headcrawl")).toDF("doc_id", "source")
    val rates = Seq(("headcrawl", 0L)).toDF("source", "rate_bp")
    val kept = Mixture.applyMixture(docs, Some(rates))
    val expected = docs
      .withColumn("coin",
        Splits.bucketOf(col("doc_id"), Mixture.MixSalt, Splits.SampleBuckets))
      .filter(col("coin") * lit(10000L) < lit(Splits.SampleBuckets.toLong))
      .count()
    assert(expected > 0, "fixture must land at least one sub-1bp coin")
    assert(kept.count() == expected)
  }
}
