package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Sequence-packing suite: hand-computed boundary fixture, and the load-
  * bearing check that the DISTRIBUTED two-pass prefix sum equals the
  * single-partition window definition row-for-row across many partitions
  * (integer weights, so equality is exact, not approximate).
  */
class PackSpec extends AnyFunSuite with SparkSpec {

  test("budget boundaries: offsets, spanning docs, empty docs") {
    import spark.implicits._
    // token counts: 3, 4, 0, 5  with budget 6
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, ""), (4L, "h i j k l"))
      .toDF("doc_id", "text")
    val out = Pack.packSequences(docs, budget = 6L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((3L, 0L, 0L, 0L)))
    assert(out(2L) == ((4L, 3L, 0L, 3L))) // spans seq 0 -> 1
    assert(out(3L) == ((0L, 7L, 1L, 1L))) // empty doc still placed
    assert(out(4L) == ((5L, 7L, 1L, 1L)))
  }

  test("distributed two-pass == single-partition window, across partitions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dist = Pack.packSequences(docs, budget = 512L, partitions = 5)
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("seq_id", floor(col("cum_before") / 512L).cast("long"))
      .withColumn("seq_offset", col("cum_before") % 512L)
    assert(dist.rdd.getNumPartitions > 1, "must actually cross partitions")
    assert(dist.exceptAll(ref).isEmpty && ref.exceptAll(dist).isEmpty,
      "distributed packing must equal the window definition exactly")
    assert(dist.count() == docs.count())
  }

  test("deterministic under input repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Pack.packSequences(docs, budget = 256L, partitions = 3)
    val b = Pack.packSequences(docs.repartition(11), budget = 256L, partitions = 7)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("the result plan reports its measured row count and size") {
    // 8 bytes of row overhead + five long columns = 48 bytes a row
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Pack.packSequences(docs, budget = 512L, partitions = 5)
    val st = out.queryExecution.optimizedPlan.stats
    val n = out.collect().length
    assert(n > 0)
    assert(st.rowCount.contains(BigInt(n)), s"$st for $n rows")
    assert(st.sizeInBytes == BigInt(n) * 48, st.toString)
  }
}
