package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** k-means / SemDeDup / salted-join / importance-resample suite: planted
  * cluster geometry (identical docs co-cluster and dedup; zero vectors are
  * guarded, not NaN-compared), empty-cluster centroid carry, salted-join
  * result identity vs the plain join, and resample coin/rate fidelity.
  */
class ClusterSkewSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def embDf(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "embedding")
  }

  private def vec(xs: Float*): Array[Float] = {
    val a = new Array[Float](Embed.Dim)
    xs.zipWithIndex.foreach { case (x, i) => a(i) = x }
    a
  }

  test("kmeans: identical embeddings co-cluster; assignment deterministic under repartition") {
    val e = embDf(Seq(
      1L -> vec(1000f), 2L -> vec(0f, 1000f), 3L -> vec(0f, 0f, 1000f),
      10L -> vec(1001f), 11L -> vec(0f, 999f), 12L -> vec(0f, 0f, 1000f),
      13L -> vec(1000f), 14L -> vec(0f, 1000f)))
    val a = Cluster.kmeans(e, k = 3, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.size == 8)
    assert(a(1L) == a(10L) && a(1L) == a(13L), s"axis-0 family split: $a")
    assert(a(2L) == a(11L) && a(2L) == a(14L), s"axis-1 family split: $a")
    assert(a(3L) == a(12L), s"axis-2 family split: $a")
    assert(Set(a(1L), a(2L), a(3L)).size == 3, s"families merged: $a")
    val b = Cluster.kmeans(e.repartition(7), k = 3, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "assignment changed under repartitioning")
  }

  test("kmeans: duplicate init centroids leave a cluster empty; centroid carries, ties break low") {
    // ids 1 and 2 share an embedding, so init centroids 0 and 1 coincide;
    // cluster 0's members ARE its centroid (mean never moves), so the
    // tie re-breaks to cluster 0 every round and cluster 1 stays empty —
    // the COALESCE/carry path must neither crash nor reassign. (With a
    // point at 501 pulling cluster 0's mean, the carried duplicate
    // centroid would legitimately capture the tied points next round —
    // that's correct Lloyd behavior, not a carry bug.)
    val e = embDf(Seq(
      1L -> vec(500f), 2L -> vec(500f), 3L -> vec(0f, 500f),
      5L -> vec(0f, 499f)))
    val a = Cluster.kmeans(e, k = 3, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.values.toSet == Set(0L, 2L), s"expected empty cluster 1: $a")
    assert(a(1L) == 0L && a(2L) == 0L)
    assert(a(3L) == 2L && a(5L) == 2L)
  }

  test("semDedup: identical pair drops the higher id; zero vectors are kept (NaN guard)") {
    val e = embDf(Seq(
      1L -> vec(1000f, 7f), 2L -> vec(1000f, 7f), // identical: drop 2
      3L -> vec(0f, 0f, 1000f),                   // lone direction: kept
      4L -> vec(0f), 5L -> vec(0f)))              // zero vectors: cos undefined -> kept
    val kept = Cluster.semDedup(e, k = 2, iters = 2).collect()
      .map(_.getLong(0)).toSet
    assert(!kept.contains(2L), "higher-id exact dup must drop")
    assert(kept.contains(1L) && kept.contains(3L))
    assert(kept.contains(4L) && kept.contains(5L),
      "zero-norm pairs must not NaN-qualify as duplicates")
  }

  test("saltedJoin: result-identical to the plain join; no broadcast in the plan") {
    val enriched = Skew.enrichBySource(docs)
    val plain = docs.select(col("doc_id"), col("source"))
      .join(Skew.sourceStats(docs), Seq("source"))
      .select(col("doc_id"), col("source"), col("src_docs"), col("src_chars"))
    assert(enriched.except(plain).count() == 0)
    assert(plain.except(enriched).count() == 0)
    assert(enriched.count() == docs.count())
    val plan = enriched.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      "salted join must keep the shuffled-hash shape it exists to demonstrate")
  }

  test("saltedJoin: fact rows of one key spread over multiple salt cells") {
    // the whole point: a head key's rows no longer land in one task's hash
    // bucket — its docs must carry >1 distinct salt at sf0.001 sizes
    val fs = docs.select(col("doc_id"), col("source"))
      .withColumn("__salt",
        Exprs.fnv1a64(col("doc_id").cast("string")).bitwiseAND(lit(Skew.Salts - 1L)))
    val spread = fs.groupBy("source").agg(countDistinct(col("__salt")).as("cells"))
      .agg(min("cells")).head().getLong(0)
    assert(spread > 1, s"head keys still concentrated: min cells=$spread")
  }

  test("importanceResample: kept iff coin < rate; rate = min(buckets, floor + stopword_bp)") {
    val out = Splits.importanceResample(docs)
    val bad = out.filter(col("sample_key") >= col("rate") ||
      col("rate") =!= least(lit(Splits.SampleBuckets.toLong),
        lit(Splits.ResampleFloor) + col("stopword_ratio_bp"))).count()
    assert(bad == 0)
    val n = docs.count(); val kept = out.count()
    assert(kept > 0 && kept < n, s"degenerate resample: $kept of $n")
    val again = Splits.importanceResample(docs.repartition(7))
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0 &&
      again.select("doc_id").except(out.select("doc_id")).count() == 0,
      "kept set changed under repartitioning")
  }
}
