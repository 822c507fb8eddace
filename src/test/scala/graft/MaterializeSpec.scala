package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The queries whose operators read a materialized intermediate more than
  * once must survive losing its stored blocks: dropping every persisted
  * RDD between two actions on the same frame (what an executor loss does
  * to the blocks it held) makes the second action recompute from lineage
  * and return the same rows, not fail.
  */
class MaterializeSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val reusing = Seq(
    "q11_o1_natural_rank", "q21_lsh_doc_pairs", "q24_minhash_lsh_pairs",
    "q27_ann_lsh_topk", "q37_ann_ivf_topk", "q38_cluster_winners",
    "q49_embed_pairs_lsh", "q60_corpus_shuffle", "q69_kmeans",
    "q70_semdedup", "q76_curation_manifest")

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  for (name <- reusing) test(s"$name: same rows after every stored block is dropped") {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val first = sorted(df.collect())
    assert(first.nonEmpty, s"$name returned no rows at $sfDir")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(sorted(df.collect()) == first)
  }
}
