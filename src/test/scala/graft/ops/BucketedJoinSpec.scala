package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Bucketed co-located join: the write-side partitioning contract that
  * removes the shuffle from repeated large-large joins — the storage-layout
  * counterpart of [[Skew.saltedJoin]] (which fixes the skewed exchange you
  * DO take). A 100 TB corpus joined to its per-doc metadata on every
  * pipeline run should be bucketed by doc_id once at write time; every
  * subsequent equi-join on doc_id then reads co-located buckets with ZERO
  * exchange on either side, instead of re-shuffling both tables per run.
  *
  * Spec-only (no q entry): bucket metadata lives in the session catalog,
  * and the driver's Verify contract reads bare parquet paths — so the
  * demonstration is pinned here at the plan level instead (both join
  * sides bucketed by the key => no Exchange anywhere in the executed
  * plan; broadcast and AQE are disabled for the assertion so the absence
  * of the exchange is attributable to bucketing alone, not to a
  * small-table rescue).
  */
class BucketedJoinSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("both sides bucketed by the join key: zero Exchange in the plan, plain-join result") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = Files.createTempDirectory("graft_bucketed").toString
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      docs.select(col("doc_id"), col("text"), col("source"))
        .write.format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$tmp/corpus").mode("overwrite").saveAsTable("buck_corpus")
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$tmp/meta").mode("overwrite").saveAsTable("buck_meta")
      val j = spark.table("buck_corpus").join(spark.table("buck_meta"), "doc_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(j.count() == docs.count())
      // negative control: the same join over the UNBUCKETED parquet does
      // shuffle — the exchange's absence above is the layout's doing
      val plain = docs.select(col("doc_id"), col("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS buck_corpus")
      spark.sql("DROP TABLE IF EXISTS buck_meta")
    }
  }
}
