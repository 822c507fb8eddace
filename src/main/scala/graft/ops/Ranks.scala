package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** Scale-safe GLOBAL rank (O1 natural-sort ranking, reference
  * internal/text/text.go:34-67 ordering semantics via Exprs.naturalKey).
  *
  * `row_number() over (order by key)` with no partitionBy funnels the whole
  * table through ONE task (Exchange SinglePartition) — the textbook
  * single-partition-window scale killer; it hides at sf0.1 (0.2 s) and dies
  * at 10^12 rows. The distributed shape here: range-repartition on the key,
  * sort within partitions, then `zipWithIndex` — whose internal count job
  * computes exactly the per-partition offsets and whose result job REUSES
  * the same shuffle output (same RDD, same shuffle id), so every partition
  * holds a contiguous key range and offset + local position reproduces the
  * global row_number exactly.
  *
  * Why the RDD hop instead of a second DataFrame aggregation for the
  * offsets (trap worth recording): a pure-DataFrame twin that consumed the
  * range exchange twice (per-bucket counts joined back against per-bucket
  * row_numbers) is SUBTLY WRONG — RangePartitioner samples its boundaries
  * per execution (the sampling seed involves the freshly-assigned RDD id),
  * and column pruning narrows the counts subtree's projection below the
  * exchange so ReuseExchange sees two different exchanges and runs BOTH:
  * the two executions can draw different boundaries, skewing every
  * offset (observed at sf0.01: ranks drifted by +28 after bucket 0).
  * zipWithIndex is the per-partition-offset construction with shuffle
  * reuse guaranteed by lineage, not by optimizer pattern-matching.
  *
  * Ties: rows with EQUAL keys stay in one range bucket, but their relative
  * order is as nondeterministic as the global window's — callers wanting
  * stable output pass a key that is unique per row (q11's naturalKey embeds
  * the full string as its final tiebreak block).
  */
object Ranks {

  def globalRank(df: DataFrame, key: Column, rankCol: String = "rank",
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Materialize the keyed projection ONCE: repartitionByRange's
    // RangePartitioner runs a separate SAMPLING job over its child before
    // the shuffle map, so an unmaterialized key expression (q11's
    // naturalKey UDF — the dominant per-row cost) was evaluated TWICE per
    // row, once in the sampling pass and once in the exchange write.
    val sorted = Bridge.reused(df.withColumn("__gr_key", key))
      .repartitionByRange(n, col("__gr_key"))
      .sortWithinPartitions("__gr_key")
    val keyIdx = sorted.schema.fieldIndex("__gr_key")
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      val vals = r.toSeq.patch(keyIdx, Nil, 1) :+ (i + 1L)
      Row.fromSeq(vals)
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields.patch(keyIdx, Nil, 1) :+
        org.apache.spark.sql.types.StructField(rankCol, LongType, nullable = false))
    spark.createDataFrame(ranked, outSchema)
  }
}
