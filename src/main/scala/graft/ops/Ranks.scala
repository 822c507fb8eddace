package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe GLOBAL rank (O1 natural-sort ranking, reference
  * internal/text/text.go:34-67 ordering semantics via Exprs.naturalKey).
  *
  * `row_number() over (order by key)` with no partitionBy funnels the whole
  * table through ONE task (Exchange SinglePartition) — the textbook
  * single-partition-window scale killer; it hides at sf0.1 (0.2 s) and dies
  * at 10^12 rows. The distributed shape here: range-repartition on the key,
  * sort within partitions, then `zipWithIndex`'s construction: a count job
  * computes exactly the per-partition offsets and the result job REUSES
  * the same shuffle output (same RDD, same shuffle id), so every partition
  * holds a contiguous key range and offset + local position reproduces the
  * global row_number exactly. The count job counts every partition, so the
  * result reports its measured row count as plan statistics (and a size
  * from Spark's row-size formula), not the 8 EiB default of an RDD frame.
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
  * Both jobs here run over ONE RDD, so the shuffle reuse is guaranteed by
  * lineage, not by optimizer pattern-matching.
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
    val types = sorted.schema.fields.map(_.dataType)
    val rows = sorted.queryExecution.toRdd // ONE lineage: both jobs reuse its shuffle
    // exclusive prefix sums of the rows per partition; the last is the row count
    val offsets = rows.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      .scanLeft(0L)(_ + _)
    val ranked = rows.mapPartitionsWithIndex { (p, it) =>
      var rank = offsets(p)
      it.map { r =>
        rank += 1
        // copied: the sort's output rows point into buffers it reuses
        InternalRow.fromSeq(r.copy().toSeq(types).patch(keyIdx, Nil, 1) :+ rank)
      }
    }
    val outSchema = StructType(sorted.schema.fields.patch(keyIdx, Nil, 1) :+
      StructField(rankCol, LongType, nullable = false))
    // size by Spark's row-size formula with each column at its type's default size
    Bridge.internalRowFrame(spark, outSchema, ranked,
      Some((BigInt(offsets.last) * (8 + outSchema.defaultSize), BigInt(offsets.last))))
  }
}
