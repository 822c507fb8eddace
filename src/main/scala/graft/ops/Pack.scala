package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing for training: lay the corpus out as one deterministic
  * token stream (docs concatenated in doc_id order) cut into fixed-budget
  * training sequences, and tell every document which sequence it starts in
  * and at what offset — the concat-and-chunk packing step between "deduped
  * corpus" and "tokenized shards" in an LLM data pipeline (no reference
  * analogue; graft-added §2.9).
  *
  * The core is a GLOBAL WEIGHTED PREFIX SUM (exclusive running token count
  * in doc_id order). `sum() over (order by doc_id)` with no partitionBy is
  * the single-partition-window scale killer, so this uses the same
  * distributed construction as [[Ranks.globalRank]], generalized from
  * count to weight: range-repartition on doc_id, sort within partitions,
  * then two passes over ONE shuffled RDD lineage — pass 1 reduces each
  * partition to its token total (a #partitions-sized driver collect, the
  * same bounded-by-design collect as the IVF quantizer), pass 2 adds the
  * scanned per-partition offsets to a local running sum. Both passes hang
  * off the SAME RDD val, so the range exchange is planned (and its
  * boundaries sampled) exactly once and the second job reuses the shuffle
  * files — the boundary-resampling trap documented on Ranks.globalRank
  * cannot reopen here.
  *
  * Offsets are integers, so the distributed sum is EXACTLY the sequential
  * one (no float reassociation), and the DuckDB oracle can recompute it as
  * a plain window — making this one of the few operators whose scale shape
  * and oracle are bit-identical by construction.
  */
object Pack {

  val DefaultBudget = 2048L

  /** Per-doc packing assignment over `docs(doc_id, text)`:
    * n_tokens (whitespace tokens), cum_before (exclusive prefix sum in
    * doc_id order), seq_id = cum_before / budget, seq_offset = cum_before
    * % budget. A doc longer than the remaining room in its sequence simply
    * spans into the next one(s), as concat-and-chunk does.
    */
  def packSequences(docs: DataFrame, budget: Long = DefaultBudget,
      partitions: Int = 0): DataFrame =
    packCounts(docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
      budget, partitions)

  /** [[packSequences]] over a pre-tokenized (doc_id, n_tokens) frame — the
    * form composition sites use (the q76 curation manifest): token counts
    * are computed map-side where the text already is, so the packing range
    * exchange carries 16 bytes per doc instead of the document text.
    * The totals pass also counts rows, so the result reports its measured
    * size (48 bytes a row: row overhead plus five longs) and a join against
    * it is planned from that, not from the 8 EiB default of an RDD frame.
    */
  def packCounts(counts: DataFrame, budget: Long = DefaultBudget,
      partitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = counts.sparkSession
    val n = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = counts
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"))
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val rdd = sorted.rdd // ONE lineage: both jobs below reuse this shuffle
    val partTotals = rdd // per partition: (token total, row count)
      .mapPartitionsWithIndex { (i, it) =>
        Iterator(i -> it.foldLeft((0L, 0L)) { case ((s, k), r) => (s + r.getLong(1), k + 1) })
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.map(_._1).scanLeft(0L)(_ + _) // exclusive per-partition
    val nRows = partTotals.map(_._2).sum
    val packed = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val t = r.getLong(1)
        val before = cum
        cum += t
        InternalRow(r.getLong(0), t, before, before / budget, before % budget)
      }
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("cum_before", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("seq_offset", LongType, nullable = false)))
    Bridge.internalRowFrame(spark, schema, packed, Some((BigInt(nRows) * 48, BigInt(nRows))))
  }
}
