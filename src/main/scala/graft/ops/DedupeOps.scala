package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output row of the per-doc dedup (graft.jobs.ExtractionJob.dedup): kept
  * chunks and dropped-audit rows in one frame, discriminated by `kept`.
  */
final case class DedupRow(
    doc_id: String, id: String, text: String, norm: String, idx: Long,
    kept: Boolean, reason: String, matched_id: String, distance: Int, preview: String,
    kept_order: Long) // position among the doc's kept chunks; -1 for dropped

/** A1/D1/D2 — deduplication operators.
  *
  * Two distinct levels (SURVEY.md §2.7):
  *   - WITHIN a document: the reference's sequential semantics (exact SHA1
  *     pre-pass + greedy windowed SimHash). Exact dedup alone is expressible
  *     as a window function ([[exactKept]]/[[exactDropped]]); the greedy
  *     scan is order-dependent and runs as the kernel inside each
  *     document's own row (graft.jobs.ExtractionJob.dedup) — no shuffle,
  *     and per-doc state is bounded (chunks/doc).
  *   - ACROSS documents: banded LSH self-join over (doc_id, simhash64)
  *     projections only ([[LshDedup]]) — flags near-duplicate documents
  *     without shuffling span payloads (north_star).
  */
object DedupeOps {

  /** Exact-dedup group key: SHA1 of norm (reference: internal/dedupe/
    * dedupe.go:92-93); empty norms get a per-chunk unique key so they are
    * always kept and never match each other (dedupe.go:86-90).
    */
  private def exactKey = when(col("norm") === "",
    concat(lit("EMPTY:"), col("doc_id"), lit(":"), col("id"))
  ).otherwise(sha1(col("norm")))

  private def exactRanked(chunks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"), col("_k")).orderBy(col("idx"))
    chunks
      .withColumn("_k", exactKey)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_first_id", first(col("id")).over(w))
  }

  /** A1 kept side: first occurrence per (doc, sha1(norm)) in input order. */
  def exactKept(chunks: DataFrame): DataFrame =
    exactRanked(chunks).filter(col("_rn") === 1)
      .select("doc_id", "id", "text", "norm", "idx")

  /** A1 dropped-audit side (reference: internal/dedupe/dedupe.go:96-108). */
  def exactDropped(chunks: DataFrame): DataFrame =
    exactRanked(chunks).filter(col("_rn") > 1)
      .select(
        col("doc_id"),
        col("id").as("chunk_id"),
        lit("exact_duplicate").as("reason"),
        col("_first_id").as("matched_chunk_id"),
        lit(0).as("distance"),
        Exprs.byteTruncate(col("text"), 200).as("preview"))

  /** A2 (exact method) — per-doc kept/dropped/input counts in ONE pass over
    * the ranked chunks via conditional aggregation (reference:
    * internal/dedupe/dedupe.go:336-358). Replaces the former two-pipeline
    * join shape: one chunker subtree, one window, one aggregate.
    */
  def exactStats(chunks: DataFrame): DataFrame =
    exactRanked(chunks).groupBy(col("doc_id")).agg(
      sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("kept_count"),
      sum(when(col("_rn") > 1, 1L).otherwise(0L)).as("dropped_count"),
      count(lit(1)).as("input_count"))

  /** A2 — dedup stats per doc (reference: internal/dedupe/dedupe.go:336-358). */
  def stats(dedup: Dataset[DedupRow]): DataFrame =
    dedup.groupBy(col("doc_id")).agg(
      count(lit(1)).as("input_count"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("kept_count"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped_count"),
      sum(when(col("reason") === "exact_duplicate", 1L).otherwise(0L)).as("exact_dups"),
      sum(when(col("reason") === "near_duplicate", 1L).otherwise(0L)).as("near_dups"))
}
