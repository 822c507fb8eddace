package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The end-to-end curation capstone: one query that takes the raw
  * `documents` table to a training-data MANIFEST — the composition every
  * web-scale pipeline actually ships, here built entirely from operators
  * that are each individually oracled (no reference analogue; graft-added
  * §2.9; stages cite their standalone-query twins):
  *
  *   1. structural quality gates (q29/q54 signals): length floor,
  *      punctuation-ratio ceiling, duplicate-line-fraction ceiling —
  *      map-only predicates fused into the source scan;
  *   2. benchmark decontamination (q56): docs sharing any 8-gram with the
  *      eval set are dropped, and the eval docs themselves are excluded
  *      from the corpus;
  *   3. exact dedup (q05/A1 shape): one winner (min doc_id) per normalized
  *      text, via the same N1 normalize + window-rank construction as the
  *      chunk-level dedup;
  *   4. split assignment (q50): content-addressed train/val/test buckets —
  *      a pure function of doc_id, stable under reruns and retries;
  *   5. sequence packing (q57): the surviving TRAIN docs are laid out as
  *      one deterministic token stream cut into fixed-budget sequences.
  *
  * Output: one row per surviving document — (doc_id, split, n_tokens,
  * seq_id, seq_offset), seq columns null off-train. This is the artifact a
  * trainer consumes; everything upstream of it is reproducible from the
  * raw table because every stage is content-addressed or exactly defined
  * (no rand(), no floats except single correctly-rounded divisions).
  *
  * Scale shape (the whole point of composing INSIDE one plan instead of
  * materializing between stages): the structural gates and the split
  * assignment are map-only and fuse into adjacent stages; the
  * decontamination side is a broadcast join against the (small) eval gram
  * set, producing a contaminated-doc_id set that AQE broadcast-anti-joins
  * back; the dedup window is ONE exchange keyed by the 16-byte norm hash,
  * carrying (hash, doc_id, n_tokens) — token counts are computed map-side
  * where the text is, so NO document text enters any exchange of the plan;
  * packing adds the range exchange + two-job prefix sum documented on
  * [[Pack.packCounts]] (16 bytes/doc); the final manifest join keys on
  * doc_id. The post-dedup (doc_id, split, n_tokens) frame is reused at
  * the stage boundary because three downstream jobs consume it.
  */
object Curation {

  /** Structural-gate thresholds (basis points), deliberately loose — the
    * capstone demonstrates the composition; corpus-adaptive thresholds are
    * the q53 percentile gate's job.
    */
  val MinChars = 100L
  val MaxPunctBp = 3000L
  val MaxDupLineBp = 5000L

  /** Every doc_id divisible by this models the held-out eval set (same
    * convention as the standalone q56 screen).
    */
  val EvalMod = 97L

  def manifest(docs: DataFrame, budget: Long = Pack.DefaultBudget): DataFrame = {
    // 1. structural gates + eval-doc exclusion: map-only, fused into the scan
    val passed = docs
      .filter(col("doc_id") % EvalMod =!= 0)
      .filter(length(col("text")).cast("long") >= MinChars &&
        TextAnalysis.punctRatioBp(col("text")) <= MaxPunctBp &&
        Repetition.dupLineFracBp(col("text")) <= MaxDupLineBp)
      .select(col("doc_id"), col("text"))

    // 2. decontamination: candidate grams collapse against the broadcast
    // eval gram set; survivors anti-join the (small) contaminated id set
    val n = Decontaminate.DefaultN
    val evalGrams = docs.filter(col("doc_id") % EvalMod === 0)
      .select(explode(Decontaminate.ngrams(col("text"), n)).as("gram"))
      .distinct()
    val contaminated = passed
      .select(col("doc_id"), explode(Decontaminate.ngrams(col("text"), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
    val clean = passed.join(contaminated, Seq("doc_id"), "left_anti")

    // 3. exact dedup: min-doc_id winner per normalized text (q05/A1 shape,
    // INCLUDING A1's empty-norm guard: a whitespace-only doc normalizes to
    // "", and two such docs are different documents, not duplicates — each
    // gets a per-doc unique key, mirroring DedupeKernel.exactHashDedupe /
    // dedupe.go:86-90). n_tokens is computed HERE, map-side where the text
    // is, and the text column is dropped before the window — the dedup
    // exchange carries (hash, doc_id, n_tokens); no document text enters
    // ANY exchange of this whole plan.
    val byNorm = Window.partitionBy(col("h")).orderBy(col("doc_id").asc)
    val nrm = Exprs.normCol(col("text"))
    val winners = clean
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        when(nrm === "", concat(lit("EMPTY:"), col("doc_id").cast("string")))
          .otherwise(md5(nrm)).as("h"))
      .withColumn("rn", row_number().over(byNorm))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"))

    // 4. split assignment: content-addressed buckets (Splits.splitOf — the
    // same definition q50 uses). MATERIALIZED at this stage boundary:
    // downstream runs THREE jobs over it (packCounts' per-partition-totals
    // collect, its main pass, and the manifest join) — unmaterialized,
    // each would re-execute the gates + gram join + dedup window from the
    // scan (measured 13.3 s vs ~1 s at sf0.1). The frame is (long, string,
    // long) per surviving doc — tiny at any scale.
    val withSplit = Bridge.reused(winners.withColumn("split", Splits.splitOf(col("doc_id"))))

    // 5. pack the train stream (q57 shape); manifest join back on doc_id
    val packed = Pack
      .packCounts(withSplit.filter(col("split") === "train")
        .select(col("doc_id"), col("n_tokens")), budget)
      .select(col("doc_id"), col("seq_id"), col("seq_offset"))
    withSplit
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_tokens"),
        col("seq_id"), col("seq_offset"))
  }
}
