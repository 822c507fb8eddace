package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table. All are pure Catalyst expressions (whole-stage
  * codegen, no UDFs, no shuffle beyond the source scan), so they run as
  * map-only stages at any corpus scale.
  *
  * Ratio outputs are integer-quantized (`floor(x*10000)` basis points) so
  * the DuckDB oracle compares exactly — int arithmetic and IEEE double
  * division/floor are bit-identical across engines.
  */
object TextAnalysis {

  /** ASCII-whitespace tokenizer shared by the analyses. */
  def tokens(c: Column): Column =
    filter(split(c, "[\\t\\n\\f\\r ]+"), t => t =!= "")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-alnum), the standard pre-tokenizer
    * shape for byte-pair encoders.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\t\\n\\f\\r ]"), lit(0))).cast("long").as("bpe_tokens"))

  val EnStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  val FrStop = Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "en")
  val DeStop = Seq("der", "die", "das", "und", "ist", "von", "den", "mit", "ein", "zu")

  private def stopHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Language ID via stopword-hit heuristic (n-gram-free variant suited to
    * codegen; ties resolve en > fr > de deterministically).
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    docs.select(
      col("doc_id"),
      stopHits(toks, EnStop).cast("long").as("en_hits"),
      stopHits(toks, FrStop).cast("long").as("fr_hits"),
      stopHits(toks, DeStop).cast("long").as("de_hits"),
      size(toks).cast("long").as("n_tokens"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("de_hits"), "en")
          .when(col("fr_hits") >= col("de_hits"), "fr")
          .otherwise("de"))
  }

  /** Punctuation ratio in basis points — THE canonical definition, shared
    * by [[quality]], the q53 percentile gate, and the curation-manifest
    * capstone ([[Curation.manifest]]) so all three filter on the same
    * number.
    */
  def punctRatioBp(text: Column): Column =
    floor(
      size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\t\\n\\f\\r ]"), lit(0)))
        .cast("long") * 10000.0 /
        greatest(length(text).cast("long"), lit(1L)))

  /** Quality scoring: length, mean word length, punctuation / digit /
    * stopword / whitespace ratios — the usual cheap quality gates
    * (Gopher/C4-style) as basis points.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nChars = length(col("text")).cast("long")
    val nTokens = size(toks).cast("long")
    val digits = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long")
    val stop = stopHits(tokens(lower(col("text"))), EnStop).cast("long")
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      floor(nChars * 10000.0 / greatest(nTokens, lit(1L))).as("mean_word_len_bp"),
      punctRatioBp(col("text")).as("punct_ratio_bp"),
      floor(digits * 10000.0 / greatest(nChars, lit(1L))).as("digit_ratio_bp"),
      floor(stop * 10000.0 / greatest(nTokens, lit(1L))).as("stopword_ratio_bp"))
  }

  /** Document fingerprinting: order-sensitive polynomial rolling hash over
    * code points, mod 1e9+7 (fits the fold in exact int64 arithmetic on both
    * engines), plus an order-insensitive token-sum sketch.
    *
    * The rolling hash is the native codegen RollingHashExpr — the
    * interpreted HOF fold (kept as the test-side `SpecTwins.rollingHashHof`,
    * the in-engine spec twin) ran an interpreted lambda per CHARACTER and materialized
    * every character as a single-char string (~16 bytes each) on a scan
    * stage. The token sketch's fold is over tokens (1-2 orders of magnitude
    * fewer elements), dominated by the split itself — left as the HOF.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Exprs.rollingHash(col("text")).as("rolling_hash"),
      tokenSketch(col("text")).as("token_sketch"))

  private def tokenSketch(text: Column): Column =
    aggregate(
      transform(tokens(text), t => length(t).cast("long") * ascii(substring(t, 1, 1))),
      lit(0L), (s, v) => (s + v) % 1000000007L)

  /** Corpus-relative quality gate: keep docs whose punctuation ratio sits
    * inside the corpus's EXACT [lo, hi] percentile band (inverted-CDF
    * definition: percentile q = smallest value whose cumulative count
    * reaches ceil(q*n)) and whose length clears an absolute floor — the
    * distribution-aware filter (C4/Gopher-style) whose thresholds adapt to
    * the corpus instead of being hand-tuned constants.
    *
    * Exact percentiles WITHOUT approx_percentile (whose sketch merges are
    * engine-specific — un-oracleable) and WITHOUT a global sort: the metric
    * is integer-quantized to basis points, so its domain is <= 10001 values
    * and the full CDF is a bounded histogram — one partial-agg exchange
    * (map-side combine reduces every partition to <= 10001 rows). The only
    * single-partition window runs over those aggregated rows, which is the
    * documented exception to the no-global-window rule: its input is
    * bounded by the DOMAIN, not the corpus. Thresholds broadcast back to
    * the metric scan. Two metric passes total (histogram + filter).
    */
  def qualityGate(docs: DataFrame, lo: Double = 0.05, hi: Double = 0.95,
      minChars: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = quality(docs).select(col("doc_id"), col("n_chars"), col("punct_ratio_bp"))
    val hist = m.groupBy(col("punct_ratio_bp").as("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val thr = hist
      .select(col("v"), sum(col("c")).over(wCum).as("cum"),
        sum(col("c")).over(wAll).as("n"))
      .agg(
        min(when(col("cum") >= ceil(lit(lo) * col("n")), col("v"))).as("p_lo"),
        min(when(col("cum") >= ceil(lit(hi) * col("n")), col("v"))).as("p_hi"))
    m.crossJoin(broadcast(thr))
      .filter(col("n_chars") >= minChars &&
        col("punct_ratio_bp").between(col("p_lo"), col("p_hi")))
      .select(col("doc_id"), col("punct_ratio_bp"), col("p_lo"), col("p_hi"))
  }
}
