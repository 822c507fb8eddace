package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Chunk, DedupeConfig, DedupeKernel, DedupeResult, TextKernel}
import graft.ops.Corpus

/** The flagship end-to-end pipeline — the graft of the reference's
  * `pipeline run` dataflow (cmd/pipeline/main.go:115-285) onto the
  * interleaved docs table:
  *
  *   docs(doc_id, spans)
  *     -> assemble   (per-row span fold + OCR map, Catalyst)
  *     -> chunk -> chrome -> dedupe
  *                   (the sequential kernel, run on each document inside
  *                    its own row by one typed flatMap)
  *     -> spans out  (kept chunks as ordered text spans per doc)
  *
  * The reference runs chunk -> chrome -> dedup as one sequential pass over
  * one document (main.go:214-284), and here a document already is one row,
  * so [[dedup]], [[outputSpans]] and [[metrics]] plan with no exchange at
  * all. Large-document skew is bounded because per-doc work is
  * O(chunks · window); doc PLACEMENT is what gets salted at the table-write
  * level, not the scan (SURVEY.md §7.4.2).
  *
  * Contract: each input ROW is one document. Two rows that share a doc_id
  * are two documents: each is deduped on its own, and both rows' output
  * carries that doc_id. A row whose assembled text is null (null `spans`)
  * yields no output rows.
  *
  * The chunk-level views ([[chunks]], [[filteredChunks]], [[markdown]]) are
  * emitted from the same per-row path, so every stage has one
  * implementation.
  */
object ExtractionJob {

  /** The reference CLI's pipeline knobs (cmd/pipeline/main.go:64-96):
    * min-chunk-chars, chrome patterns (defaults + optional custom regex
    * appended, main.go:92-96), the dedup config, and the sink options
    * (markdown title / chunk-id comments / chunks-JSONL toggle).
    */
  final case class PipelineConfig(
      minChunkChars: Int = Corpus.MinChunkChars,
      chromePatterns: Seq[String] = graft.kernel.TextKernel.defaultChromePatterns,
      dedupe: DedupeConfig = DedupeConfig(),
      markdownTitle: String = "",
      includeChunkIds: Boolean = false,
      // reference default is TRUE (cmd/pipeline/main.go:75)
      emitChunksJsonl: Boolean = true)

  /** One kept chunk as an output text span. */
  final case class OutSpan(
      doc_id: String, kind: String, text: String, media_ref: String, order: Long)

  /** Output row of [[dedup]]: kept chunks and dropped-audit rows in one
    * frame, discriminated by `kept`.
    */
  final case class DedupRow(
      doc_id: String, id: String, text: String, norm: String, idx: Long,
      kept: Boolean, reason: String, matched_id: String, distance: Int, preview: String,
      kept_order: Long) // position among the doc's kept chunks; -1 for dropped

  /** Every chunk of every doc as (doc_id, id, text, norm, idx). */
  def chunks(docs: DataFrame, minChunkChars: Int = Corpus.MinChunkChars): DataFrame =
    chunkRows(docs, PipelineConfig(minChunkChars = minChunkChars))(_.chunks)

  def filteredChunks(docs: DataFrame): DataFrame = filteredChunks(docs, PipelineConfig())

  /** The chunks that survive the chrome filter, in [[chunks]]' schema. */
  def filteredChunks(docs: DataFrame, cfg: PipelineConfig): DataFrame =
    chunkRows(docs, cfg)(_.filtered)

  private def chunkRows(docs: DataFrame, cfg: PipelineConfig)(
      pick: DocResult => Vector[Chunk]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    perDoc(docs, cfg) { (docId, d) =>
      pick(d).iterator.map(c => (docId, c.id, c.text, c.norm, c.index.toLong))
    }.toDF("doc_id", "id", "text", "norm", "idx")
  }

  /** One document after the per-doc pipeline: `nSpans` input spans and its
    * `chunks`; `filtered` (the chunks that survive the chrome filter) and
    * `dedupe` (the kernel's verdict on them) are computed on first use, so
    * a chunk-only caller never runs the dedup kernel.
    */
  private final class DocResult(val nSpans: Long, val chunks: Vector[Chunk],
      isChrome: Chunk => Boolean, config: DedupeConfig) {
    lazy val filtered: Vector[Chunk] = chunks.filterNot(isChrome)
    lazy val dedupe: DedupeResult = DedupeKernel.dedupe(filtered, config)
  }

  /** The one per-document path: chunkText -> chrome -> dedupe on each row of
    * `docs`, then only `emit`'s rows are exploded. The chrome patterns are
    * compiled once per job here, not once per document.
    */
  private def perDoc[T: Encoder](docs: DataFrame, cfg: PipelineConfig)(
      emit: (String, DocResult) => Iterator[T]): Dataset[T] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val isChrome = TextKernel.chromePredicate(cfg.chromePatterns, Corpus.ChromeMaxLength)
    val minChars = cfg.minChunkChars
    val dedupe = cfg.dedupe.validated
    Corpus.assembleWith(docs, size(col("spans")).cast("long").as("n_spans"))
      .filter(col("raw").isNotNull)
      .as[(String, Long, String)]
      .flatMap { case (docId, nSpans, raw) =>
        emit(docId, new DocResult(nSpans, TextKernel.chunkText(raw, minChars), isChrome, dedupe))
      }
  }

  /** Full dedup output (kept + dropped audit in one frame). */
  def dedup(docs: DataFrame, config: DedupeConfig = DedupeConfig())(
      implicit spark: SparkSession): DataFrame =
    dedupWith(docs, PipelineConfig(dedupe = config))

  /** Full dedup output under a complete [[PipelineConfig]]: [[DedupRow]]s,
    * the doc's kept chunks in kept order, then its dropped chunks.
    */
  def dedupWith(docs: DataFrame, cfg: PipelineConfig)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    perDoc(docs, cfg) { (docId, d) =>
      val kept = d.dedupe.kept.iterator.zipWithIndex.map { case (c, ord) =>
        DedupRow(docId, c.id, c.text, c.norm, c.index.toLong, kept = true, "", "", 0, "",
          ord.toLong)
      }
      lazy val byId = d.filtered.iterator.map(c => c.id -> c).toMap
      val dropped = d.dedupe.dropped.iterator.map { x =>
        val c = byId(x.chunkId)
        DedupRow(docId, c.id, c.text, c.norm, c.index.toLong, kept = false,
          x.reason, x.matchedChunkId, x.distance, x.preview, -1L)
      }
      kept ++ dropped
    }.toDF()
  }

  /** Kept chunks as ordered text spans — the path [[outputSpans]] and
    * graft.streaming.StreamingExtraction share.
    */
  private[graft] def keptSpans(docs: DataFrame, cfg: PipelineConfig)(
      implicit spark: SparkSession): Dataset[OutSpan] = {
    import spark.implicits._
    perDoc(docs, cfg) { (docId, d) =>
      d.dedupe.kept.iterator.zipWithIndex.map { case (c, i) =>
        OutSpan(docId, "text", c.text, "", i.toLong)
      }
    }
  }

  /** The output span sequence per doc: kept chunks as ordered text spans
    * (kind, text, media_ref="", order) — the BASELINE.json per-row
    * invariant surface. Order is the kept chunks' survivor order.
    */
  def outputSpans(docs: DataFrame, config: DedupeConfig = DedupeConfig())(
      implicit spark: SparkSession): DataFrame =
    keptSpans(docs, PipelineConfig(dedupe = config)).toDF()

  /** (doc_id, markdown) per doc with at least one kept chunk: the kernel's
    * Markdown render of the kept chunks under `cfg`'s title and chunk-id
    * option, sink-normalized (`TextKernel.finalizeMarkdown`).
    */
  def markdown(docs: DataFrame, cfg: PipelineConfig): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val title = cfg.markdownTitle
    val withIds = cfg.includeChunkIds
    perDoc(docs, cfg) { (docId, d) =>
      if (d.dedupe.kept.isEmpty) Iterator.empty
      else Iterator.single(docId -> TextKernel.finalizeMarkdown(
        TextKernel.renderMarkdown(title, d.dedupe.kept, withIds)))
    }.toDF("doc_id", "markdown")
  }

  /** A4 — per-doc extraction metrics (north_star: spans/doc, boilerplate
    * ratio, dedup rate), one row per doc that produced >= 1 chunk,
    * chrome-dropped or not; zero-CHUNK docs emit no row.
    */
  def metrics(docs: DataFrame, config: DedupeConfig = DedupeConfig())(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    perDoc(docs, PipelineConfig(dedupe = config)) { (docId, d) =>
      val st = d.dedupe.stats
      if (d.chunks.isEmpty) Iterator.empty
      else Iterator.single((docId, d.nSpans, d.chunks.length.toLong,
        (d.chunks.length - d.filtered.length).toLong, st.inputCount.toLong, st.keptCount.toLong,
        st.droppedCount.toLong, st.exactDups.toLong, st.nearDups.toLong))
    }
      .toDF("doc_id", "n_spans", "n_chunks", "n_chrome_dropped",
        "input_count", "kept_count", "dropped_count", "exact_dups", "near_dups")
      .select(
        col("doc_id"), col("n_spans"), col("n_chunks"), col("n_chrome_dropped"),
        col("input_count"), col("kept_count"), col("dropped_count"),
        col("exact_dups"), col("near_dups"),
        // integer-quantized ratios (floor(x*10000)) keep the metrics
        // deterministic across engines; a doc whose chunks were ALL
        // chrome-dropped has input_count=0 — its dedup rate is 0, not null
        floor(col("n_chrome_dropped") * 10000.0 / col("n_chunks")).as("boilerplate_ratio_bp"),
        when(col("input_count") > 0,
          floor(col("dropped_count") * 10000.0 / col("input_count")))
          .otherwise(lit(0L)).as("dedup_rate_bp"))
  }
}
