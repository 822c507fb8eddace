package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Chunk, DedupeConfig, DedupeKernel, DedupeResult, TextKernel}
import graft.ops._

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
  * [[chunks]] and [[filteredChunks]] are the Catalyst form of the first two
  * stages; they serve the chunk-level queries, and PipelineSpec pins them
  * to the kernel.
  */
object ExtractionJob {

  val ChromePatterns: Seq[String] = graft.kernel.TextKernel.defaultChromePatterns

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

  def chunks(docs: DataFrame, minChunkChars: Int = Corpus.MinChunkChars): DataFrame = {
    val assembled = Corpus.assemble(docs)
    Chunker.chunk(assembled, col("raw"), minChunkChars)
  }

  def filteredChunks(docs: DataFrame): DataFrame = filteredChunks(docs, PipelineConfig())

  def filteredChunks(docs: DataFrame, cfg: PipelineConfig): DataFrame =
    chunks(docs, cfg.minChunkChars).filter(
      Exprs.chromeKeep(col("norm"), cfg.chromePatterns, Corpus.ChromeMaxLength))

  /** One document after the per-doc pipeline: `nSpans` input spans, `nChunks`
    * chunks, of which `filtered` survived the chrome filter and went into
    * the dedup kernel.
    */
  private final case class DocResult(
      nSpans: Long, nChunks: Int, filtered: Vector[Chunk], dedupe: DedupeResult)

  /** The one per-document path: chunkText -> chrome -> dedupe on each row of
    * `docs`, then only `emit`'s rows are exploded. The chrome patterns are
    * compiled once per job here, not once per document.
    */
  private def perDoc[T: Encoder](docs: DataFrame, cfg: PipelineConfig)(
      emit: (String, DocResult) => Iterator[T])(implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    val isChrome = TextKernel.chromePredicate(cfg.chromePatterns, Corpus.ChromeMaxLength)
    val minChars = cfg.minChunkChars
    val dedupe = cfg.dedupe.validated
    Corpus.assembleWith(docs, size(col("spans")).cast("long").as("n_spans"))
      .filter(col("raw").isNotNull)
      .as[(String, Long, String)]
      .flatMap { case (docId, nSpans, raw) =>
        val chunks = TextKernel.chunkText(raw, minChars)
        val filtered = chunks.filterNot(isChrome)
        emit(docId, DocResult(nSpans, chunks.length, filtered,
          DedupeKernel.dedupe(filtered, dedupe)))
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

  /** A4 — per-doc extraction metrics (north_star: spans/doc, boilerplate
    * ratio, dedup rate), one row per doc that produced >= 1 chunk,
    * chrome-dropped or not; zero-CHUNK docs emit no row.
    */
  def metrics(docs: DataFrame, config: DedupeConfig = DedupeConfig())(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    perDoc(docs, PipelineConfig(dedupe = config)) { (docId, d) =>
      val st = d.dedupe.stats
      if (d.nChunks == 0) Iterator.empty
      else Iterator.single((docId, d.nSpans, d.nChunks.toLong,
        (d.nChunks - d.filtered.length).toLong, st.inputCount.toLong, st.keptCount.toLong,
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
