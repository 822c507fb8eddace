package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.jobs.ExtractionJob
import graft.jobs.ExtractionJob.{OutSpan, PipelineConfig}
import graft.kernel.{DedupeConfig, TextKernel}
import graft.ops.Corpus

/** Incremental (Structured Streaming) extraction over the interleaved docs
  * table. The reference is a one-shot batch CLI (SURVEY.md §2.8: no streams),
  * but the graft's data model makes incremental ingestion natural: ONE input
  * row carries a COMPLETE document `(doc_id, spans)`, so the whole reference
  * pipeline — assemble (offset-ordered span fold + OCR map), chunk, chrome
  * filter, and the order-dependent greedy dedup — is per-row. The stream
  * therefore runs the batch pipeline's own per-document path
  * (ExtractionJob's one stateless flatMap).
  *
  * Scale shape: no streaming state, no watermark, no shuffle — every
  * micro-batch is a map-only job, so throughput scales linearly with
  * executors exactly like the batch map stages, and a `foreachBatch` sink
  * can append into the SnapshotTable layout for unified batch/stream output.
  */
object StreamingExtraction {

  /** docs stream (doc_id, spans) -> kept output spans, append-mode safe. */
  def outputSpans(
      docsStream: DataFrame,
      config: DedupeConfig = DedupeConfig(),
      minChunkChars: Int = Corpus.MinChunkChars,
      chromePatterns: Seq[String] = TextKernel.defaultChromePatterns)(
      implicit spark: SparkSession): Dataset[OutSpan] =
    ExtractionJob.keptSpans(docsStream,
      PipelineConfig(minChunkChars = minChunkChars, chromePatterns = chromePatterns,
        dedupe = config))
}
