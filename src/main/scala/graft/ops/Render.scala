package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.{Chunk, TextKernel}

/** A3/S4 — per-document Markdown rendering (reference:
  * internal/text/text.go:219-279) over a distributed chunk table.
  *
  * One groupBy on doc_id collects each doc's (idx, id, text) rows — a
  * partial aggregate, so the sink shuffles the collected chunks once and
  * never collects to the driver — and the kernel renders them
  * ([[TextKernel.renderMarkdown]] + [[TextKernel.finalizeMarkdown]]), so
  * the byte layout lives in the kernel alone.
  */
object Render {

  /** kept chunks (doc_id, id, text, idx) -> (doc_id, markdown): the doc's
    * chunks in (idx, id, text) order, rendered under `title` (empty: the
    * kernel's default) with optional chunk-id comments, sink-normalized.
    *
    * `idx` must be unique within a doc_id. A repeated one means two input
    * rows share the doc_id, and their chunks would interleave into one
    * document, so the render fails naming the doc_id instead.
    */
  def markdown(kept: DataFrame, title: String, includeChunkIds: Boolean): DataFrame = {
    def utf8(r: Row, i: Int) = UTF8String.fromString(r.getString(i))
    val render = udf { (docId: String, rows: Seq[Row]) =>
      // Spark's struct order: strings compare as UTF-8 bytes
      val sorted = rows.sortBy(r => (r.getLong(0), utf8(r, 1), utf8(r, 2)))
      sorted.lazyZip(sorted.drop(1)).foreach { (a, b) =>
        if (a.getLong(0) == b.getLong(0)) throw new IllegalArgumentException(
          s"doc_id $docId: two kept chunks at position ${a.getLong(0)}; " +
            "the input holds this doc_id on more than one row")
      }
      val chunks = sorted.map(r => Chunk(r.getString(1), r.getString(2), "", r.getLong(0).toInt))
      TextKernel.finalizeMarkdown(TextKernel.renderMarkdown(title, chunks, includeChunkIds))
    }.asNonNullable()
    kept
      .groupBy(col("doc_id"))
      .agg(render(col("doc_id"), collect_list(struct(col("idx"), col("id"), col("text"))))
        .as("markdown"))
  }

  /** S3 — chunks-JSONL projection (reference: internal/text/text.go:187-198):
    * {id, text preview (<=500 BYTES + "..."), index, len (BYTES)}.
    */
  def jsonlProjection(chunks: DataFrame): DataFrame =
    chunks.select(
      col("doc_id"),
      col("id"),
      Exprs.byteTruncate(col("text"), 500).as("text"),
      col("idx").as("index"),
      octet_length(col("text")).cast("long").as("len"))
}
