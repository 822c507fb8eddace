package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** G1 — ChunkText as a distributed transform (reference:
  * internal/text/text.go:69-121): split each document's raw text on blank
  * lines, trim, drop segments under `minChars` BYTES, then assign
  * survivor-position ids `c%04d` / `idx`, plus the whole-text fallback when
  * nothing survives.
  *
  * Plan shape: chunking is per-document-LOCAL, so the whole operator is a
  * per-row array fold — split/trim/filter inside array lambdas, fallback as
  * a `when` on the empty array, then ONE posexplode whose position IS the
  * survivor index (the array filter already removed non-survivors, so no
  * re-rank window, no anti-join, no shuffle at all). The semantics are
  * pinned to TextKernel.chunkText by PipelineSpec.
  */
object Chunker {

  /** Chunk `rawCol` of `docs` (one row per doc) into
    * (doc_id, id, text, norm, idx) rows. Zero-shuffle.
    */
  def chunk(docs: DataFrame, rawCol: Column, minChars: Int = Corpus.MinChunkChars): DataFrame = {
    val survivors = filter(
      transform(split(rawCol, Exprs.blankLineSplit, -1), s => Exprs.trimGoWs(s)),
      s => octet_length(s) >= minChars)
    val whole = Exprs.trimGoWs(rawCol)
    // Fallback (text.go:107-118): zero survivors but whole trimmed text long
    // enough -> single chunk of the whole text.
    val chunksArr = when(
      size(survivors) === 0 && octet_length(whole) >= minChars,
      array(whole)).otherwise(survivors)
    docs
      .select(col("doc_id"), posexplode(chunksArr).as(Seq("pos", "text")))
      .select(
        col("doc_id"),
        concat(lit("c"), lpad((col("pos") + 1).cast("string"), 4, "0")).as("id"),
        col("text"),
        Exprs.normCol(col("text")).as("norm"),
        col("pos").cast("long").as("idx"))
  }
}
