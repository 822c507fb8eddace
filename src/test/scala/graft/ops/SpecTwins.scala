package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The in-engine and plain-Scala formulations that the library's own
  * operators are parity-tested against. Nothing in the library calls them;
  * they are the specs' reference side: ExprSpec and PropertySpec pin
  * `Exprs.normCol` and `Exprs.rollingHash`, DecontaminateSpec pins
  * `Decontaminate.ngrams`, PipelineSpec and StreamingSpec rebuild a
  * document's assembled text with [[rawTextLocal]].
  */
object SpecTwins {

  /** The original 4-pass built-in formulation of [[Exprs.normCol]] — kept as the
    * in-engine reference the fused expression and `TextKernel.normalize`
    * are spec-tested against (ExprSpec: byte equality on the full corpus +
    * adversarial fixtures; PropertySpec: random strings).
    */
  def normColRegex(c: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(c), "[ \\t]+", " "),
          "\\n+", "\n"),
        "[^\\p{L}\\p{Nd} \\n]", ""),
      " \n")

  /** Interpreted spec twin of RollingHashExpr (the pre-round-4 formulation);
    * must stay row-identical to it — see ExprSpec's parity property.
    */
  def rollingHashHof(text: Column): Column =
    aggregate(transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L), (h, c) => (h * 31L + c) % 1000000007L)

  /** The original Column-HOF formulation — the spec twin [[Decontaminate.ngrams]] is
    * parity-tested against (DecontaminateSpec). The `when` guard matters:
    * Spark's `sequence(1, 0)` helpfully steps BACKWARDS, which would
    * fabricate grams for short docs.
    */
  private[ops] def ngramsHof(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(translate(text,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"))
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Plain-Scala twin of `Corpus.assemble` over one `Corpus.docsTable` row
    * for the sequential test oracle — must stay byte-identical to it and to
    * `Corpus.rawTextSql`.
    */
  def rawTextLocal(docId: String, t: String): String = {
    import Corpus._
    def ocr(ref: String): String =
      s"Scanned page $ref recognized text payload with sufficient descriptive length for chunking."
    Seq(
      t,
      ocr(s"img_${docId}_1.png"),
      ChromeLine,
      ocr(s"img_${docId}_2.jpg"),
      t,
      "ok",
      t.toUpperCase(java.util.Locale.ROOT) + "!",
      CrlfPara,
      LongChrome,
      s"$t $Tail",
      AccentPara,
      UnicodeWsPara
    ).mkString("\n\n")
  }
}
