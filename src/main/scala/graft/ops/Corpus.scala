package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus of interleaved text+media documents,
  * derived purely from the driver-provided `documents` table (TESTDATA.md) —
  * no external data, no randomness. Schema matches BASELINE.json input_hint:
  *
  *   docs(doc_id: string,
  *        spans: array<struct<kind: string, text: string,
  *                            media_ref: string, offset: int>>)
  *
  * Span layout per source document (text `t` = documents.text):
  *
  *   off kind  content                               exercises
  *   0   text  t                                     normal content
  *   1   media img_<id>_1.png                        OCR mapping, interleaving
  *   2   text  ChromeLine (81B, matches patterns)    chrome drop (<100B norm)
  *   3   media img_<id>_2.jpg                        OCR mapping
  *   4   text  t                                     exact duplicate
  *   5   text  "ok"                                  min-length drop (<60B)
  *   6   text  upper(t) + "!"                        exact dup via normalize
  *   7   text  CrlfPara (contains \r\n)              CRLF normalize/chunk
  *   8   text  LongChrome (>=100B norm, matches)     keep-long-chrome rule
  *   9   text  t + " " + Tail                        near duplicate (simhash)
  *   10  text  AccentPara (non-ASCII, 68B/51ch)      byte semantics on oracle path
  *   11  text  UnicodeWsPara (NBSP/U+2007/U+3000/     Go-TrimSpace Unicode whitespace
  *             U+2009 padded)                         on the oracle path
  *
  * The "OCR function" (the reference shells out to ocrmypdf,
  * internal/pipeline/pipeline.go:87-102; here it must be a deterministic
  * media->text mapping per SURVEY.md §1.2) is `ocrText`: a pure function of
  * the media_ref.
  *
  * Every builder exists twice — as a Spark `Column` and as DuckDB SQL built
  * from the same constants — so the driver's DuckDB oracle replays the exact
  * corpus (SURVEY.md §7.2.3).
  */
object Corpus {

  val MinChunkChars = 60 // reference default --min-chunk-chars (cmd/pipeline/main.go:73)
  val ChromeMaxLength = 100 // hardcoded at reference call site (cmd/pipeline/main.go:226)

  val ChromeLine =
    "Battery 85% charging wifi signal weak and the search bar stays visible on screen"
  val LongChrome =
    "Battery 85% charging wifi signal weak and the search bar stays visible on screen while the long article text continues beyond the chrome length limit"
  val CrlfPara =
    "First line with some words here\r\nsecond line continues the same paragraph nicely"
  val Tail =
    "plus appended tail words that modify the ending slightly"
  /** Accented constant span — puts the byte-vs-char semantics (60-BYTE
    * min-chunk, byte k-grams) on the ORACLE-checked path, not just unit
    * tests: 51 chars (< 60, a char-length rule would DROP it) but 68 UTF-8
    * bytes (>= 60, the reference's Go byte rule KEEPS it).
    */
  val AccentPara =
    "Café résumé naïvé jälapeño àéîõü über çédille œuvré"

  /** Unicode-whitespace-padded span (offset 11) — puts Go-TrimSpace
    * semantics on the ORACLE path: the NBSP/FIGURE-SPACE prefix and
    * IDEOGRAPHIC/THIN-SPACE suffix must be trimmed by the distributed
    * chunker exactly like the kernel's goTrimSpace (an ASCII-only trim
    * would leave them in the chunk text and change its bytes).
    */
  val UnicodeWsPara =
    "\u00A0\u2007Unicode whitespace padded paragraph body retains enough length for chunking\u3000\u2009"

  /** Deterministic OCR stand-in: media_ref -> recognized text (>=60 bytes,
    * unique per ref so OCR output is never deduped away).
    */
  def ocrTextCol(ref: Column): Column =
    concat(lit("Scanned page "), ref,
      lit(" recognized text payload with sufficient descriptive length for chunking."))

  def ocrTextSql(ref: String): String =
    s"'Scanned page ' || $ref || ' recognized text payload with sufficient descriptive length for chunking.'"

  // SQL string literals: escape and use chr(10)/chr(13) for control chars.
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''").replace("\r", "' || chr(13) || '")
      .replace("\n", "' || chr(10) || '") + "'"

  /** The assembled raw document text as DuckDB SQL over `documents`
    * aliased columns: span texts (media spans contribute their OCR text)
    * joined by blank lines, in offset order — what [[assemble]] builds from
    * a [[docsTable]] row, and the graft analogue of the reference's single
    * extracted.txt read (cmd/pipeline/main.go:217-222). `docId` and `t` are
    * SQL expressions (e.g. "CAST(doc_id AS VARCHAR)" and "text").
    */
  def rawTextSql(docId: String, t: String): String = {
    val nn = "chr(10) || chr(10)"
    val ref1 = s"'img_' || $docId || '_1.png'"
    val ref2 = s"'img_' || $docId || '_2.jpg'"
    Seq(
      t,
      ocrTextSql(ref1),
      sqlLit(ChromeLine),
      ocrTextSql(ref2),
      t,
      "'ok'",
      s"upper($t) || '!'",
      sqlLit(CrlfPara),
      sqlLit(LongChrome),
      s"$t || ' ' || ${sqlLit(Tail)}",
      sqlLit(AccentPara),
      sqlLit(UnicodeWsPara)
    ).mkString(" || " + nn + " || ")
  }

  /** Deterministic HTML rendering of a document — nav/footer/script/style
    * chrome around entity-encoded body paragraphs — for the [[Html]]
    * boilerplate-strip family. Column and SQL builders in LOCK-STEP (same
    * discipline as docsTable/rawTextSql); the corpus itself carries no
    * HTML, so this is the synthesized-input surface the north_rule's
    * "HTML boilerplate strip, DOM heuristics" operators run on.
    */
  def htmlCol(id: Column, t: Column): Column = concat(
    lit("<html><head><title>Doc "), id,
    lit("</title><style>p { margin: 0; }</style></head><body>" +
      "<script>var x = 1 < 2;</script>" +
      "<nav><a href=\"/home\">Home</a> <a href=\"/search\">Search</a> <a href=\"/login\">Log in</a></nav>" +
      "<div><h1>Document "), id, lit(" &amp; friends</h1></div>" +
      "<p>"), t,
    lit("</p><p>"), t,
    lit(" &quot;tail&quot; paragraph &#39;two&#39;</p>" +
      "<p>Short note with a link <a href=\"/x\">here</a> plus enough plain text to stay content.</p>" +
      "<li><a href=\"/a\">Related one</a></li>" +
      "<footer>&copy; 2026 Example &amp; Co <a href=\"/about\">About</a> <a href=\"/tos\">Terms</a></footer>" +
      "</body></html>"))

  /** DuckDB twin of [[htmlCol]]; `id` and `t` are SQL expressions. */
  def htmlSql(id: String, t: String): String =
    s"'<html><head><title>Doc ' || $id || " +
      "'</title><style>p { margin: 0; }</style></head><body>" +
      "<script>var x = 1 < 2;</script>" +
      "<nav><a href=\"/home\">Home</a> <a href=\"/search\">Search</a> <a href=\"/login\">Log in</a></nav>" +
      s"<div><h1>Document ' || $id || ' &amp; friends</h1></div>" +
      s"<p>' || $t || '</p><p>' || $t || " +
      "' &quot;tail&quot; paragraph &#39;two&#39;</p>" +
      "<p>Short note with a link <a href=\"/x\">here</a> plus enough plain text to stay content.</p>" +
      "<li><a href=\"/a\">Related one</a></li>" +
      "<footer>&copy; 2026 Example &amp; Co <a href=\"/about\">About</a> <a href=\"/tos\">Terms</a></footer>" +
      "</body></html>'"

  /** The interleaved docs table per BASELINE.json input_hint. `replicate`
    * multiplies the corpus with distinct doc_ids (deterministic) so the
    * bench can run at a meaningful scale from small source tables.
    */
  def docsTable(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    val base0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("src_id"), col("text"))
      // The synthetic source is ONE parquet row group => exactly one input
      // split (row groups are indivisible; maxPartitionBytes cannot help),
      // which would serialize every downstream map stage. Hash-repartition
      // the small source rows to restore the input parallelism a many-split
      // production table gets from its scan. EXPLICIT count: AQE sizes
      // coalescing by the exchange's bytes, which are tiny BEFORE the
      // corpus expansion — it coalesced this to 1 task (observed);
      // user-specified counts are exempt. Oversubscribing x2 smooths
      // doc-length skew across the scaling legs, but every extra map
      // partition is an extra shuffle file per downstream exchange, and the
      // r6 pipeline profile showed FileOutputStream.open0 as the top
      // non-idle executor frame at x4 (jstack, 142/~500 samples). Measured
      // at sf0.1 replicate=8 on 32 cores: x1 ~1.00 s, x2 ~1.09 s, x4
      // ~1.3 s per pipeline pass — x2 keeps half the smoothing headroom at
      // ~3/4 of the x1 win (OPTIMIZATION_r06.md).
      .repartition(spark.sparkContext.defaultParallelism * 2, col("src_id"))
    val base =
      if (replicate <= 1) base0.withColumn("doc_id", col("src_id"))
      else base0
        .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
        .withColumn("doc_id", concat_ws("_", col("src_id"), col("rep")))
    val t = col("text")
    val id = col("doc_id")
    def span(kind: String, text: Column, mediaRef: Column, offset: Int): Column =
      struct(lit(kind).as("kind"), text.as("text"), mediaRef.as("media_ref"),
        lit(offset).as("offset"))
    val e = lit("")
    base.select(
      id.as("doc_id"),
      array(
        span("text", t, e, 0),
        span("media", e, concat(lit("img_"), id, lit("_1.png")), 1),
        span("text", lit(ChromeLine), e, 2),
        span("media", e, concat(lit("img_"), id, lit("_2.jpg")), 3),
        span("text", t, e, 4),
        span("text", lit("ok"), e, 5),
        span("text", concat(upper(t), lit("!")), e, 6),
        span("text", lit(CrlfPara), e, 7),
        span("text", lit(LongChrome), e, 8),
        span("text", concat(t, lit(" "), lit(Tail)), e, 9),
        span("text", lit(AccentPara), e, 10),
        span("text", lit(UnicodeWsPara), e, 11)
      ).as("spans"))
  }

  /** Exploded span rows (doc_id, kind, text, media_ref, offset) with media
    * spans OCR-mapped — the pipeline's working form.
    */
  def spanRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(
        col("doc_id"),
        col("s.kind").as("kind"),
        when(col("s.kind") === "media", ocrTextCol(col("s.media_ref")))
          .otherwise(col("s.text")).as("text"),
        col("s.media_ref").as("media_ref"),
        col("s.offset").as("offset"))

  /** Assembled per-doc raw text from the docs table (G2 — SURVEY.md §2.5):
    * ordered concat of (OCR-mapped) span texts with blank-line separators.
    *
    * Scale note: a document's spans live in ONE row of the docs table, so
    * assembly is a pure per-row array fold — no explode, no groupBy, ZERO
    * shuffle, fully inside whole-stage codegen. (An exploded-form assembly
    * would shuffle every span payload on doc_id; at 10^12 docs that is the
    * difference between a map-only stage and the dominant exchange.)
    */
  def assemble(docs: DataFrame): DataFrame = assembleWith(docs)

  /** [[assemble]] carrying extra per-doc columns (e.g. `size(spans)`) through
    * the fold, so downstream per-doc stages never need a second scan/join.
    */
  def assembleWith(docs: DataFrame, extra: Column*): DataFrame = {
    val ordered = array_sort(transform(col("spans"), s =>
      struct(s("offset").as("o"), s("kind").as("k"),
        s("text").as("t"), s("media_ref").as("m"))))
    val raw = array_join(
      transform(ordered, s =>
        when(s("k") === "media", ocrTextCol(s("m"))).otherwise(s("t"))),
      "\n\n").as("raw")
    docs.select((col("doc_id") +: extra) :+ raw: _*)
  }
}
