package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HTML boilerplate stripping via DOM-shaped heuristics (north_rule: "HTML
  * boilerplate strip … DOM heuristics"; north_star: "block classification
  * strips HTML boilerplate") — the Boilerpipe/Readability-style block
  * pipeline, expressed relationally so Catalyst codegens it end-to-end:
  *
  *   html -> drop script/style subtrees -> split at block-level end tags
  *        -> per block: visible text, anchor text, link density
  *        -> classify content vs boilerplate (text length + link density)
  *        -> main content = ordered concat of content blocks
  *
  * Everything is a deterministic regex/arithmetic pipeline with a DuckDB
  * dialect twin (OracleSql.html*), so the whole family is oracle-checkable.
  * Regex discipline: RE2 (DuckDB) and Java regex agree on every pattern
  * used here — character classes spelled out, `(?s)` dotall and non-greedy
  * `.*?` are common to both.
  *
  * The corpus carries no real HTML, so [[Corpus]] gains a deterministic
  * HTML rendering of each document (nav/header/footer chrome + entity-
  * encoded body paragraphs) built in Column and SQL lock-step — the same
  * discipline as docsTable and rawTextSql.
  */
object Html {

  /** Block-level end tags that terminate a text block. */
  val BlockSplit = "</p>|</div>|</nav>|</footer>|</h1>|</li>|</title>"

  /** Content-classification defaults: a block is content iff its visible
    * text is >= MinContentChars BYTES and anchor text is at most MaxLinkBp
    * of it. The DuckDB oracle (OracleSql.HtmlBlocksCte) interpolates THESE
    * constants, so a tuning change can never silently diverge the oracle.
    */
  val MinContentChars = 25
  val MaxLinkBp = 3300L

  /** Drop non-visible subtrees wholesale (script/style retain no text). */
  def dropInvisible(html: Column): Column =
    regexp_replace(
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")

  /** Visible text of an HTML fragment: strip tags, decode entities,
    * collapse whitespace runs, trim — as ONE fused codegen scan
    * (graft.functions.HtmlVisibleTextExpr). The former ten-pass regex
    * chain (tag strip + 7 entity passes + collapse + trim) ran per BLOCK
    * on the q43/q44/q45 hot path; byte-parity of the fusion is spec-pinned
    * against that chain (kept in HtmlLayoutSpec) on the rendered corpus.
    */
  def visibleText(html: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.HtmlVisibleTextExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(html)))

  /** Text inside anchor tags only — the numerator of link density. */
  def anchorText(html: Column): Column =
    array_join(regexp_extract_all(html, lit("(?s)<a[^>]*>(.*?)</a>"), lit(1)), " ")

  /** One row per block: (doc_id, block_idx, text, text_len, link_len,
    * link_density_bp, is_content). Classification: a block is CONTENT iff
    * its visible text is >= `minChars` bytes AND anchor text makes up at
    * most `maxLinkBp` of it — the classic density heuristic.
    */
  def blocks(docs: DataFrame, html: Column,
      minChars: Int = MinContentChars, maxLinkBp: Long = MaxLinkBp): DataFrame = {
    val split_ = split(dropInvisible(html), BlockSplit)
    docs
      .select(col("doc_id"), posexplode(split_).as(Seq("block_idx", "raw_block")))
      .select(
        col("doc_id"), col("block_idx").cast("long").as("block_idx"),
        visibleText(col("raw_block")).as("text"),
        visibleText(anchorText(col("raw_block"))).as("link_text"))
      .select(
        col("doc_id"), col("block_idx"), col("text"),
        octet_length(col("text")).cast("long").as("text_len"),
        octet_length(col("link_text")).cast("long").as("link_len"))
      .withColumn("link_density_bp",
        floor(col("link_len") * 10000.0 / greatest(col("text_len"), lit(1L))).cast("long"))
      .withColumn("is_content",
        col("text_len") >= minChars && col("link_density_bp") <= maxLinkBp)
  }

  /** Main content per document: ordered concat of the content blocks —
    * the "strip HTML boilerplate into main text" output surface. One
    * exchange on doc_id.
    */
  def mainContent(docs: DataFrame, html: Column): DataFrame =
    blocks(docs, html)
      .filter(col("is_content"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("block_idx"), col("text")))),
          b => b("text")), "\n\n").as("main_text"))
}
