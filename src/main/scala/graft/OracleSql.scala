package graft

import graft.ops.Corpus

/** DuckDB-dialect SQL builders mirroring the Spark-side transforms, used as
  * the driver's correctness oracle (`SparkEntry.oracleSql`). Each helper is
  * the dialect twin of an expression in `graft.ops.Exprs` / `graft.ops.*`
  * or of a `graft.kernel` function — keep them in lock-step. Regex character classes are spelled out so RE2
  * (DuckDB) and Java regex (Spark) agree.
  */
object OracleSql {

  val NN = "chr(10) || chr(10)"

  /** Dialect twin of Exprs.normCol. */
  def norm(x: String): String =
    raw"trim(regexp_replace(regexp_replace(regexp_replace(lower($x), '[ \t]+', ' ', 'g'), '\n+', chr(10), 'g'), '[^\p{L}\p{Nd} \n]', '', 'g'), ' ' || chr(10))"

  /** Dialect twin of Exprs.trimGoWs — the full Go White_Space set, as
    * chr() codepoints (one canonical list: TextKernel.isGoSpace).
    */
  val GoWsChrs: String =
    (Seq(9, 10, 11, 12, 13, 32, 0x85, 0xA0, 0x1680) ++
      (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000))
      .map(c => s"chr($c)").mkString(" || ")

  def trimWs(x: String): String = s"trim($x, $GoWsChrs)"

  /** Dialect twin of TextKernel.blankLineSplit (RE2). */
  val BlankSplit: String = raw"'\n[\t\n\f\r ]*\n+'"

  /** The corpus raw text from the documents table. */
  val Raw: String = Corpus.rawTextSql("CAST(doc_id AS VARCHAR)", "text")

  /** Reference chrome patterns OR-combined (dialect twin of
    * TextKernel.chromePredicate's pattern list).
    */
  val ChromeCombined: String =
    graft.kernel.TextKernel.defaultChromePatterns.map(p => s"($p)").mkString("|")

  /** Chrome KEEP predicate over a `norm` column (maxLength 100 BYTES). */
  def chromeKeep(normCol: String): String =
    raw"NOT (strlen($normCol) < ${Corpus.ChromeMaxLength} AND regexp_matches($normCol, '$ChromeCombined'))"

  // ---- HTML boilerplate-strip family (dialect twins of graft.ops.Html) ----

  /** Entity decode chain — same pairs/order as HtmlVisibleTextExpr
    * (`&amp;` last); DuckDB plain replace() == Spark regexp_replace here
    * because none of the entity strings carry regex metacharacters.
    */
  def htmlDecode(x: String): String =
    s"replace(replace(replace(replace(replace(replace(replace($x" +
      ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', '''')" +
      ", '&nbsp;', ' '), '&copy;', '(c)'), '&amp;', '&')"

  /** Dialect twin of Html.visibleText (NB DuckDB regexp_replace needs the
    * explicit 'g' flag — it replaces only the first match by default,
    * where Spark always replaces all).
    */
  def htmlVisible(x: String): String =
    raw"trim(regexp_replace(${htmlDecode(s"regexp_replace($x, '<[^>]*>', ' ', 'g')")}, '[ \t\r\n]+', ' ', 'g'))"

  /** Dialect twin of Html.dropInvisible. */
  def htmlDropInvisible(x: String): String =
    s"regexp_replace(regexp_replace($x, '(?s)<script[^>]*>.*?</script>', ' ', 'g'), '(?s)<style[^>]*>.*?</style>', ' ', 'g')"

  /** Shared CTE prefix for the q44/q45 oracles: html -> visible blocks with
    * link text (COALESCE because DuckDB's regexp_extract_all yields NULL on
    * zero matches where Spark yields an empty array).
    */
  val HtmlBlocksCte: String = {
    val h = Corpus.htmlSql("doc_id", "text")
    s"""WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
       |hh AS (SELECT doc_id, $h AS html FROM h),
       |nj AS (SELECT doc_id, ${htmlDropInvisible("html")} AS nojs FROM hh),
       |sp AS (SELECT doc_id, string_split_regex(nojs, '${ops.Html.BlockSplit}') AS bl FROM nj),
       |ex AS (SELECT doc_id, unnest(bl) AS raw_block, CAST(unnest(range(0, len(bl))) AS BIGINT) AS block_idx FROM sp),
       |tx AS (SELECT doc_id, block_idx, ${htmlVisible("raw_block")} AS text,
       |  COALESCE(${htmlVisible("array_to_string(regexp_extract_all(raw_block, '(?s)<a[^>]*>(.*?)</a>', 1), ' ')")}, '') AS link_text FROM ex),
       |blocks AS (SELECT doc_id, block_idx, text, strlen(text) AS text_len, strlen(link_text) AS link_len,
       |  CAST(floor(strlen(link_text) * 10000.0 / greatest(strlen(text), 1)) AS BIGINT) AS link_density_bp,
       |  (strlen(text) >= ${ops.Html.MinContentChars} AND floor(strlen(link_text) * 10000.0 / greatest(strlen(text), 1)) <= ${ops.Html.MaxLinkBp}) AS is_content
       |  FROM tx)""".stripMargin
  }

  /** CTE prefix `WITH base, segs, surv, ranked, fallback, chunks` — the
    * dialect twin of TextKernel.chunkText over the corpus raw text —
    * followed by the chrome filter (`filtered`) and the exact-dedup ranking
    * (`keyed`, `exact_ranked`).
    */
  val ChunkCte: String = {
    val min = Corpus.MinChunkChars
    s"""WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, $Raw AS raw FROM documents
), segs AS (
  SELECT doc_id, unnest(string_split_regex(raw, $BlankSplit)) AS seg,
         unnest(range(len(string_split_regex(raw, $BlankSplit)))) AS pos
  FROM base
), surv AS (
  SELECT doc_id, pos, ${trimWs("seg")} AS t FROM segs
  WHERE strlen(${trimWs("seg")}) >= $min
), ranked AS (
  SELECT doc_id,
         printf('c%04d', row_number() OVER w) AS id,
         t AS text, ${norm("t")} AS norm,
         CAST(row_number() OVER w - 1 AS BIGINT) AS idx
  FROM surv WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), fallback AS (
  SELECT b.doc_id, 'c0001' AS id, ${trimWs("b.raw")} AS text,
         ${norm(trimWs("b.raw"))} AS norm, CAST(0 AS BIGINT) AS idx
  FROM base b
  WHERE b.doc_id NOT IN (SELECT doc_id FROM surv)
    AND strlen(${trimWs("b.raw")}) >= $min
), chunks AS (
  SELECT * FROM ranked UNION ALL SELECT * FROM fallback
), filtered AS (
  SELECT * FROM chunks WHERE ${chromeKeep("norm")}
), keyed AS (
  SELECT *, CASE WHEN norm = '' THEN 'EMPTY:' || doc_id || ':' || id ELSE norm END AS k
  FROM filtered
), exact_ranked AS (
  SELECT *, row_number() OVER w2 AS rn, first_value(id) OVER w2 AS first_id
  FROM keyed WINDOW w2 AS (PARTITION BY doc_id, k ORDER BY idx)
)"""
  }

  /** ASCII-whitespace tokens (dialect twin of TextAnalysis.tokens). */
  def tokens(x: String): String =
    raw"list_filter(string_split_regex($x, '[\t\n\f\r ]+'), t -> t <> '')"

  /** ASCII-only lowercase — dialect twin of the Scala-UDF hash paths'
    * explicit A-Z map. Engine lower()s disagree across engines on some
    * Unicode uppercase (Java full-maps U+0130 'İ' to "i" + combining dot,
    * utf8proc simple-maps it), which would silently flip FNV-derived
    * hashes; the hash-BEARING paths (shingles, feature-hash embeddings)
    * therefore lower only A-Z on both engines.
    */
  def asciiLower(x: String): String =
    s"translate($x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"

  def stopHits(toksExpr: String, words: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Quantized cosine (basis points, floored) between two float-list exprs —
    * dialect twin of Similarity.cosine + floor(*10000): left-fold dot
    * products in element order so the doubles are bit-identical to the
    * Spark-side FloatDotExpr fold.
    */
  def cosBp(a: String, b: String): String = {
    def dot(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($x, $y), " +
        s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)"
    s"CAST(floor((${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))) * 10000) AS BIGINT)"
  }

  /** Unquantized cosine (DOUBLE) — for rank/assignment comparisons where the
    * raw doubles are bit-identical cross-engine (same left fold).
    */
  def cosRaw(a: String, b: String): String = {
    def dot(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($x, $y), " +
        s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** signed BIGINT -> UBIGINT (two's-complement bit pattern). */
  def toUnsigned(s: String): String =
    s"CAST(CASE WHEN ($s) < 0 THEN CAST($s AS HUGEINT) + ${OracleHash.M64} " +
      s"ELSE CAST($s AS HUGEINT) END AS UBIGINT)"

  /** [[ChunkCte]] with the WITH made RECURSIVE so greedy-scan CTEs can be
    * appended (DuckDB requires the keyword on the whole WITH clause).
    */
  val ChunkCteRec: String = "WITH RECURSIVE " + ChunkCte.stripPrefix("WITH ")

  /** Dialect twin of the within-doc dedup chain (ExtractionJob.dedup with
    * method "simhash"/"both"): SimHash signatures over the input chunks'
    * norms (exact-dedup survivors by default; the FULL filtered set for
    * method "both"), then the reference's greedy windowed scan. Appends to
    * [[ChunkCteRec]]; emits CTEs `g_sigs` (chunks + sig) and `g_v`
    * (verdicts: doc_id, v_id, v_idx, v_kept, v_match, v_dist, v_korder).
    */
  def dedupCte(threshold: Int = 6, window: Int = 250, fullInput: Boolean = false): String = {
    val src =
      if (fullInput)
        "SELECT doc_id, id, text, norm, idx, doc_id || '|' || id AS rk FROM filtered"
      else
        "SELECT doc_id, id, text, norm, idx, doc_id || '|' || id AS rk FROM exact_ranked WHERE rn = 1"
    s""", g_in AS ($src),
${OracleHash.simhashCtes("g_in", "norm", 5, "g_sigs")},
${OracleHash.greedyCtes("g_sigs", threshold, window, "g_v")}"""
  }

  /** Distinct lowercase word 3-shingles per doc (dialect twin of
    * Similarity.shingles over `documents`): the q23/q24 candidate source.
    */
  def shingleSets(n: Int): String =
    s"""sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(${tokens(asciiLower("text"))}) - ${n - 1}, 0) + 1),
           i -> array_to_string(list_slice(${tokens(asciiLower("text"))}, i, i + ${n - 1}), ' '))) AS sh
  FROM documents
), sized AS (
  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS set_size FROM sets WHERE len(sh) > 0
)"""
}
