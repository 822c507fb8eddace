package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.kernel.{Hashing, TextKernel}

/** Shared Catalyst column expressions for the SQL-expressible reference
  * operators, plus the few UDFs whose semantics the built-ins cannot express
  * (byte-exact truncation, SimHash, natural-sort key). Chunking, the chrome
  * filter and within-doc dedup are not here: they run as the kernel inside
  * each document's row (graft.jobs.ExtractionJob).
  *
  * Every expression here stays inside whole-stage codegen except the UDFs;
  * the UDFs are deterministic and marked so, keeping Catalyst free to reorder
  * around them. Regex character classes are spelled out (no `\s`) so the
  * Spark (Java regex) and DuckDB-oracle (RE2) dialects agree — see
  * SURVEY.md §7.4.7.
  */
object Exprs {

  /** N1 — Normalize (reference: internal/text/text.go:34-65) as one codegen
    * expression (graft.functions.NormalizeExpr): lower, collapse space/tab
    * runs, collapse newline runs, strip everything but letters / decimal
    * digits / space / newline, trim. Decimal digits (not all numerals)
    * mirror Go `unicode.IsDigit`; the final trim only needs ' ' and '\n'
    * because no other whitespace survives the character filter.
    */
  def normCol(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NormalizeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** Go `strings.TrimSpace` trim set — the FULL Unicode White_Space property
    * (TextKernel.isGoSpace), not just ASCII: tab, LF, VT, FF, CR, space,
    * NEL, NBSP, OGHAM SPACE MARK, U+2000-200A, LINE/PARA SEPARATOR,
    * NARROW NBSP, MMSP, IDEOGRAPHIC SPACE. Spark `trim(col, set)` and
    * DuckDB `trim(x, set)` both treat the string as a character SET, so one
    * constant serves both dialects (OracleSql.trimWs is the twin).
    */
  val GoWhitespace: String =
    " \t\n\u000B\f\r\u0085\u00A0\u1680" +
      (0x2000 to 0x200A).map(_.toChar).mkString +
      "\u2028\u2029\u202F\u205F\u3000"

  /** Go-TrimSpace as a Catalyst expression (trims the full Unicode
    * White_Space set from both ends — reference: strings.TrimSpace used at
    * internal/text/text.go:84, 111), the same set as `TextKernel.goTrimSpace`.
    */
  def trimGoWs(c: Column): Column = trim(c, GoWhitespace)

  /** H3 — simhash64 over byte k-grams (reference: internal/dedupe/
    * dedupe.go:150-185) as a native codegen Catalyst expression
    * (graft.functions.SimHash64Expr); semantics locked by the kernel
    * fixture tests and the expression/kernel parity spec.
    */
  def simhash64(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.SimHash64Expr(
        org.apache.spark.sql.graftbridge.Bridge.expression(c), k))

  /** H1 — FNV-1a 64 (reference: internal/dedupe/dedupe.go:140-147). */
  def fnv1a64(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Fnv1a64Expr(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** Exact int64 dot product over two Array[Long] columns — native codegen
    * twin of the interpreted aggregate(zip_with(a, b, _*_)) fold (the
    * SemDeDup pair kernel; same justification as [[FloatDotExpr]] in
    * Similarity.dot). Integer adds are associative, so fold order cannot
    * diverge.
    */
  def longDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.LongDotExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Code-point rolling hash (h*31 + cp mod 1e9+7) — native twin of the
    * interpreted aggregate(transform(split(text, ''), ascii)) fold
    * (graft.functions.RollingHashExpr); parity locked by ExprSpec.
    */
  def rollingHash(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.RollingHashExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** Byte-exact preview truncation (reference slices Go bytes at 200/500:
    * internal/dedupe/dedupe.go:97-101, internal/text/text.go:187-191).
    * `substring` counts chars, so this must be a UDF.
    */
  private val byteTruncU = udf((s: String, max: Int) => TextKernel.byteTruncate(s, max))
  def byteTruncate(c: Column, max: Int): Column = byteTruncU(c, lit(max))

  /** O1 — natural-sort key (reference: internal/ingest/ingest.go:70-174).
    * Encodes each digit/non-digit segment as (type-flag, padded value) so a
    * plain string ORDER BY reproduces naturalLess: digit runs sort
    * numerically via zero-pad to 20, numbers sort before text via the '0'/'1'
    * flag, shorter prefix first, full value as tiebreak.
    */
  private val naturalKeyU = udf { (s: String) =>
    val base = s.substring(s.lastIndexOf('/') + 1)
    val segs = graft.kernel.TextKernel.splitIntoSegments(base).map { seg =>
      // numeric iff Atoi would succeed (ASCII digits, fits in signed 64-bit)
      val numeric = seg.nonEmpty && seg.forall(c => c >= '0' && c <= '9') &&
        scala.util.Try(java.lang.Long.parseLong(seg)).isSuccess
      if (numeric) "0" + ("0" * (20 - seg.length)) + seg else "1" + seg
    }
    // '\u0001' terminators keep variable-length segments aligned (a segment
    // that is a strict prefix of another sorts first = the reference's
    // shorter-prefix rule); the trailing block is the full-path tiebreak.
    segs.map(_ + "\u0001").mkString + "\u0001" + s
  }
  def naturalKey(c: Column): Column = naturalKeyU(c)

  /** H4 — Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
