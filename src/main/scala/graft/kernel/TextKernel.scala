package graft.kernel

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.regex.Pattern
import scala.util.Try

/** A text chunk — mirrors the reference's chunk record
  * (reference: internal/text/text.go:14-19).
  *
  * `index` is the position among *survivors* of the min-length filter, not
  * the position in the raw document (reference: internal/text/text.go:91-104
  * — the comment at text.go:18 is misleading; tests lock survivor-position).
  */
final case class Chunk(id: String, text: String, norm: String, index: Int)

/** Pure (no-Spark) text kernel reproducing the reference's semantics
  * byte-for-byte. Each function cites the reference implementation it
  * mirrors; the ScalaTest suite locks the reference's own unit-test vectors
  * (reference: internal/text/text_test.go).
  *
  * This kernel is used (a) as the sequential oracle in tests, and (b) as the
  * per-document engine of the flagship pipeline, run inside each document's
  * own row (graft.jobs.ExtractionJob) because the greedy windowed dedup is
  * inherently sequential. The distributed column layer in `graft.ops`
  * re-expresses the SQL-expressible subset with Catalyst built-ins and is
  * fixture-tested against this kernel.
  */
object TextKernel {

  /** Go `unicode.IsSpace` equivalent — the Unicode White_Space property.
    * Differs from Java `Character.isWhitespace` (which adds U+001C-001F and
    * drops U+0085/U+00A0/U+2007/U+202F), so we enumerate Go's set exactly.
    */
  def isGoSpace(cp: Int): Boolean = cp match {
    case 0x09 | 0x0a | 0x0b | 0x0c | 0x0d | 0x20 | 0x85 | 0xa0 | 0x1680 |
        0x2028 | 0x2029 | 0x202f | 0x205f | 0x3000 =>
      true
    case c if c >= 0x2000 && c <= 0x200a => true
    case _ => false
  }

  /** Go `strings.TrimSpace` (trims Unicode White_Space from both ends). */
  def goTrimSpace(s: String): String = {
    var start = 0
    var end = s.length
    while (start < end && isGoSpace(s.codePointAt(start)))
      start += Character.charCount(s.codePointAt(start))
    while (end > start && isGoSpace(s.codePointBefore(end)))
      end -= Character.charCount(s.codePointBefore(end))
    s.substring(start, end)
  }

  /** Normalize text for hashing (reference: internal/text/text.go:34-65):
    * lowercase, collapse runs of space/tab to one space, collapse newline
    * runs to one newline, keep only letters/digits/space/newline (rune-wise),
    * trim. Empty input stays empty.
    *
    * Everything after the lowercase is ONE character pass
    * ([[collapseFilterTrim]]), byte-identical to the reference's (and the
    * test-side `SpecTwins.normColRegex`'s) chain `[ \t]+` -> " ", `\n+` ->
    * "\n", drop `[^\p{L}\p{Nd} \n]`, trim — pinned by ExprSpec and
    * PropertySpec against that chain. Order sensitivity that must be preserved: run
    * collapsing happens BEFORE the character filter, so a run-breaking char
    * that is itself later removed still leaves two separate spaces
    * ("a . b" -> "a  b"); the pass tracks the previous INPUT char's class,
    * not the previous EMITTED char's. Only ' ' and '\n' can survive the
    * filter as whitespace, so trimming those two is Go's TrimSpace here.
    */
  def normalize(raw: String): String = collapseFilterTrim(raw.toLowerCase(Locale.ROOT))

  private final val ClassOther = 0
  private final val ClassSpaceTab = 1
  private final val ClassNewline = 2

  /** The [[normalize]] pass after the lowercase. `NormalizeEval` (the
    * Catalyst expression) runs it after Spark's own lowercase.
    */
  def collapseFilterTrim(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var prev = ClassOther
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (cp == ' ' || cp == '\t') {
        if (prev != ClassSpaceTab) sb.append(' ')
        prev = ClassSpaceTab
      } else if (cp == '\n') {
        if (prev != ClassNewline) sb.append('\n')
        prev = ClassNewline
      } else {
        prev = ClassOther
        // \p{L} == Character.isLetter (general categories L*); \p{Nd} ==
        // Character.isDigit (DECIMAL_DIGIT_NUMBER), Go's unicode.IsDigit
        if (Character.isLetter(cp) || Character.isDigit(cp)) sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    var b = 0
    var e = sb.length
    while (b < e && { val c = sb.charAt(b); c == ' ' || c == '\n' }) b += 1
    while (e > b && { val c = sb.charAt(e - 1); c == ' ' || c == '\n' }) e -= 1
    sb.substring(b, e)
  }

  /** Blank-line splitter (reference: internal/text/text.go:75). The
    * reference's RE2 `\s` is ASCII-only `[\t\n\f\r ]`; Java's `\s` adds
    * `\x0B`, so we spell the class out to stay dialect-identical (the same
    * explicit class is used in the Spark/DuckDB expressions).
    */
  val blankLineSplit: String = "\\n[\\t\\n\\f\\r ]*\\n+"
  private val blankLinePattern = Pattern.compile(blankLineSplit)

  /** Go `len(s)` — UTF-8 byte length, counted without encoding. An
    * unpaired surrogate counts 1 byte: `getBytes(UTF_8)` writes it as '?'.
    */
  def byteLen(s: String): Int = {
    val n = s.length
    var bytes = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) { bytes += 4; i += 1 }
      else if (Character.isSurrogate(c)) bytes += 1
      else bytes += 3
      i += 1
    }
    bytes
  }

  /** Chunk id `c%04d` for a 1-based survivor position, without a
    * per-chunk `Formatter` or the default locale's digits.
    */
  private def chunkId(pos: Int): String = {
    val digits = Integer.toString(pos)
    "c" + "0" * (4 - digits.length) + digits
  }

  /** Split text into chunks at blank lines (reference: internal/text/
    * text.go:69-121). Segments are Go-TrimSpace'd; segments shorter than
    * `minChars` BYTES are skipped; IDs `c%%04d` and `index` are assigned
    * post-filter (survivor position). Fallback: if nothing survived but the
    * whole trimmed text is >= minChars bytes, emit it as the single chunk.
    */
  def chunkText(text: String, minChars: Int): Vector[Chunk] = {
    if (text.isEmpty) return Vector.empty
    // Go regexp.Split(-1) == Java split(regex, -1) (keeps trailing empties).
    val survivors = blankLinePattern.split(text, -1).iterator
      .map(goTrimSpace)
      .filter(byteLen(_) >= minChars)
      .toVector
    val segments =
      if (survivors.nonEmpty) survivors
      else Vector(goTrimSpace(text)).filter(byteLen(_) >= minChars)
    segments.zipWithIndex.map { case (t, idx) =>
      Chunk(chunkId(idx + 1), t, normalize(t), idx)
    }
  }

  /** Default chrome patterns, applied to NORMALIZED text
    * (reference: internal/text/text.go:23-30).
    */
  val defaultChromePatterns: Vector[String] = Vector(
    "\\d{1,2}\\s*\\d{2}\\s*(am|pm)?",
    "\\d+\\s*%|wifi|battery|charging",
    "back|forward|refresh|home|search",
    "\\d{1,2}\\s*\\d{1,2}\\s*\\d{2,4}"
  )

  /** Drop chunks whose norm BOTH matches a pattern AND is shorter than
    * `maxLength` BYTES (Go `len` is bytes); long matches are kept as
    * likely-real content (reference: internal/text/text.go:126-163). Invalid
    * patterns are silently skipped (text.go:132-139). `maxLength` is
    * hardcoded to 100 at the reference call site (cmd/pipeline/main.go:226).
    */
  def filterChrome(chunks: Seq[Chunk], patterns: Seq[String], maxLength: Int): Vector[Chunk] =
    chunks.iterator.filterNot(chromePredicate(patterns, maxLength)).toVector

  /** The [[filterChrome]] drop test with its patterns compiled once: true iff
    * the chunk is chrome. Build it once per job (the function and its
    * compiled patterns are serializable), not once per document.
    */
  def chromePredicate(patterns: Seq[String], maxLength: Int): Chunk => Boolean = {
    val compiled = patterns.flatMap(p => Try(Pattern.compile(p)).toOption).toVector
    c => byteLen(c.norm) < maxLength && compiled.exists(_.matcher(c.norm).find())
  }

  /** Truncate to `max` BYTES then append "..." (reference preview/JSONL
    * truncation slices Go bytes: internal/dedupe/dedupe.go:97-101,
    * internal/text/text.go:187-191). A cut that lands mid-rune yields
    * U+FFFD on decode (documented divergence: Go keeps the raw bytes until
    * JSON-marshaling, which also substitutes U+FFFD).
    */
  def byteTruncate(s: String, max: Int): String = {
    val b = s.getBytes(UTF_8)
    if (b.length <= max) s
    else new String(b, 0, max, UTF_8) + "..."
  }

  /** Render kept chunks as Markdown (reference: internal/text/text.go:219-246).
    * Byte-exact layout: `"# " + title + "\n\n"`, then per chunk optional
    * `"<!-- id -->\n"`, the text, `"\n\n"`. Empty title defaults to
    * "Extracted Notes".
    */
  def renderMarkdown(title: String, chunks: Seq[Chunk], includeChunkIDs: Boolean): String = {
    val t = if (title.isEmpty) "Extracted Notes" else title
    val sb = new StringBuilder("# ").append(t).append("\n\n")
    for (c <- chunks) {
      if (includeChunkIDs) sb.append("<!-- ").append(c.id).append(" -->\n")
      sb.append(c.text).append("\n\n")
    }
    sb.toString
  }

  /** Markdown sink normalization (reference: internal/text/text.go:267-272):
    * CRLF/CR -> LF, trailing newlines collapsed to exactly one.
    */
  def finalizeMarkdown(content: String): String = {
    var s = content.replace("\r\n", "\n").replace("\r", "\n")
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '\n') end -= 1
    s.substring(0, end) + "\n"
  }

  // ---- Natural sort (reference: internal/ingest/ingest.go:70-174) ----

  /** Split into alternating digit/non-digit runs (reference:
    * internal/ingest/ingest.go:149-174). Digit-ness is Unicode Nd, per Go
    * `unicode.IsDigit`.
    */
  def splitIntoSegments(s: String): Vector[String] = {
    val segments = Vector.newBuilder[String]
    val current = new java.lang.StringBuilder
    var isDigit = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val digit = Character.isDigit(cp)
      if (current.length == 0) { isDigit = digit; current.appendCodePoint(cp) }
      else if (digit == isDigit) current.appendCodePoint(cp)
      else {
        segments += current.toString
        current.setLength(0)
        isDigit = digit
        current.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    if (current.length > 0) segments += current.toString
    segments.result()
  }

  private def basename(p: String): String = {
    // filepath.Base: strip trailing slashes, take last element, "" -> "."
    if (p.isEmpty) return "."
    var s = p
    while (s.length > 1 && s.endsWith("/")) s = s.substring(0, s.length - 1)
    val i = s.lastIndexOf('/')
    if (i >= 0 && i < s.length - 1) s.substring(i + 1) else if (s == "/") "/" else s
  }

  /** Natural less-than on basenames with full-path tiebreak (reference:
    * internal/ingest/ingest.go:83-145): digit-run segments compare
    * numerically (via Atoi — overflow falls back to text compare), text
    * lexicographically, number-before-text on mixed, shorter prefix first.
    */
  def naturalLess(a: String, b: String): Boolean = {
    val sa = splitIntoSegments(basename(a))
    val sb = splitIntoSegments(basename(b))
    val n = math.max(sa.length, sb.length)
    var i = 0
    while (i < n) {
      val segA = if (i < sa.length) sa(i) else ""
      val segB = if (i < sb.length) sb(i) else ""
      if (segA.isEmpty) return true
      if (segB.isEmpty) return false
      // strconv.Atoi: 64-bit signed; digit-only segments parse unless overflow
      val numA = Try(java.lang.Long.parseLong(segA)).toOption
      val numB = Try(java.lang.Long.parseLong(segB)).toOption
      (numA, numB) match {
        case (Some(x), Some(y)) => if (x != y) return x < y
        case (None, None)       => if (segA != segB) return segA < segB
        case (Some(_), None)    => return true
        case (None, Some(_))    => return false
      }
      i += 1
    }
    a < b
  }

  def naturalSort(paths: Seq[String]): Vector[String] =
    paths.sortWith(naturalLess).toVector

  /** Staged name for the i-th (0-based) path: `%04d` + lowercased original
    * extension, `.jpg` when missing (reference: internal/ingest/ingest.go:187-196).
    */
  def stagedName(path: String, i: Int): String = {
    val base = basename(path)
    val dot = base.lastIndexOf('.')
    val ext0 = if (dot >= 0) base.substring(dot) else ""
    val ext = if (ext0.isEmpty) ".jpg" else ext0.toLowerCase(Locale.ROOT)
    f"${i + 1}%04d$ext"
  }
}
