package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Fixture vectors lifted from the reference's own unit tests
  * (reference: internal/text/text_test.go) — see FIXTURES.md §2-4, §7-8.
  */
class TextKernelSpec extends AnyFunSuite {
  import TextKernel._

  // ---- Normalize (text_test.go:12-78, 377-391) ----
  test("normalize: empty") { assert(normalize("") == "") }
  test("normalize: whitespace only") { assert(normalize("   \n\n  \t  ") == "") }
  test("normalize: lowercase + strip punct") {
    assert(normalize("Hello World!") == "hello world")
    assert(normalize("Hello, World! How are you?") == "hello world how are you")
  }
  test("normalize: collapse spaces") { assert(normalize("Hello    World") == "hello world") }
  test("normalize: newlines preserved, collapsed") {
    val n = normalize("Hello\n\nWorld")
    assert(n == "hello\nworld")
  }
  test("normalize: accents kept") {
    val n = normalize("Café, naïve, résumé")
    assert(n.nonEmpty && n.contains("café"))
  }
  test("normalize: digits kept") { assert(normalize("123 456 789") == "123 456 789") }
  test("normalize: punctuation only -> empty") { assert(normalize("!!!???") == "") }
  test("normalize: tabs removed") {
    val n = normalize("Hello\t\tWorld\n\nTest")
    assert(!n.contains("\t"))
    assert(n == "hello world\ntest")
  }

  // ---- ChunkText (text_test.go:80-184, 352-375) ----
  private val long1 = "This is a long paragraph that has more than sixty characters in it for sure."
  private val long2 = "Another long paragraph exceeding the sixty character minimum easily, yes."
  private val long3 = "A third long paragraph that also exceeds the minimum chunk length bar."

  test("chunk: empty -> none") { assert(chunkText("", 60).isEmpty) }
  test("chunk: single paragraph") {
    val cs = chunkText(long1, 60)
    assert(cs.length == 1 && cs(0).id == "c0001" && cs(0).index == 0 && cs(0).text == long1)
  }
  test("chunk: three paragraphs") {
    val cs = chunkText(s"$long1\n\n$long2\n\n$long3", 60)
    assert(cs.map(_.id) == Vector("c0001", "c0002", "c0003"))
    assert(cs.map(_.index) == Vector(0, 1, 2))
    assert(cs.map(_.text) == Vector(long1, long2, long3))
  }
  test("chunk: IDs assigned post-filter") {
    val cs = chunkText(s"Short.\n\nAlso short.\n\n$long1", 60)
    assert(cs.length == 1 && cs(0).id == "c0001" && cs(0).index == 0 && cs(0).text == long1)
  }
  test("chunk: all short -> none") {
    assert(chunkText("Short.\n\nAlso short.", 60).isEmpty)
  }
  test("chunk: CRLF blank lines split") {
    val cs = chunkText(s"$long1\r\n\r\n$long2", 60)
    assert(cs.length == 2)
  }
  test("chunk: many newlines split once") {
    val cs = chunkText(s"$long1\n\n\n\n$long2", 60)
    assert(cs.length == 2)
  }
  test("chunk: newlines only -> none") { assert(chunkText("\n\n\n", 60).isEmpty) }
  test("chunk: fallback single chunk when no blank lines") {
    val text = "One line but definitely longer than sixty characters so fallback fires."
    val cs = chunkText(text, 60)
    assert(cs.length == 1 && cs(0).id == "c0001")
  }
  test("chunk: min length is bytes not chars") {
    // 59 chars of 'é' = 118 bytes >= 60 -> kept even though char count < 60
    val t = "é" * 59
    assert(chunkText(t, 60).length == 1)
    // 59 ASCII chars = 59 bytes < 60 -> dropped
    assert(chunkText("a" * 59, 60).isEmpty)
    assert(chunkText("a" * 60, 60).length == 1)
  }
  test("byteLen == UTF-8 encoded length, unpaired surrogates as '?'") {
    // 1-, 2-, 3- and 4-byte characters, then unpaired surrogates, which
    // getBytes writes as one '?' byte (kernel-only: Spark strings never
    // carry them, its UTF-8 conversion already rewrote them to '?')
    for (s <- Seq("", "a", "é", "€", "中", "😀", "aé€😀", "a\ud800b", "\udc00x", "x\ud83d"))
      assert(byteLen(s) == s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
        s.map(c => f"\\u${c.toInt}%04x").mkString) // escaped: the report cannot encode a lone surrogate
  }
  test("chunk: ids are c%04d, widening past 9999") {
    val para = "p" * 60
    val ids = chunkText(Seq.fill(10000)(para).mkString("\n\n"), 60).map(_.id)
    assert(ids.length == 10000)
    assert(ids.take(2) == Seq("c0001", "c0002") && ids(9998) == "c9999" && ids.last == "c10000")
    val wrong = ids.indices.filter(i => ids(i) != f"c${i + 1}%04d")
    assert(wrong.isEmpty, wrong.take(3).map(ids))
  }

  // ---- FilterChrome (text_test.go:186-269) ----
  private def mk(norms: String*): Vector[Chunk] =
    norms.zipWithIndex.map { case (n, i) => Chunk(f"c${i + 1}%04d", n, n, i) }.toVector

  test("chrome: timestamp pattern drops short matches, keeps long") {
    val longWithTs = ("x" * 60) + " 1030 am " + ("y" * 60)
    val cs = Vector(
      Chunk("c0001", "1030 am", "1030 am", 0),
      Chunk("c0002", longWithTs, longWithTs, 1),
      Chunk("c0003", "regular content here", "regular content here", 2))
    val out = filterChrome(cs, Seq("\\d{1,2}\\s*\\d{2}\\s*(am|pm)?"), 50)
    assert(out.map(_.id) == Vector("c0002", "c0003"))
  }
  test("chrome: battery pattern") {
    val out = filterChrome(mk("85", "battery", "regular content"),
      Seq("\\d+\\s*%|wifi|battery|charging"), 50)
    assert(out.map(_.norm) == Vector("85", "regular content"))
  }
  test("chrome: all four defaults") {
    val out = filterChrome(mk("1030", "back", "regular content"),
      defaultChromePatterns, 50)
    assert(out.map(_.norm) == Vector("regular content"))
  }
  test("chrome: invalid regex silently skipped") {
    val cs = mk("anything", "back")
    assert(filterChrome(cs, Seq("[invalid regex("), 50) == cs)
  }
  test("chrome: maxLength is bytes not chars") {
    // 55 'é' = 55 chars but 110 bytes; with maxLen 100 the match is "long" -> kept
    val n = ("é" * 55) + " battery"
    val cs = Vector(Chunk("c0001", n, n, 0))
    assert(filterChrome(cs, Seq("battery"), 100) == cs)
    // same norm under a char-length rule would have been dropped (63 chars < 100)
    val short = "aa battery aa"
    assert(filterChrome(Vector(Chunk("c0001", short, short, 0)), Seq("battery"), 100).isEmpty)
  }
  test("chrome: no patterns keeps all") {
    val cs = mk("1030", "back")
    assert(filterChrome(cs, Seq.empty, 50) == cs)
  }

  // ---- Render / sinks (text_test.go:393-546, 587-636) ----
  test("markdown: empty chunks") {
    assert(renderMarkdown("Test Title", Vector.empty, includeChunkIDs = false) == "# Test Title\n\n")
  }
  test("markdown: one chunk") {
    val cs = Vector(Chunk("c0001", "This is a test chunk.", "this is a test chunk", 0))
    assert(renderMarkdown("Test Title", cs, includeChunkIDs = false) ==
      "# Test Title\n\nThis is a test chunk.\n\n")
  }
  test("markdown: default title") {
    assert(renderMarkdown("", Vector.empty, includeChunkIDs = false).startsWith("# Extracted Notes\n\n"))
  }
  test("markdown: chunk ids") {
    val cs = Vector(Chunk("c0001", "First chunk", "first chunk", 0))
    assert(renderMarkdown("T", cs, includeChunkIDs = true) ==
      "# T\n\n<!-- c0001 -->\nFirst chunk\n\n")
  }
  test("markdown: html/unicode preserved verbatim") {
    val cs = Vector(Chunk("c0001", "<b>bold</b> & café — müller", "", 0))
    assert(renderMarkdown("T", cs, includeChunkIDs = false).contains("<b>bold</b> & café — müller"))
  }
  test("finalizeMarkdown: CRLF->LF, single trailing newline") {
    assert(finalizeMarkdown("a\r\nb\r\n\n\n") == "a\nb\n")
    assert(finalizeMarkdown("a\rb") == "a\nb\n")
    assert(finalizeMarkdown("a") == "a\n")
  }
  test("byteTruncate: 200-byte previews") {
    assert(byteTruncate("a" * 200, 200) == "a" * 200)
    assert(byteTruncate("a" * 201, 200) == ("a" * 200) + "...")
  }

  // ---- Natural sort (ingest_test.go:151-234, FIXTURES.md §8) ----
  test("natural sort: IMG_9 before IMG_10") {
    assert(naturalSort(Seq("IMG_10.jpg", "IMG_9.jpg")) == Vector("IMG_9.jpg", "IMG_10.jpg"))
  }
  test("natural sort: numeric vs text segments") {
    assert(naturalLess("1.jpg", "a.jpg")) // number before text
    assert(!naturalLess("a.jpg", "1.jpg"))
    assert(naturalLess("a1.jpg", "a2.jpg"))
    assert(naturalLess("a2.jpg", "a10.jpg"))
  }
  test("natural sort: basename first, full path tiebreak") {
    assert(naturalLess("/b/x1.jpg", "/a/x2.jpg")) // basename decides
    assert(naturalLess("/a/x1.jpg", "/b/x1.jpg")) // tiebreak on full path
  }
  test("staged names: %04d + lowercased ext, .jpg default") {
    assert(stagedName("/x/Foo.PNG", 0) == "0001.png")
    assert(stagedName("/x/bar.jpeg", 1) == "0002.jpeg")
    assert(stagedName("/x/noext", 2) == "0003.jpg")
  }

  // ---- goTrimSpace vs Go unicode.IsSpace ----
  test("goTrimSpace: trims NBSP and NEL which Java trim would not") {
    assert(goTrimSpace("  x  ") == "x")
    assert(goTrimSpace("\tx\n") == "x")
  }
}
