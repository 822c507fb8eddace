package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** DOM-heuristic boilerplate classification + PDF reading-order fixtures. */
class HtmlLayoutSpec extends AnyFunSuite with SparkSpec {

  /** Decode the fixed entity set the corpus uses; `&amp;` LAST so
    * double-encoded sequences don't cascade.
    */
  private def decodeEntities(c: Column): Column = {
    val pairs = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&copy;" -> "(c)", "&amp;" -> "&")
    pairs.foldLeft(c) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
  }

  /** The original Column-regex formulation of [[Html.visibleText]] — the
    * in-engine reference the fused expression is tested against (the
    * NormalizeExpr / normColRegex twin discipline), and the shape the
    * DuckDB oracle twin (OracleSql.html*) mirrors pass for pass.
    */
  private def visibleTextChain(html: Column): Column =
    trim(regexp_replace(
      decodeEntities(regexp_replace(html, "<[^>]*>", " ")),
      "[ \t\r\n]+", " "))

  test("visibleText fused scan == regex chain, byte for byte (r6)") {
    import spark.implicits._
    // adversarial fixtures: unclosed tags, '<' inside a tag body, entity
    // chains that must NOT cascade, bare '&'/'<', ws runs incl. CRLF and a
    // literal NBSP (not in the collapse class), leading/trailing ws, empty
    val fixtures = Seq(
      "", "&", "<", ">", "plain text",
      "<p>a</p>", "a<b<c>d", "x<unclosed", "<a>>y",
      "&amp;lt; stays &lt; becomes", "&quot;q&quot; &#39;a&#39;",
      "a&nbsp;\tb", "&copy;2026 &copy;x", "&ampx &lt", "&gt;&lt;&amp;",
      " \t\r\n lead and trail \n ", "a  \r\n  b", "café non-break",
      "<a href=\"/x\">link</a> tail", "<script>1<2</script>",
      "😀<b>emoji</b>😀")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Corpus.htmlCol(col("doc_id").cast("string"), col("text")).as("h"))
      .unionByName(fixtures.toDF("h"))
      // the per-block shape q44/q45 actually feed through visibleText
      .select(explode(split(col("h"), Html.BlockSplit)).as("h"))
    val diff = corpus.select(
        Html.visibleText(col("h")).as("fused"),
        visibleTextChain(col("h")).as("chain"))
      .filter(!(col("fused") <=> col("chain")))
      .count()
    assert(diff == 0L)
    // and on the raw fixtures without block splitting
    val diff2 = fixtures.toDF("h").select(
        Html.visibleText(col("h")).as("fused"),
        visibleTextChain(col("h")).as("chain"))
      .filter(!(col("fused") <=> col("chain"))).count()
    assert(diff2 == 0L)
  }

  test("html blocks: nav/footer classified boilerplate, body paragraphs content") {
    import spark.implicits._
    val docs = Seq(("d1", "a body paragraph long enough to count as real content here")).toDF("doc_id", "text")
    val rows = Html.blocks(docs, Corpus.htmlCol(col("doc_id"), col("text")))
      .orderBy("block_idx").collect()
    val byText = rows.map(r => r.getAs[String]("text") -> r.getAs[Boolean]("is_content")).toMap
    assert(byText("Home Search Log in") == false, "nav is boilerplate (link density 100%)")
    assert(byText("(c) 2026 Example & Co About Terms") == false, "footer is boilerplate")
    assert(byText("Related one") == false, "bare link list item is boilerplate")
    val para = rows.filter(_.getAs[Long]("text_len") >= 50)
    assert(para.nonEmpty && para.forall(_.getAs[Boolean]("is_content")),
      "body paragraphs are content")
    // script/style subtrees leave no text block behind
    assert(!rows.exists(r => r.getAs[String]("text").contains("var x")), "script text stripped")
    assert(!rows.exists(r => r.getAs[String]("text").contains("margin")), "style text stripped")
    // entities decoded in visible text
    assert(rows.exists(_.getAs[String]("text").contains("\"tail\" paragraph 'two'")))
  }

  test("html main content: only content blocks, in block order") {
    import spark.implicits._
    val body = "a body paragraph long enough to count as real content here"
    val docs = Seq(("d1", body)).toDF("doc_id", "text")
    val main = Html.mainContent(docs, Corpus.htmlCol(col("doc_id"), col("text")))
      .head().getAs[String]("main_text")
    assert(main.startsWith(body), "first content block leads")
    assert(!main.contains("Home Search"), "nav stripped from main content")
    assert(!main.contains("About Terms"), "footer stripped from main content")
  }

  /** Adversarial fixtures: places where the REGEX pipeline deliberately
    * diverges from (or happens to agree with) a real DOM parser. Each
    * behavior below is pinned on purpose — if a refactor changes one, that
    * is a semantic change to q43-q45 and must be a conscious decision, not
    * an accident. Probed empirically before pinning.
    */
  test("html adversarial: nested anchors — link text ends at the FIRST </a>") {
    import spark.implicits._
    val html = "<p>see <a href=\"/x\">outer <a>inner</a> tail</a> end</p>"
    val r = Seq(("d", html)).toDF("id", "html")
      .select(Html.visibleText(Html.dropInvisible(col("html"))).as("vis"),
        Html.visibleText(Html.anchorText(col("html"))).as("atext"))
      .head()
    // non-greedy (?s)<a...>(.*?)</a> captures up to the first close: the
    // nested open tag is inside the capture (stripped by visibleText),
    // "tail" is OUTSIDE the link text — a DOM parser would auto-close the
    // inner anchor and attribute "tail" differently. Deliberate divergence.
    assert(r.getString(0) == "see outer inner tail end")
    assert(r.getString(1) == "outer inner")
  }

  test("html adversarial: unclosed tag swallows text up to the next '>'") {
    import spark.implicits._
    val html = "<p>text with <b unclosed and more words</p>"
    val vis = Seq(("d", html)).toDF("id", "html")
      .select(Html.visibleText(Html.dropInvisible(col("html"))).as("vis")).head().getString(0)
    // <[^>]*> eats from the dangling '<b' through the '>' of the NEXT tag —
    // same error recovery an HTML5 tokenizer applies (everything until '>'
    // is tag soup), so the words after the dangling '<' are gone
    assert(vis == "text with", s"got '$vis'")
  }

  test("html adversarial: attribute containing '>' leaks the tag remainder as text") {
    import spark.implicits._
    val html = "<p><a href=\"a>b\" class=\"c\">link text</a> rest</p>"
    val r = Seq(("d", html)).toDF("id", "html")
      .select(Html.visibleText(Html.dropInvisible(col("html"))).as("vis"),
        Html.visibleText(Html.anchorText(col("html"))).as("atext"))
      .head()
    // the tag match stops at the first '>' — INSIDE the quoted attribute —
    // so 'b" class="c">' leaks into both visible and anchor text. A DOM
    // parser keeps the '>' in the attribute value. This is the documented
    // price of the regex pipeline (spec-valid HTML escapes '>' in
    // attributes as &gt;; the corpus renderer always does).
    assert(r.getString(0) == "b\" class=\"c\">link text rest", s"got '${r.getString(0)}'")
    assert(r.getString(1) == "b\" class=\"c\">link text", s"got '${r.getString(1)}'")
  }

  test("html adversarial: entity decode does not cascade and is case-sensitive") {
    import spark.implicits._
    val html = "<p>&amp;lt; literal &amp;amp; &foo; &NBSP; x</p>"
    val vis = Seq(("d", html)).toDF("id", "html")
      .select(Html.visibleText(Html.dropInvisible(col("html"))).as("vis")).head().getString(0)
    // &amp; decoded LAST: double-encoded sequences come out single-decoded
    // ("&lt;" as TEXT, not "<"); unknown (&foo;) and wrong-case (&NBSP;)
    // entities pass through verbatim
    assert(vis == "&lt; literal &amp; &foo; &NBSP; x", s"got '$vis'")
  }

  test("html adversarial: unclosed <script> leaks its text (documented divergence)") {
    import spark.implicits._
    val html = "<p>keep</p><script>var x = 1; no close tag"
    val vis = Seq(("d", html)).toDF("id", "html")
      .select(Html.visibleText(Html.dropInvisible(col("html"))).as("vis")).head().getString(0)
    // dropInvisible requires a closing </script>; with none, the regex does
    // not match and the script BODY surfaces as text. A DOM parser would
    // keep it invisible (script-data state to EOF). This fixture survives
    // deliberately: handling it would need a second truncate-at-EOF pass
    // per invisible tag for a malformation the corpus renderer never emits
    // — pinned so the divergence is a choice, not a surprise.
    assert(vis == "keep var x = 1; no close tag", s"got '$vis'")
  }

  test("html property: generated well-formed docs — no tag residue, classification arithmetic, main == content blocks") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "café",
      "über", "x1", "2026", "Tom &amp; Co", "a&nbsp;b")
    val para = for {
      n <- Gen.choose(1, 12); ws <- Gen.listOfN(n, word)
    } yield s"<p>${ws.mkString(" ")}</p>"
    val navItem = word.map(w => s"<a href=\"/$w\">$w</a>")
    val nav = for {
      n <- Gen.choose(1, 4); items <- Gen.listOfN(n, navItem)
    } yield s"<nav>${items.mkString(" ")}</nav>"
    val li = word.map(w => s"<li><a href=\"#\">$w</a> $w note</li>")
    val block = Gen.frequency(5 -> para, 2 -> nav, 2 -> li,
      1 -> Gen.const("<script>var hidden = 1;</script><p>after script</p>"))
    val doc = for {
      n <- Gen.choose(2, 8); bs <- Gen.listOfN(n, block)
    } yield bs.mkString("\n")
    val docs = (1 to 40).map(i => (i.toString, sample(doc, 1000 + i)))
      .toDF("doc_id", "html")
    val blocks = Html.blocks(docs, col("html")).collect()
    for (r <- blocks) {
      val text = r.getAs[String]("text")
      // well-formed input -> zero tag residue in visible text (the corpus
      // renderer escapes '<'/'>' as entities we do not decode to brackets)
      assert(!text.contains("<") && !text.contains(">"), s"tag residue in '$text'")
      // classification is EXACTLY the published arithmetic over the
      // published constants — no hidden tuning
      val tl = r.getAs[Long]("text_len"); val ll = r.getAs[Long]("link_len")
      assert(tl == text.getBytes("UTF-8").length.toLong)
      val bp = math.floor(ll * 10000.0 / math.max(tl, 1L)).toLong
      assert(r.getAs[Long]("link_density_bp") == bp)
      assert(r.getAs[Boolean]("is_content") ==
        (tl >= Html.MinContentChars && bp <= Html.MaxLinkBp))
    }
    // mainContent == the content blocks joined in block order, per doc
    val expected = blocks.filter(_.getAs[Boolean]("is_content"))
      .groupBy(_.getAs[String]("doc_id"))
      .map { case (d, rs) =>
        d -> rs.sortBy(_.getAs[Long]("block_idx")).map(_.getAs[String]("text")).mkString("\n\n")
      }
    val got = Html.mainContent(docs, col("html"))
      .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[String]("main_text")).toMap
    assert(got == expected, "mainContent must equal ordered concat of content blocks")
  }

  test("layout reading order: 2-column page read column-major, top to bottom") {
    import spark.implicits._
    // page 0: two boxes in the left column (y 300, 100), two in the right
    // (y 50, 400) — expected order: left col by y (b2, b1), then right
    // (b3, b4); box b5 on page 1 ranks independently
    val boxes = Seq(
      ("d", 0L, 1L, 100L, 300L), ("d", 0L, 2L, 120L, 100L),
      ("d", 0L, 3L, 700L, 50L), ("d", 0L, 4L, 600L, 400L),
      ("d", 1L, 5L, 900L, 10L)
    ).toDF("doc_id", "page", "box_id", "x", "y")
    val got = Layout.readingOrder(boxes)
      .orderBy("page", "reading_rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(6)))
    assert(got.toSeq == Seq((0L, 2L, 1L), (0L, 1L, 2L), (0L, 3L, 3L), (0L, 4L, 4L), (1L, 5L, 1L)),
      got.toSeq.toString)
  }
}
