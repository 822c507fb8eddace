package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.kernel._
import graft.ops.Corpus

/** Property-based span-sequence equality: RANDOM adversarial documents
  * (unicode whitespace, CRLF, chrome lines, near-duplicate paragraphs,
  * empty/short spans) and hand-picked adversarial rows (null/empty spans,
  * null span text, all-chrome docs, duplicate doc_ids) through the full
  * distributed pipeline must equal the sequential kernel, row for row. The round-2 Unicode-TrimSpace divergence
  * was exactly the class of bug a generator finds and example tests miss.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {

  // no scalatest-scalacheck bridge in the offline cache: drive Gen directly
  // with FIXED seeds — deterministic, replayable, still generator-powered
  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))


  private val wordGen = Gen.oneOf(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "café", "über", "naïve", "żółć", "日本語", "कखग", "wifi", "battery",
    "12", "34pm", "100", "résumé")
  private val sepGen = Gen.oneOf(" ", "  ", "\t", " ", " ", " \r ")
  private val lineGen = for {
    n <- Gen.choose(1, 14)
    ws <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(n, sepGen)
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString.trim
  private val paraGen = for {
    n <- Gen.choose(1, 4)
    ls <- Gen.listOfN(n, lineGen)
    crlf <- Gen.oneOf("\n", "\r\n")
  } yield ls.mkString(crlf)
  private val docGen = for {
    n <- Gen.choose(1, 10)
    ps <- Gen.listOfN(n, paraGen)
    dupAt <- Gen.choose(0, math.max(0, n - 1))
    withDup <- Gen.oneOf(true, false)
    blanks <- Gen.oneOf("\n\n", "\n\n\n", "\n \n", "\r\n\r\n")
  } yield (if (withDup) ps :+ ps(dupAt) else ps).mkString(blanks)

  test("property: distributed pipeline == sequential kernel on random documents") {
    import spark.implicits._
    // a batch of generated docs per pass keeps Spark job count sane
    for (seed <- 1L to 8L) {
      val texts = sample(Gen.listOfN(24, docGen), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (s"p$i", t) }
      val frame = docs.toDF("doc_id", "t")
        .select(col("doc_id"), array(struct(
          lit("text").as("kind"), col("t").as("text"),
          lit("").as("media_ref"), lit(0).as("offset"))).as("spans"))
      val got = jobs.ExtractionJob.outputSpans(frame)(spark)
        .collect().map(r => (r.getString(0), (r.getString(2), r.getLong(4))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).map(_._1).toSeq).toMap
      for ((docId, t) <- docs) {
        val chunks = TextKernel.chunkText(t, Corpus.MinChunkChars)
        val filtered = TextKernel.filterChrome(
          chunks, TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
        val expected = DedupeKernel.dedupe(filtered, DedupeConfig()).kept.map(_.text)
        val actual = got.getOrElse(docId, Seq.empty)
        assert(actual == expected,
          s"seed $seed: mismatch for generated doc $docId: ${t.take(120).replace("\n", "\\n")}")
      }
    }
  }

  test("adversarial rows: each input row equals the per-row kernel oracle") {
    import spark.implicits._
    import graft.streaming.{TestDoc, TestSpan}
    val para = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    val chrome = "wifi battery charging wifi battery charging wifi battery charging"
    def text(t: String, offset: Int) = TestSpan("text", t, "", offset)
    val rows = Seq(
      TestDoc("null-spans", null),
      TestDoc("empty-spans", Seq.empty),
      TestDoc("null-text", Seq(text(para, 2), TestSpan("text", null, "", 1),
        text(s"$para lima mike", 0), text(para, 3))),
      TestDoc("all-chrome", Seq(text(chrome, 0), text(chrome.toUpperCase, 1))),
      // one doc_id, two rows: two documents, each deduped on its own (a
      // regroup on doc_id would merge them under colliding chunk ids)
      TestDoc("dup-id", Seq(text(para, 0), text(chrome, 1))),
      TestDoc("dup-id", Seq(text(para, 0), text(para.toUpperCase, 1))))
    val frame = rows.toDF()

    // per row: offset-ordered span texts (null texts skipped) joined by
    // blank lines, then the kernel; null spans are no document at all
    val oracle = rows.flatMap { d =>
      Option(d.spans).map { spans =>
        val raw = spans.sortBy(_.offset).flatMap(s => Option(s.text)).mkString("\n\n")
        val chunks = TextKernel.chunkText(raw, Corpus.MinChunkChars)
        val filtered = TextKernel.filterChrome(
          chunks, TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
        (d.doc_id, chunks.size, DedupeKernel.dedupe(filtered, DedupeConfig()))
      }
    }

    val spans = jobs.ExtractionJob.outputSpans(frame)(spark)
      .select("doc_id", "text", "order").as[(String, String, Long)].collect().sorted.toSeq
    assert(spans == oracle.flatMap { case (id, _, r) =>
      r.kept.zipWithIndex.map { case (c, i) => (id, c.text, i.toLong) }
    }.sorted)

    val dedup = jobs.ExtractionJob.dedup(frame)(spark)
      .select("doc_id", "id", "kept", "reason", "matched_id")
      .as[(String, String, Boolean, String, String)].collect().sorted.toSeq
    assert(dedup == oracle.flatMap { case (id, _, r) =>
      r.kept.map(c => (id, c.id, true, "", "")) ++
        r.dropped.map(x => (id, x.chunkId, false, x.reason, x.matchedChunkId))
    }.sorted)

    val metrics = jobs.ExtractionJob.metrics(frame)(spark)
      .select("doc_id", "n_chunks", "n_chrome_dropped", "input_count", "kept_count",
        "dropped_count")
      .as[(String, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(metrics == oracle.collect { case (id, n, r) if n > 0 =>
      val st = r.stats
      (id, n.toLong, (n - st.inputCount).toLong, st.inputCount.toLong, st.keptCount.toLong,
        st.droppedCount.toLong)
    }.sorted)
    // premises: the cases above are really exercised
    assert(spans.count(_._1 == "dup-id") == 2 && metrics.exists(_._1 == "all-chrome"))
    assert(!spans.exists(_._1.endsWith("-spans")))
  }

  test("property: fused normalize == regex chain on random strings") {
    import spark.implicits._
    val junkGen = Gen.listOfN(40, Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.oneOf(" ", "\t", "\n", "\r", ".", "!", "%"),
      Gen.oneOf("é", "Ω", "ß", "٣", "７", "𝔘", "😀", " ", "　")))
      .map(_.mkString)
    for (seed <- 1L to 8L) {
      val ss = sample(Gen.listOfN(60, junkGen), seed)
      val rows = ss.toDF("s")
        .select(col("s"), ops.Exprs.normCol(col("s")).as("a"),
          ops.SpecTwins.normColRegex(col("s")).as("b"))
        .as[(String, String, String)].collect()
      val bad = rows.filter { case (s, fused, chain) =>
        fused != chain || TextKernel.normalize(s) != chain }
      assert(rows.length == ss.length)
      assert(bad.isEmpty, s"seed $seed: " + bad.take(3).mkString("; "))
    }
  }
}
