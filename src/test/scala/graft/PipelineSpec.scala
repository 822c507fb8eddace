package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernel._
import graft.ops._
import graft.jobs.ExtractionJob

/** The BASELINE.json per-row invariant suite: the distributed pipeline's
  * output span sequence (kind, text, media_ref, order) must equal, row by
  * row per document, the sequence computed by the SEQUENTIAL oracle — the
  * pure kernel applying the reference's semantics doc by doc.
  */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Source (doc_id, text) rows. */
  lazy val sourceDocs: Seq[(String, String)] = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Sequential oracle: the full reference pipeline per doc via the kernel. */
  def oraclePipeline(docId: String, text: String,
      config: DedupeConfig = DedupeConfig()): DedupeResult = {
    val raw = SpecTwins.rawTextLocal(docId, text)
    val chunks = TextKernel.chunkText(raw, Corpus.MinChunkChars)
    val filtered = TextKernel.filterChrome(
      chunks, TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
    DedupeKernel.dedupe(filtered, config)
  }

  test("span-sequence equality: distributed pipeline == sequential oracle, row by row") {
    val docs = Corpus.docsTable(spark, sfDir)
    val got = ExtractionJob.outputSpans(docs)(spark)
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._4)).toMap

    assert(got.size == sourceDocs.size, "one output group per doc")
    for ((docId, text) <- sourceDocs) {
      val expected = oraclePipeline(docId, text).kept.zipWithIndex.map {
        case (c, i) => ("text", c.text, "", i.toLong)
      }
      val actual = got.getOrElse(docId, Array.empty).toSeq
      assert(actual == expected, s"span sequence mismatch for doc $docId")
    }
  }

  test("dropped audit: distributed == sequential oracle (reason, match, distance)") {
    val docs = Corpus.docsTable(spark, sfDir)
    val got = ExtractionJob.dedup(docs)(spark)
      .filter(!col("kept"))
      .select("doc_id", "id", "reason", "matched_id", "distance", "preview")
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3), r.getInt(4), r.getString(5))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap

    for ((docId, text) <- sourceDocs) {
      val expected = oraclePipeline(docId, text).dropped
        .map(d => (d.chunkId, d.reason, d.matchedChunkId, d.distance, d.preview))
        .sortBy(_._1)
      assert(got.getOrElse(docId, Seq.empty) == expected, s"dropped mismatch for doc $docId")
    }
  }

  test("chunker transform == kernel chunkText per doc") {
    val docs = Corpus.docsTable(spark, sfDir)
    val got = ExtractionJob.chunks(docs)
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._4).toSeq).toMap
    for ((docId, text) <- sourceDocs) {
      val expected = TextKernel
        .chunkText(SpecTwins.rawTextLocal(docId, text), Corpus.MinChunkChars)
        .map(c => (c.id, c.text, c.norm, c.index.toLong))
      assert(got.getOrElse(docId, Seq.empty) == expected, s"chunks mismatch for doc $docId")
    }
  }

  test("exact-dedup window transform == kernel exactHashDedupe per doc") {
    val gotKept = Queries.queries("q05_a1_exact_kept")(spark, sfDir)
      .select("doc_id", "id").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    for ((docId, text) <- sourceDocs.take(100)) {
      val raw = SpecTwins.rawTextLocal(docId, text)
      val chunks = TextKernel.filterChrome(
        TextKernel.chunkText(raw, Corpus.MinChunkChars),
        TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
      val (kept, _) = DedupeKernel.exactHashDedupe(chunks)
      assert(gotKept.getOrElse(docId, Seq.empty) == kept.map(_.id).sorted,
        s"exact kept mismatch for doc $docId")
    }
  }

  test("markdown render == kernel renderMarkdown + finalize per doc") {
    val got = Queries.queries("q08_a3_markdown")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((docId, text) <- sourceDocs.take(100)) {
      val raw = SpecTwins.rawTextLocal(docId, text)
      val chunks = TextKernel.filterChrome(
        TextKernel.chunkText(raw, Corpus.MinChunkChars),
        TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
      val (keptChunks, _) = DedupeKernel.exactHashDedupe(chunks)
      val expected = TextKernel.finalizeMarkdown(
        TextKernel.renderMarkdown("", keptChunks, includeChunkIDs = true))
      assert(got(docId) == expected, s"markdown mismatch for doc $docId")
    }
  }

  test("banded LSH self-join == brute-force hamming pairs (exact recall for threshold < bands)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val sigRows = docs
      .select(col("doc_id"), Exprs.simhash64(Exprs.normCol(col("text")), 5).as("sig"))
      .as[(String, Long)].collect()
    val threshold = 6
    val expected = (for {
      (a, sa) <- sigRows
      (b, sb) <- sigRows
      if a < b && Hashing.hammingDistance(sa, sb) <= threshold
    } yield (a, b, Hashing.hammingDistance(sa, sb))).toSet
    val sigs = sigRows.toSeq.toDF("doc_id", "sig")
    val got = LshDedup.nearDupPairs(sigs, threshold).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == expected, s"LSH pairs != brute force (got ${got.size}, want ${expected.size})")
  }

  test("nearDupPairs rejects a negative threshold") {
    import spark.implicits._
    val sigs = Seq(("a", 0L), ("b", 1L)).toDF("doc_id", "sig")
    val e = intercept[IllegalArgumentException](LshDedup.nearDupPairs(sigs, -1))
    assert(e.getMessage.contains(">= 0"))
  }

  test("nearDupPairs == brute-force hamming as multisets: each pair exactly once (thresholds 0-7)") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // Spark orders string ids by their UTF-8 bytes; least/greatest follow it
    def below(x: String, y: String) =
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
    def sharedBands(x: Long, y: Long) =
      (0 until LshDedup.Bands).count(b => ((x ^ y) >>> (b * LshDedup.BandBits) & 0xFF) == 0)
    val names = Vector("doc", "café", "日本語", "𝔘𝔫𝔦", "naïve", "z")
    for (threshold <- 0 to 7) {
      val rnd = new scala.util.Random(threshold)
      // variants of a few seeds, each with one bit flipped in 0-7 of its
      // bytes: two variants of a seed share every band neither flipped (1
      // to 8 bands when within range), and every seed appears three times
      val sigList = Seq.fill(3)(rnd.nextLong()).flatMap { s =>
        Seq(s, s, s) ++ Seq.fill(12)(rnd.shuffle((0 until 8).toList).take(rnd.nextInt(8))
          .foldLeft(s)((x, byte) => x ^ (1L << (byte * 8 + rnd.nextInt(8)))))
      }
      val rows = sigList.zipWithIndex.map { case (s, i) => (s"${names(i % names.size)}$i", s) }
      val want = (for {
        i <- rows.indices
        j <- rows.indices if i < j
        ((x, sx), (y, sy)) = (rows(i), rows(j))
        d = Hashing.hammingDistance(sx, sy) if d <= threshold
      } yield if (below(x, y)) (x, y, d) else (y, x, d)).sorted
      if (threshold > 0) assert(rows.exists { case (_, sx) => rows.exists { case (_, sy) =>
        sx != sy && Hashing.hammingDistance(sx, sy) <= threshold && sharedBands(sx, sy) > 1 } },
        s"fixture at threshold $threshold has no pair of distinct sigs sharing two bands")
      val got = LshDedup.nearDupPairs(rows.toDF("doc_id", "sig"), threshold).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
      assert(got.length == got.distinct.length, s"threshold $threshold: a pair is emitted twice")
      assert(got == want, s"threshold $threshold: got ${got.size} pairs, want ${want.size}")
    }
  }

  test("nearDupPairs fails on a null doc_id; a null sig pairs with nothing") {
    import spark.implicits._
    // least/greatest skip nulls: unchecked, (null, b) came out as (b, b)
    val nullId = Seq((null: String, 0L), ("b", 1L)).toDF("doc_id", "sig")
    val e = intercept[Exception](LshDedup.nearDupPairs(nullId, 6).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("null doc_id")), e.toString)
    val nullSig = Seq(("a", Some(0L)), ("b", None), ("c", Some(1L)), ("d", None))
      .toDF("doc_id", "sig")
    assert(LshDedup.nearDupPairs(nullSig, 6).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq == Seq(("a", "c", 1)))
  }

  test("nearDupPairs plans one aggregate, the distinct over sig, and no more exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val helper = new AdaptiveSparkPlanHelper {}
    val sigs = Seq(("a", 0L), ("b", 1L), ("c", 1L), ("d", 3L << 20), ("e", -1L)).toDF("doc_id", "sig")
    val df = LshDedup.nearDupPairs(sigs, 6)
    assert(df.collect().length == 6)
    val plan = df.queryExecution.executedPlan
    val groupings = helper.collect(plan) { case a: BaseAggregateExec => a.groupingExpressions.map(_.name) }
    val exchanges = helper.collect(plan) { case e: Exchange => e }
    // the band join's output is already hash-partitioned by sig_a, so a
    // distinct over the pairs adds an aggregate but no exchange: the
    // exchange count alone cannot catch one
    assert(groupings.nonEmpty && groupings.forall(_ == Seq("sig")), s"$groupings\n$plan")
    assert(exchanges.size == 4, plan.toString)
  }

  test("natural-sort key column reproduces kernel naturalSort ordering") {
    import spark.implicits._
    val names = Seq(
      "IMG_9.jpg", "IMG_10.jpg", "IMG_2.png", "0001.jpg", "a.jpg", "1.jpg",
      "a1.jpg", "a2.jpg", "a10.jpg", "a.x", "a1x", "ab1", "a1", "x",
      "img_10_2.jpg", "img_9_11.png", "img_9_2.png", "café1.png", "café10.png",
      "99999999999999999999999.png", "123.png")
    val expected = TextKernel.naturalSort(names)
    val got = names.toDF("name")
      .orderBy(Exprs.naturalKey(col("name")))
      .collect().map(_.getString(0)).toSeq
    assert(got == expected)
  }

  test("ANN brute-force top-k matches driver-side exact computation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for ((qid, qe) <- emb.take(25)) yield {
      val neighbors = emb.filter(_._1 != qid)
        .map { case (nid, ne) => (nid, math.floor(cos(qe, ne) * 10000).toLong) }
        .sortBy { case (nid, bp) => (-bp, nid) }
        .take(10)
      qid -> neighbors.map(_._1).toSeq
    }).toMap
    val got = Similarity.annBruteForceTopK(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), 10)
      .filter(col("query_id") < 25 || col("query_id").isin(expected.keys.toSeq.map(Long.box): _*))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    for ((qid, exp) <- expected)
      assert(got(qid) == exp, s"top-k mismatch for query $qid")
  }

  test("config variants match oracle: window=1, method=both, method=exact") {
    val docs = Corpus.docsTable(spark, sfDir)
    for (cfg <- Seq(
        DedupeConfig(window = 1),
        DedupeConfig(method = "both"),
        DedupeConfig(method = "exact"),
        DedupeConfig(simHashThreshold = 12, window = 0))) {
      val got = ExtractionJob.dedup(docs, cfg)(spark)
        .filter(col("kept")).select("doc_id", "id")
        .collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      for ((docId, text) <- sourceDocs.take(60)) {
        val expected = oraclePipeline(docId, text, cfg).kept.map(_.id).sorted
        assert(got.getOrElse(docId, Seq.empty) == expected,
          s"kept mismatch for doc $docId with config $cfg")
      }
    }
  }

  test("accented span survives the 60-BYTE filter on the distributed path") {
    val docs = Corpus.docsTable(spark, sfDir)
    val accent = ExtractionJob.chunks(docs)
      .filter(col("text") === Corpus.AccentPara)
    // 51 chars < 60: a char-length rule would drop it in every doc;
    // 68 bytes >= 60: the reference byte rule keeps it in every doc
    assert(accent.count() == sourceDocs.size.toLong)
  }

  test("chunk ids widen past 9,999 like the kernel's c%04d") {
    import spark.implicits._
    val n = 10001
    val text = (1 to n)
      .map(i => f"paragraph $i%05d of one long document, padded past the sixty-byte minimum")
      .mkString("\n\n")
    val docs = Seq(("wide", text)).toDF("doc_id", "t")
      .select(col("doc_id"), array(struct(
        lit("text").as("kind"), col("t").as("text"),
        lit("").as("media_ref"), lit(0).as("offset"))).as("spans"))
    val got = ExtractionJob.chunks(docs).orderBy("idx").select("id").as[String].collect().toSeq
    val expected = TextKernel.chunkText(text, Corpus.MinChunkChars).map(_.id)
    assert(expected.length == n && expected.last == "c10001")
    assert(got.distinct.length == n, "every chunk keeps its own id")
    assert(got == expected)
  }

  test("q10 staged names widen past 9,999 like the reference's %04d") {
    import spark.implicits._
    val refs = (1 to 10001).map(i => s"img_$i.png")
    val docs = Seq(streaming.TestDoc("many",
      refs.zipWithIndex.map { case (r, i) => streaming.TestSpan("media", "", r, i) })).toDF()
    val got = Queries.stagedNames(docs).select("media_ref", "staged")
      .as[(String, String)].collect().toMap
    val expected = TextKernel.naturalSort(refs).zipWithIndex
      .map { case (r, i) => r -> TextKernel.stagedName(r, i) }.toMap
    assert(got.values.toSet.size == refs.size, "every media span keeps its own name")
    assert(got == expected)
  }

  test("large-document skew: a 100x doc stays correct (north_rule skew surface)") {
    import spark.implicits._
    // one pathological doc with 300 paragraphs next to two 3-paragraph docs
    // — per-doc dedup work is bounded by chunks*window and placement is
    // salted at the table-write level, but the CORRECTNESS of the greedy
    // scan on a deep doc (window wraps, survivor renumbering) is what this
    // pins against the sequential kernel
    // paragraphs must be lexically DISTANT, not just distinct: near-identical
    // strings ("number 7" vs "number 8") legitimately near-dup under simhash
    // (first version of this test proved that the hard way), so each index
    // draws 12 words from a 43-word vocabulary by coprime stride
    val vocab = ("archive beacon cipher dynamo ember fulcrum glacier harbor isotope " +
      "jigsaw keystone lattice meridian nebula obelisk pylon quarry rampart summit " +
      "tundra umbra vertex wharf xenon yonder zephyr anchor bastion cobalt delta " +
      "ensign fathom gantry helix ingot javelin krypton lumen mantle nimbus onyx " +
      "prism quill").split(" ")
    def para(tag: String, i: Int) =
      s"unique $tag paragraph $i " +
        (0 until 12).map { j =>
          // hash-mixed pick: a sliding-window pick made CONSECUTIVE
          // paragraphs share 10/12 words and the whole corpus self-near-
          // dupped under simhash (first version of this test); mixing
          // decorrelates paragraphs to ~3 shared words in random positions
          val h = (i * 2654435761L + j * 40503L + (i.toLong * j * 7919L)) >>> 7
          vocab((h % vocab.length).toInt)
        }.mkString(" ")
    // window-boundary probes must be NEAR duplicates (hamming in (0, 6]) —
    // byte-identical repeats are caught by the UNWINDOWED exact pre-pass
    // (dedupe dispatcher: exact then simhash on survivors), so only
    // near-dups exercise the window. Premises are CHECKED, not assumed:
    def sig(s: String) = Hashing.simhash64(TextKernel.normalize(s), 5)
    def nearOf(base: String, avoid: Seq[String]): String = {
      // single-character substitutions perturb only ~k byte-grams, which is
      // what keeps the simhash within the threshold
      val candidates = (base.length / 2 until base.length)
        .filter(p => base(p).isLetter && base(p) != 'q').map(p => base.updated(p, 'q'))
      candidates.find { c =>
        val d = java.lang.Long.bitCount(sig(c) ^ sig(base))
        d > 0 && d <= 6 &&
          avoid.forall(o => java.lang.Long.bitCount(sig(c) ^ sig(o)) > 6)
      }.getOrElse(fail(s"no usable near-dup mutation for '${base.take(30)}'"))
    }
    val paras = (1 to 280).map(para("big", _))
    // near-dup of para 7: at scan time ~280 chunks are kept, window=250
    // covers kept[30..280) — para 7 (kept idx 6) is OUTSIDE, and the
    // mutation is checked to be > threshold from EVERY window member
    val near7 = nearOf(para("big", 7), paras.drop(30))
    // near-dup of para 141: kept idx 140 IS inside the window -> dropped
    val near141 = nearOf(para("big", 141), Nil)
    val big = (paras ++ Seq(near7, near141)).mkString("\n\n")
    val docs = Seq(
      ("big", big),
      ("s1", (1 to 3).map(para("one", _)).mkString("\n\n")),
      ("s2", (1 to 3).map(para("two", _)).mkString("\n\n")))
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
      assert(got(docId) == expected, s"skewed-corpus mismatch for $docId")
    }
    // premise: the corpus itself must not self-near-dup, or the window
    // arithmetic below is meaningless (kept must be ~280 when near7 scans)
    assert(got("big").size >= 272,
      s"corpus unexpectedly self-deduped to ${got("big").size} — fix para()")
    // near-dup whose original fell out of the window must be KEPT
    // (full-history near-dedup would wrongly drop it); near-dup whose
    // original is still inside the window must be DROPPED
    assert(got("big").contains(near7),
      "near-dup outside the window=250 horizon must survive")
    assert(!got("big").contains(near141),
      "near-dup inside the window must be dropped")
  }

  test("metrics contract: all-chrome doc emits one row, input_count=0, dedup_rate_bp=0") {
    import org.apache.spark.sql.Row
    // one chunk that survives the 60-byte minimum but is chrome (matches
    // "wifi|battery|charging" and is < 100 bytes): every chunk of the doc
    // is dropped by the chrome filter, so the dedup kernel sees ZERO input
    val chrome = "wifi battery charging wifi battery charging wifi battery charging"
    assert(chrome.getBytes("UTF-8").length >= 60 && chrome.getBytes("UTF-8").length < 100)
    import spark.implicits._
    val docs = Seq(("allchrome", chrome)).toDF("doc_id", "t")
      .select(col("doc_id"), array(struct(
        lit("text").as("kind"), col("t").as("text"),
        lit("").as("media_ref"), lit(0).as("offset"))).as("spans"))
    val rows = ExtractionJob.metrics(docs)(spark).collect()
    assert(rows.length == 1, "one metrics row per doc that produced >= 1 chunk")
    val r = rows.head
    assert(r.getAs[Long]("n_chunks") == 1L)
    assert(r.getAs[Long]("n_chrome_dropped") == 1L)
    assert(r.getAs[Long]("input_count") == 0L)
    assert(r.getAs[Long]("boilerplate_ratio_bp") == 10000L)
    assert(r.getAs[Long]("dedup_rate_bp") == 0L, "all-chrome doc: rate is 0, not null")
  }

  test("stats invariants hold per doc: kept+dropped=input, exact+near=dropped") {
    val docs = Corpus.docsTable(spark, sfDir)
    val st = ExtractionJob.dedup(docs)(spark).groupBy(col("doc_id")).agg(
      count(lit(1)).as("input_count"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("kept_count"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped_count"),
      sum(when(col("reason") === "exact_duplicate", 1L).otherwise(0L)).as("exact_dups"),
      sum(when(col("reason") === "near_duplicate", 1L).otherwise(0L)).as("near_dups"))
    val bad = st.filter(
      col("kept_count") + col("dropped_count") =!= col("input_count") ||
        col("exact_dups") + col("near_dups") =!= col("dropped_count")).count()
    assert(bad == 0)
  }

  test("per-doc pipeline plans have no exchange: dedup, outputSpans, metrics") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    val helper = new AdaptiveSparkPlanHelper {}
    // a plain scan, so every exchange in the plan is one the pipeline adds
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), array(struct(
        lit("text").as("kind"), col("text"), lit("").as("media_ref"),
        lit(0).as("offset"))).as("spans"))
    for ((name, df) <- Seq(
        "dedup" -> ExtractionJob.dedup(docs)(spark),
        "outputSpans" -> ExtractionJob.outputSpans(docs)(spark),
        "metrics" -> ExtractionJob.metrics(docs)(spark),
        "chunks" -> ExtractionJob.chunks(docs),
        "filteredChunks" -> ExtractionJob.filteredChunks(docs),
        "markdown" -> ExtractionJob.markdown(docs, ExtractionJob.PipelineConfig()))) {
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan
      val exchanges = helper.collect(plan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$name plans an exchange:\n$plan")
    }
  }
}
