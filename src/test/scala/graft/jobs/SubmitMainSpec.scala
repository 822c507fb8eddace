package graft.jobs

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Render}
import graft.table.SnapshotTable
import graft.SparkSpec

/** CLI parsing (flag/positional mixing), the directory sinks' content and
  * job attribution, and the reference's single-FILE artifact contract
  * (result.md / chunks_raw.jsonl / dedupe_report.json —
  * cmd/pipeline/main.go:231,259,276).
  */
class SubmitMainSpec extends AnyFunSuite with SparkSpec {

  test("parse: flags and positionals mix without slot misassignment") {
    val a = SubmitMain.parse(Array("--emit-report", "/sf", "/out", "64"))
    assert(a.emitReport && a.sfDir == "/sf" && a.out == "/out")
    assert(a.buckets == 64, "third positional is buckets even after a flag")
    assert(a.maxPerRun == Int.MaxValue)

    val b = SubmitMain.parse(Array("/sf", "/out", "8", "2", "3"))
    assert(b.sfDir == "/sf" && b.out == "/out" && b.buckets == 8 &&
      b.maxPerRun == 2 && b.replicate == 3)

    val c = SubmitMain.parse(Array("--sf-dir", "/sf", "--out", "/out",
      "--dedupe-method", "both", "--window", "9"))
    assert(c.sfDir == "/sf" && c.pipeline.dedupe.method == "both" &&
      c.pipeline.dedupe.window == 9)

    intercept[IllegalArgumentException] {
      SubmitMain.parse(Array("/sf", "/out", "8", "2", "3", "junk"))
    }
  }

  private val sfDir = "/root/testdata/sf0.001"

  /** The sf0.001 corpus committed once, with a title and chunk ids so the
    * Markdown options reach the sink, and the report on.
    */
  private lazy val committed: (SubmitMain.Args, DataFrame) =
    commit(Files.createTempDirectory("subsinks").toString)

  private def commit(out: String): (SubmitMain.Args, DataFrame) = {
    val cfg = ExtractionJob.PipelineConfig(markdownTitle = "Pinned", includeChunkIds = true)
    val args = SubmitMain.Args(sfDir = sfDir, out = out, buckets = 4, pipeline = cfg,
      emitReport = true)
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, d => ExtractionJob.dedupWith(d, cfg), out, args.buckets)
    (args, docs)
  }

  /** `sink` and `twin` hold the same rows over `cols`, as multisets. */
  private def sameRows(name: String, sink: DataFrame, twin: DataFrame, cols: String*): Unit = {
    def rows(df: DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("\u0000")).toSeq
    val (a, b) = (rows(sink), rows(twin))
    assert(a.nonEmpty, s"$name is empty")
    assert(a.size == b.size, s"$name: ${a.size} rows, its twin ${b.size}")
    assert(a == b, s"$name differs from its twin, first at ${a.zip(b).find(p => p._1 != p._2)}")
  }

  test("every sink equals its per-row twin on the sf0.001 corpus") {
    sinkParity(committed)
  }

  test("every sink equals its per-row twin with a file: URI root") {
    val root = Files.createTempDirectory("subsinksuri")
    val (args, docs) = commit(root.toUri.toString.stripSuffix("/"))
    assert(args.out.startsWith("file:/"), args.out)
    sinkParity((args, docs))
    // the artifacts land under the root too, not in a relative ./file: dir
    SubmitMain.writeArtifacts(args)
    val artifacts = root.resolve("artifacts")
    for (f <- Seq("result_md", "chunks_raw.jsonl", "dedupe_report.json"))
      assert(Files.exists(artifacts.resolve(f)), s"no $f under $artifacts")
    assert(!Files.exists(Paths.get("file:")), "the artifacts went to a relative ./file: dir")
  }

  test("an out root of another scheme fails before any Spark job, naming the scheme") {
    // nothing listens on localhost:1, so a read of the table before the
    // check would fail with a connection error, not this one
    val args = SubmitMain.Args(sfDir = sfDir, out = "hdfs://localhost:1/graft-out")
    val e = intercept[IllegalArgumentException](SubmitMain.writeArtifacts(args))
    assert(e.getMessage.contains("hdfs:"), e.getMessage)
    assert(!Files.exists(Paths.get("hdfs:")), "a relative ./hdfs: dir was created")
  }

  test("SubmitMain's default buckets commit at most 8 files, and read lists no files in a job") {
    val out = Files.createTempDirectory("subfiles").toString
    val args = SubmitMain.Args(sfDir = sfDir, out = out)
    assert(args.buckets == 32)
    SnapshotTable.runResumable(Corpus.docsTable(spark, sfDir),
      d => ExtractionJob.dedupWith(d, args.pipeline), out, args.buckets)
    val files = Files.walk(Paths.get(out, "data")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(files > 0 && files <= 8, s"one run committed $files data files")

    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    @volatile var marker = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("read-table") =>
            jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
          case Some("read-marker") => marker = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("read-table", "read")
      SnapshotTable.read(out)
      sc.setJobGroup("read-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!marker && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker, "listener never saw the marker job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.isEmpty, s"read launched jobs: ${jobs.asScala.mkString("; ")}")
  }

  private def sinkParity(committed: (SubmitMain.Args, DataFrame)): Unit = {
    val (args, docs) = committed
    val cfg = args.pipeline
    val out = args.out
    SubmitMain.writeSinks(args)

    sameRows("output_spans", spark.read.parquet(s"$out/output_spans"),
      ExtractionJob.outputSpans(docs, cfg.dedupe), "doc_id", "kind", "text", "media_ref", "order")
    sameRows("final_md", spark.read.parquet(s"$out/final_md"),
      ExtractionJob.markdown(docs, cfg), "doc_id", "markdown")
    sameRows("chunks_jsonl", spark.read.json(s"$out/chunks_jsonl"),
      Render.jsonlProjection(ExtractionJob.filteredChunks(docs, cfg)),
      "doc_id", "id", "text", "index", "len")

    // the report has a row per doc with a chunk past the chrome filter;
    // metrics also lists docs whose every chunk was chrome
    val report = spark.read.json(s"$out/report_json")
    val metrics = ExtractionJob.metrics(docs, cfg.dedupe).filter(col("input_count") > 0)
      .select(col("doc_id"), col("input_count").as("input_chunks"), col("kept_count").as("kept"),
        col("dropped_count").as("dropped"), col("exact_dups"), col("near_dups"))
    sameRows("report_json", report, metrics,
      "doc_id", "input_chunks", "kept", "dropped", "exact_dups", "near_dups")
    assert(report.agg(sum("dropped")).head().getLong(0) > 0,
      "the corpus drops no chunk, so the report's drop counts are not pinned")
  }

  test("every result_md artifact equals its doc's kernel Markdown on the sf0.001 corpus") {
    val (args, docs) = committed
    SubmitMain.writeArtifacts(args)
    val mdDir = Paths.get(args.out, "artifacts", "result_md")
    val files = Files.list(mdDir).iterator().asScala.map(p =>
      p.getFileName.toString.stripSuffix(".md") -> Files.readString(p)).toMap
    val twin = ExtractionJob.markdown(docs, args.pipeline).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(twin.nonEmpty, "the corpus renders no Markdown")
    assert(files.keySet == twin.keySet,
      s"${files.size} artifacts for ${twin.size} rendered docs")
    val differs = twin.keys.toSeq.sorted.find(id => files(id) != twin(id))
    assert(differs.isEmpty, s"artifact differs from ExtractionJob.markdown at doc $differs")
  }

  test("every sink job carries the caller's job group, description and scheduler pool") {
    val (args, _) = committed
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String, String)]()
    @volatile var markers = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        def prop(k: String) = Option(p).map(_.getProperty(k)).orNull
        if (prop("spark.jobGroup.id") == "sinks-marker") markers += 1
        else seen.add((prop("spark.jobGroup.id"), prop("spark.job.description"),
          prop("spark.scheduler.pool")))
      }
    }
    sc.addSparkListener(listener)
    try {
      // two calls under two groups: threads kept from the first call (a
      // shared or global pool) would carry its properties into the second;
      // the marker job after each call flushes the listener
      for (call <- 1 to 2) {
        seen.clear()
        sc.setJobGroup(s"sinks-$call", s"sink writes $call")
        sc.setLocalProperty("spark.scheduler.pool", s"pool-$call")
        SubmitMain.writeSinks(args)
        sc.setJobGroup("sinks-marker", "marker")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 30000000000L
        while (markers < call && System.nanoTime() < deadline) Thread.sleep(10)
        assert(markers == call, "listener never saw the marker job")
        val jobs = seen.asScala.toSeq
        assert(jobs.size >= 4, s"call $call: ${jobs.size} jobs for four sinks")
        assert(jobs.forall(_ == ((s"sinks-$call", s"sink writes $call", s"pool-$call"))),
          s"call $call: jobs ran as ${jobs.distinct}")
      }
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.removeSparkListener(listener)
    }
  }

  test("single-doc corpus produces the reference's artifact tree (names + shapes)") {
    // build a 1-doc sf dir: docsTable only needs documents.parquet(doc_id, text)
    import spark.implicits._
    val sfDir = Files.createTempDirectory("sf1doc").toString
    Seq(("7", "A modest paragraph of source text that is comfortably long enough to chunk."))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")

    val out = Files.createTempDirectory("subout").toString
    val args = SubmitMain.Args(sfDir = sfDir, out = out, buckets = 2)
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs,
      d => ExtractionJob.dedupWith(d, args.pipeline), out, args.buckets)
    SubmitMain.writeSinks(args)
    SubmitMain.writeArtifacts(args)

    // exact reference artifact names at the artifacts root
    val md = Paths.get(out, "artifacts", "result.md")
    val jsonl = Paths.get(out, "artifacts", "chunks_raw.jsonl")
    val report = Paths.get(out, "artifacts", "dedupe_report.json")
    assert(Files.exists(md), "single-doc corpus writes ONE result.md")
    assert(Files.exists(jsonl) && Files.exists(report))

    // result.md: reference finalize contract — title header, single trailing \n
    val mdTxt = Files.readString(md)
    assert(mdTxt.startsWith("# Extracted Notes\n\n"))
    assert(mdTxt.endsWith("\n") && !mdTxt.endsWith("\n\n"))

    // chunks_raw.jsonl: one JSON object per line, Go's sorted key order
    val lines = Files.readAllLines(jsonl)
    assert(!lines.isEmpty)
    assert(lines.asScala.forall(l => l.startsWith("{\"id\":") && l.contains("\"index\":") &&
      l.contains("\"len\":") && l.contains("\"text\":")))

    // dedupe_report.json: the reference's exact key set (report.go:13-31)
    val rep = Files.readString(report)
    for (k <- Seq("input_images", "input_chunks", "kept_chunks", "dropped_chunks",
        "exact_duplicates", "near_duplicates", "config", "dropped", "timestamp"))
      assert(rep.contains("\"" + k + "\""), s"report must carry key $k")
    assert(rep.contains("\"simhash_k\": 5") && rep.contains("\"window\": 250"))

    // stats are consistent with the committed table
    val table = SnapshotTable.read(out)
    val kept = table.filter(col("kept")).count()
    assert(rep.contains(s""""kept_chunks": $kept"""))
  }

  test("distributed per-doc tree is byte-identical to the driver-loop tree (2-doc corpus)") {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("sf2doc").toString
    Seq(
      ("3", "First document body with a paragraph long enough to survive the chunker."),
      ("9", "Second document body, also comfortably beyond the minimum chunk length."))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val out = Files.createTempDirectory("subout2").toString
    val args = SubmitMain.Args(sfDir = sfDir, out = out, buckets = 2)
    SnapshotTable.runResumable(Corpus.docsTable(spark, sfDir),
      d => ExtractionJob.dedupWith(d, args.pipeline), out, args.buckets)

    // small-corpus contract: driver loop writes result_md/<doc_id>.md
    SubmitMain.writeArtifacts(args)
    // scale contract: docLimit forced below nDocs -> distributed partitionBy
    SubmitMain.writeArtifacts(args, docLimit = 1L)

    for (docId <- Seq("3", "9")) {
      val driver = Files.readString(Paths.get(out, "artifacts", "result_md", s"$docId.md"))
      val partDir = Paths.get(out, "artifacts", "result_md_dist", s"doc_id=$docId")
      val parts = Files.list(partDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"expected one text part for doc $docId, got $parts")
      val dist = Files.readString(parts.head)
      assert(dist == driver, s"doc $docId: distributed tree diverges from driver tree")
    }
  }

  /** An sf dir whose documents.parquet holds `rows` of (doc_id, text),
    * committed as a table under a fresh out dir.
    */
  private def committedOf(rows: (String, String)*): SubmitMain.Args = {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("sfrows").toString
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$sfDir/documents.parquet")
    val args = SubmitMain.Args(sfDir = sfDir, out = Files.createTempDirectory("subrows").toString,
      buckets = 2, emitReport = true)
    SnapshotTable.runResumable(Corpus.docsTable(spark, sfDir),
      d => ExtractionJob.dedupWith(d, args.pipeline), args.out, args.buckets)
    args
  }

  test("two input rows with one doc_id fail the Markdown sink, naming the doc_id") {
    // both rows keep chunks from kept_order 0, so one doc_id group would
    // interleave two documents into one Markdown file
    val args = committedOf(
      "7" -> "The first document has one paragraph long enough to survive the chunker.",
      "7" -> "A second, unrelated document body that is also beyond the minimum length.")
    val e = intercept[Exception](SubmitMain.writeSinks(args))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("doc_id 7")), messages.mkString("\n"))
  }

  test("dedupe_report.json parses as JSON and equals the committed table") {
    import com.fasterxml.jackson.databind.ObjectMapper
    // the repeated paragraph is dropped as an exact duplicate, so its
    // preview carries a quote, a backslash, a tab and U+0001 into the report
    val odd = "A paragraph with a \"quote\", a reverse\\solidus, a\ttab and \u0001 a control char."
    val args = committedOf(
      "1" -> s"$odd\n\nAn ordinary paragraph that keeps the document above the minimum.\n\n$odd",
      "2" -> "Another document with a paragraph long enough to survive the chunker.")
    SubmitMain.writeArtifacts(args)
    val rep = new ObjectMapper().readTree(
      Paths.get(args.out, "artifacts", "dedupe_report.json").toFile)

    val table = SnapshotTable.read(args.out)
    val st = table.agg(count(lit(1)), count_if(col("kept")), count_if(!col("kept")),
      count_if(col("reason") === "exact_duplicate"),
      count_if(col("reason") === "near_duplicate")).head
    val counts = Seq("input_chunks", "kept_chunks", "dropped_chunks", "exact_duplicates",
      "near_duplicates").map(rep.get(_).asLong)
    assert(counts == (0 to 4).map(st.getLong), s"report $counts, table $st")
    assert(rep.get("config").get("simhash_k").asInt == args.pipeline.dedupe.simHashK)

    def orEmpty(s: String) = Option(s).getOrElse("")
    val dropped = rep.get("dropped").elements().asScala.map(d =>
      (d.get("ChunkID").asText, d.get("Reason").asText, d.get("MatchedChunkID").asText,
        d.get("Distance").asLong, d.get("Preview").asText)).toSeq
    val twin = table.filter(!col("kept")).orderBy("doc_id", "idx")
      .select("id", "reason", "matched_id", "distance", "preview").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), orEmpty(r.getString(2)),
        r.getInt(3).toLong, orEmpty(r.getString(4))))
    assert(dropped == twin)
    assert(dropped.exists(_._5 == odd), s"no dropped preview carries the odd chars: $dropped")
  }
}
