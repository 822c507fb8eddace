package graft.jobs

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.ops.{Corpus, Render}
import graft.table.SnapshotTable

/** spark-submit entry point: explicit doc_id-salted repartitioning,
  * Iceberg snapshot-based checkpointing so a killed run resumes at
  * partition granularity, and per-partition lineage recorded in the
  * snapshot manifests (each commit's per-bucket doc/row counts and task
  * time, counted by the write itself; [[SnapshotTable.metrics]] reads them
  * back from the manifest chain). Carries the reference CLI's full knob
  * surface (cmd/pipeline/main.go:64-96).
  *
  * Usage:
  *   spark-submit --class graft.jobs.SubmitMain <jar> \
  *     --sf-dir <dir> --out <root> [--buckets 32] [--max-buckets-per-run N]
  *     [--replicate 1] [--dedupe-method exact|simhash|both] [--simhash-k 5]
  *     [--simhash-threshold 6] [--window 250] [--min-chunk-chars 60]
  *     [--chrome-regex <pattern>] [--markdown-title <t>]
  *     [--include-chunk-ids] [--emit-chunks-jsonl | --no-emit-chunks-jsonl]
  *     [--emit-report]
  *
  * The resumable table materializes the FULL dedup audit frame (kept +
  * dropped rows); every sink (output spans, final markdown, chunks JSONL,
  * report) is then derived by READING BACK the committed parquet — the
  * expensive pipeline runs exactly once per bucket across any number of
  * kills/resumes, and sink derivation is a cheap scan. The sinks are
  * written as concurrent Spark jobs; if one fails, others may already be
  * written, and since each is an `Overwrite`, a rerun rewrites them all.
  *
  * Re-running after a kill resumes from the last committed snapshot.
  */
object SubmitMain {

  /** Cap for the driver-side single-file artifact writers (writeArtifacts):
    * above this many docs the per-doc markdown tree switches to the
    * DISTRIBUTED partitionBy(doc_id) sink — the reference contract targets
    * single-document runs, and a driver-side per-doc file loop must never
    * become the bottleneck of a corpus-scale job.
    */
  val ArtifactDocLimit = 100000L

  final case class Args(
      sfDir: String = "",
      out: String = "",
      buckets: Int = 32,
      maxPerRun: Int = Int.MaxValue,
      replicate: Int = 1,
      pipeline: ExtractionJob.PipelineConfig = ExtractionJob.PipelineConfig(),
      emitReport: Boolean = false)

  private[jobs] def parse(argv: Array[String]): Args = {
    var a = Args()
    var cfg = a.pipeline
    var dd = cfg.dedupe
    var i = 0
    // positional args get their own counter — keying off the absolute argv
    // index silently misassigned values as soon as any flag preceded them
    var pos = 0
    def next(): String = { i += 1; argv(i) }
    while (i < argv.length) {
      argv(i) match {
        case "--sf-dir" => a = a.copy(sfDir = next())
        case "--out" => a = a.copy(out = next())
        case "--buckets" => a = a.copy(buckets = next().toInt)
        case "--max-buckets-per-run" => a = a.copy(maxPerRun = next().toInt)
        case "--replicate" => a = a.copy(replicate = next().toInt)
        case "--dedupe-method" => dd = dd.copy(method = next())
        case "--simhash-k" => dd = dd.copy(simHashK = next().toInt)
        case "--simhash-threshold" => dd = dd.copy(simHashThreshold = next().toInt)
        case "--window" => dd = dd.copy(window = next().toInt)
        case "--min-chunk-chars" => cfg = cfg.copy(minChunkChars = next().toInt)
        // reference appends ONE custom pattern to the defaults; last flag
        // wins, mirroring the plain flag.String there (main.go:76, 92-96)
        case "--chrome-regex" =>
          cfg = cfg.copy(chromePatterns =
            graft.kernel.TextKernel.defaultChromePatterns :+ next())
        case "--markdown-title" => cfg = cfg.copy(markdownTitle = next())
        case "--include-chunk-ids" => cfg = cfg.copy(includeChunkIds = true)
        // boolean pair mirroring the reference's flag.Bool default-true knob
        // (-emit-chunks-jsonl=false there): default is ON, so the opt-OUT
        // flag is the one that actually changes behavior
        case "--emit-chunks-jsonl" => cfg = cfg.copy(emitChunksJsonl = true)
        case "--no-emit-chunks-jsonl" => cfg = cfg.copy(emitChunksJsonl = false)
        case "--emit-report" => a = a.copy(emitReport = true)
        // legacy positional form: <sfDir> <outRoot> [buckets] [maxPerRun] [replicate]
        case v if !v.startsWith("--") =>
          pos match {
            case 0 => a = a.copy(sfDir = v)
            case 1 => a = a.copy(out = v)
            case 2 => a = a.copy(buckets = v.toInt)
            case 3 => a = a.copy(maxPerRun = v.toInt)
            case 4 => a = a.copy(replicate = v.toInt)
            case _ => throw new IllegalArgumentException(s"unexpected positional arg: $v")
          }
          pos += 1
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
      i += 1
    }
    a.copy(pipeline = cfg.copy(dedupe = dd.validated))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(args.sfDir.nonEmpty && args.out.nonEmpty, "--sf-dir and --out are required")
    artifactsDir(args.out) // a root the artifacts cannot reach fails before any job

    implicit val spark: SparkSession = SparkSession.builder()
      .appName("graft-extraction")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Corpus.docsTable(spark, args.sfDir, args.replicate)
    val t0 = System.nanoTime()
    val ran = SnapshotTable.runResumable(
      docs, d => ExtractionJob.dedupWith(d, args.pipeline),
      args.out, args.buckets, args.maxPerRun)
    val sec = (System.nanoTime() - t0) / 1e9

    val done = SnapshotTable.completedBuckets(args.out)
    println(s"[graft] completed buckets this run: ${ran.toSeq.sorted.mkString(",")}")
    println(f"[graft] cumulative: ${done.size}/${args.buckets} buckets, $sec%.1fs")
    if (done.size == args.buckets) {
      writeSinks(args)
      writeArtifacts(args)
      import spark.implicits._
      val m = SnapshotTable.metrics(args.out).as[SnapshotTable.BucketLineage].collect()
      println(s"[graft] table complete: ${m.map(_.n_docs).sum} docs, " +
        s"${m.map(_.n_rows).sum} audit rows")
    }
    spark.stop()
  }

  /** The reference's SINGLE-FILE artifact contract — the output tree a user
    * of the reference actually diffs against (cmd/pipeline/main.go:231,259,276):
    *
    *   <out>/artifacts/result.md            one Markdown file (single-doc
    *                                        corpus; multi-doc corpora write
    *                                        result_md/<doc_id>.md each,
    *                                        since the reference is a
    *                                        one-document-per-run tool)
    *   <out>/artifacts/chunks_raw.jsonl     one JSONL file, records
    *                                        {"id","index","len","text"} in
    *                                        Go's sorted-key order
    *                                        (text.go:166-215)
    *   <out>/artifacts/dedupe_report.json   one JSON report with the
    *                                        reference's exact key set
    *                                        (report.go:13-31)
    *
    * Content is derived from the committed snapshot table (read-back, no
    * pipeline re-execution) and STREAMED through toLocalIterator — bounded
    * driver memory, never a full collect. This is deliberately the
    * small-corpus contract; the scale sinks are the parquet/json directory
    * writers in [[writeSinks]].
    */
  def writeArtifacts(args: Args, docLimit: Long = ArtifactDocLimit)(
      implicit spark: SparkSession): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = artifactsDir(args.out)
    val cfg = args.pipeline
    val dd = cfg.dedupe
    Files.createDirectories(dir)
    val table = SnapshotTable.read(args.out)
    val kept = table.filter(col("kept"))

    // result.md (reference result.md, main.go:276; WriteMarkdown text.go:249-279)
    val nDocs = table.select("doc_id").distinct().count()
    val md = Render.markdown(kept.withColumn("idx", col("kept_order")),
      cfg.markdownTitle, includeChunkIds = cfg.includeChunkIds)
    if (nDocs > docLimit) {
      // the single-FILE tree is the small-corpus contract; above the cap
      // the per-doc .md surface is written DISTRIBUTED instead of skipped:
      // partitionBy(doc_id) fans the same markdown out as
      // result_md_dist/doc_id=<id>/part-*.txt, executor-parallel, no
      // driver-side per-doc loop. Byte parity with the driver tree: the
      // markdown always ends in exactly one '\n' (TextKernel.finalizeMarkdown
      // contract) which the text sink re-appends per row, so the value is
      // written with its trailing newline stripped. Locked by
      // SubmitMainSpec's parity test.
      println(s"[graft] $nDocs docs > $docLimit: writing the per-doc tree " +
        "distributed (artifacts/result_md_dist, partitioned by doc_id); " +
        "chunks JSONL + report remain in the parquet/json directory sinks")
      md
        // \z (end of INPUT) not $ (which also matches before a final line
        // terminator, so a value ending "\n\n" would lose two chars) — byte
        // parity must not depend on finalizeMarkdown's single-\n contract
        .select(col("doc_id"),
          regexp_replace(col("markdown"), "\\n\\z", "").as("value"))
        .write.mode(SaveMode.Overwrite).partitionBy("doc_id")
        .text(dir.resolve("result_md_dist").toString)
      return
    }
    val ordered = md.orderBy("doc_id")
    if (nDocs == 1) {
      val r = ordered.head
      Files.writeString(dir.resolve("result.md"), r.getString(1), UTF_8)
    } else {
      val mdDir = dir.resolve("result_md")
      Files.createDirectories(mdDir)
      ordered.toLocalIterator().asScala.foreach { r =>
        Files.writeString(mdDir.resolve(s"${r.getString(0)}.md"), r.getString(1), UTF_8)
      }
    }

    // chunks_raw.jsonl (main.go:231; record shape text.go:187-198 — Go
    // marshals a map, so keys come out sorted: id, index, len, text)
    if (cfg.emitChunksJsonl) {
      val lines = Render.jsonlProjection(table.select("doc_id", "id", "text", "norm", "idx"))
        .orderBy("doc_id", "index")
        // struct field order == Go's sorted map keys (id, index, len, text)
        .select(to_json(struct(col("id"), col("index"), col("len"), col("text"))).as("line"))
      val w = Files.newBufferedWriter(dir.resolve("chunks_raw.jsonl"), UTF_8)
      try lines.toLocalIterator().asScala.foreach { r => w.write(r.getString(0)); w.write("\n") }
      finally w.close()
    }

    // dedupe_report.json (main.go:259; report.go:13-31 key set; dropped
    // entries carry DroppedChunk's Go field names — no json tags there)
    // count_if, not a sum of 0/1: over zero rows a sum is null, a count 0
    val st = table.agg(
      count(lit(1)).as("input"),
      count_if(col("kept")).as("kept"),
      count_if(!col("kept")).as("dropped"),
      count_if(col("reason") === "exact_duplicate").as("exact"),
      count_if(col("reason") === "near_duplicate").as("near")).head
    val nImages = Corpus.docsTable(spark, args.sfDir, args.replicate)
      .select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media").count()
    val droppedIt = table.filter(!col("kept")).orderBy("doc_id", "idx")
      .select(col("id"), col("reason"), col("matched_id"),
        col("distance").cast("long").as("distance"), col("preview"))
      .toLocalIterator().asScala
    // a JSON string literal; null is written as "", Go's zero value
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def str(s: String): String = json.writeValueAsString(Option(s).getOrElse(""))
    val w = Files.newBufferedWriter(dir.resolve("dedupe_report.json"), UTF_8)
    try {
      w.write("{\n")
      w.write(s"""  "input_images": $nImages,\n""")
      w.write(s"""  "input_chunks": ${st.getLong(0)},\n""")
      w.write(s"""  "kept_chunks": ${st.getLong(1)},\n""")
      w.write(s"""  "dropped_chunks": ${st.getLong(2)},\n""")
      w.write(s"""  "exact_duplicates": ${st.getLong(3)},\n""")
      w.write(s"""  "near_duplicates": ${st.getLong(4)},\n""")
      w.write(s"""  "config": {"method": ${str(dd.method)}, "simhash_k": ${dd.simHashK}, """ +
        s""""simhash_threshold": ${dd.simHashThreshold}, "window": ${dd.window}},\n""")
      w.write("  \"dropped\": [")
      var first = true
      droppedIt.foreach { r =>
        if (!first) w.write(",")
        first = false
        w.write(s"""\n    {"ChunkID": ${str(r.getString(0))}, "Reason": ${str(r.getString(1))}, """ +
          s""""MatchedChunkID": ${str(r.getString(2))}, """ +
          s""""Distance": ${r.getLong(3)}, "Preview": ${str(r.getString(4))}}""")
      }
      w.write(if (first) "],\n" else "\n  ],\n")
      w.write(s"""  "timestamp": "${java.time.ZonedDateTime.now().format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)}"\n""")
      w.write("}\n")
    } finally w.close()
  }

  /** `<out>/artifacts` as a local path. The artifact writers do driver-side
    * java.nio IO, so `out` must be a plain path or a `file:` URI, which both
    * name the local dir the table is written to; any other scheme is
    * rejected here, before any Spark job.
    */
  private[jobs] def artifactsDir(out: String): java.nio.file.Path = {
    val uri = new org.apache.hadoop.fs.Path(out).toUri
    Option(uri.getScheme) match {
      case None | Some("file") => java.nio.file.Paths.get(uri.getPath, "artifacts")
      case Some(scheme) => throw new IllegalArgumentException(
        s"--out $out: the artifacts are written to a local dir, so the root must be a " +
          s"plain path or a file: URI, not $scheme:")
    }
  }

  /** Derive the reference's file sinks from the COMMITTED dedup table
    * (read-back, no pipeline re-execution): output spans, final markdown
    * (text.go:249-279), chunks JSONL (text.go:166-215), report JSON
    * (report.go:34-72, dropped list as deterministic digest).
    *
    * The sinks are built over one read of the table and written as
    * concurrent Spark jobs ([[Bridge.concurrently]]): each is a small scan,
    * so a sequence of them would wait on per-job driver latency, not on
    * work. If one sink fails, the others may already be written; every
    * sink is `Overwrite`, so a rerun rewrites them all.
    */
  def writeSinks(args: Args)(implicit spark: SparkSession): Unit = {
    val cfg = args.pipeline
    val table = SnapshotTable.read(args.out)

    val kept = table.filter(col("kept"))
    val spans = kept.select(col("doc_id"), lit("text").as("kind"), col("text"),
      lit("").as("media_ref"), col("kept_order").as("order"))

    val md = Render.markdown(
      kept.withColumn("idx", col("kept_order")),
      cfg.markdownTitle, includeChunkIds = cfg.includeChunkIds)

    // the audit frame holds EVERY filtered chunk (kept + dropped), which is
    // exactly the reference's pre-dedup JSONL input set
    val jsonl = Option.when(cfg.emitChunksJsonl)(
      Render.jsonlProjection(table.select("doc_id", "id", "text", "norm", "idx")))

    val report = Option.when(args.emitReport) {
      val dd = cfg.dedupe
      val droppedEntry = when(!col("kept"),
        concat_ws("|", col("id"), col("reason"), col("matched_id"),
          col("distance").cast("string")))
      table.groupBy(col("doc_id")).agg(
          count(lit(1)).as("input_chunks"),
          count_if(col("kept")).as("kept"),
          count_if(!col("kept")).as("dropped"),
          count_if(col("reason") === "exact_duplicate").as("exact_dups"),
          count_if(col("reason") === "near_duplicate").as("near_dups"),
          md5(concat_ws(";", sort_array(collect_list(droppedEntry)))).as("dropped_digest"))
        .withColumn("method", lit(dd.method))
        .withColumn("simhash_k", lit(dd.simHashK))
        .withColumn("simhash_threshold", lit(dd.simHashThreshold))
        .withColumn("window", lit(dd.window))
        .withColumn("generated_at", current_timestamp())
    }

    Bridge.concurrently(spark)(
      Seq[() => Unit](
        () => spans.write.mode(SaveMode.Overwrite).parquet(s"${args.out}/output_spans"),
        () => md.write.mode(SaveMode.Overwrite).parquet(s"${args.out}/final_md")) ++
      jsonl.map(df => () => df.write.mode(SaveMode.Overwrite).json(s"${args.out}/chunks_jsonl")) ++
      report.map(df => () => df.write.mode(SaveMode.Overwrite).json(s"${args.out}/report_json")))
  }
}
