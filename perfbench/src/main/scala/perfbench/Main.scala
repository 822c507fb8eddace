package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Seeded extraction benchmark. One process runs one workload:
  *
  *   1. set-up, [[SetupReps]] times: start a `local[cpus]` session, generate
  *      the workload's docs from the seed and write them as parquet, run one
  *      warm-up pass (the median of the reps is `setup_s`); then the
  *      workload's warm passes. These passes run under the listener and
  *      give the shuffle and peak-memory metrics;
  *   2. timed passes for `--seconds`, with the listener detached: each runs
  *      the workload's job over the parquet table, materializes the full
  *      output with the noop sink and checks it against the sequential
  *      kernel oracle (`Ctx.settle` runs before each, outside its wall);
  *   3. with `--trace 1`, the traced run under the listener: plan prefixes
  *      per layer, then [[TraceReps]] traced passes of the job, each beside
  *      an untraced one; the difference of their medians is the tracing
  *      overhead.
  *
  * The last stdout line is the result JSON; with `--trace 1` the spans and
  * counters are also written to `--trace-out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --spec <workloads.json> --work <dir> [--trace-out <file>]
  *   [--gen-only --input <dir>]
  */
object Main {
  /** Set-up runs per process; its median is `setup_s`, steadier than one
    * session start. Every workload needs the same: the reps repeat work
    * that does not depend on the workload's size.
    */
  val SetupReps = 3

  /** Runs of each plan prefix and of the traced pass; the median run of each
    * is reported. Three keeps a trace run of every workload within a few
    * minutes.
    */
  val TraceReps = 3

  private val Json = new ObjectMapper()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def session(cpus: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  private def finite(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  private def unitOf(name: String): String =
    if (name == "docs_per_s") "docs/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("ratio") || name.contains("yield") || name.contains("max_over")) "ratio"
    else "count"

  /** Input fingerprint: equal lines mean two commits read identical inputs. */
  private def fingerprint(workload: String, seed: Long, ds: Array[Doc], w: Workload): ObjectNode = {
    val f = Json.createObjectNode()
      .put("workload", workload).put("seed", seed)
      .put("docs", ds.length).put("spans", ds.map(_.spans.length.toLong).sum)
      .put("bytes", Gen.bytes(ds)).put("content_sha256_96", Gen.contentDigest(ds))
    w match {
      case e: ExtractionWorkload =>
        val chunks = e.expected.map(_.chunks.toDouble).toSeq
        val (filtered, _, exact, near) = e.oracleTotals
        val total = math.max(1.0, chunks.sum)
        f.put("chunks_per_doc_p50", Stats.median(chunks))
          .put("chunks_per_doc_max", chunks.max)
          .put("chrome_dropped_frac", (chunks.sum - filtered) / total)
          .put("exact_dup_frac", exact / total)
          .put("near_dup_frac", near / total)
      case n: NearDupCorpus =>
        val o = n.oracle
        // band_sig_pairs: distinct-signature pairs sharing a band key, from
        // the input alone (the program's join rows are lsh.candidates)
        f.put("distinct_sigs", o.distinctSigs).put("doc_pairs", o.pairs)
          .put("band_sig_pairs", o.candidates)
          .put("clustered_doc_frac", o.clusteredDocs.toDouble / ds.length)
          .put("components", o.components)
    }
  }

  def main(argv: Array[String]): Unit = {
    // --flag value pairs; a flag followed by another flag (or nothing) is "true"
    val a = argv.indices.filter(argv(_).startsWith("--")).map { i =>
      argv(i) -> (if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) argv(i + 1) else "true")
    }.toMap
    val genOnly = a.contains("--gen-only")
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val traced = a.getOrElse("--trace", "0") == "1"
    val cpus = arg("--cpus").toInt
    val work = Paths.get(arg("--work")).toAbsolutePath
    val spec = Json.readTree(Files.readString(Paths.get(arg("--spec"))))
    val wspec: JsonNode = Option(spec.get("workloads").get(workload))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload: $workload"))
    val input = a.getOrElse("--input", work.resolve("input").toString)
    val vocab = Gen.vocab(spec)

    // 1. set-up, repeated; the oracle is computed once and not counted
    val t0 = System.nanoTime()
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val spans = scala.collection.mutable.ArrayBuffer.empty[SpanRec]
    // shuffle MB and peak execution memory MB of every pass run under the listener
    val shuffle = scala.collection.mutable.ArrayBuffer.empty[Double]
    val peak = scala.collection.mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    var w: Workload = null
    var ds: Array[Doc] = null
    var attempted = 0
    var failed = 0
    def counted(name: String, parent: String): Unit = {
      val (ok, _, st) = ctx.timed(name, parent)(safePass(w))
      w.cleanup()
      attempted += 1
      if (!ok) failed += 1
      shuffle += st.shuffleBytes / 1e6
      peak += st.peakMem / 1e6
    }
    for (r <- 0 until (if (genOnly) 1 else SetupReps)) {
      val s = System.nanoTime()
      def span(name: String, from: Long): Long = {
        val now = System.nanoTime()
        spans += SpanRec(s"setup.$r.$name", s"setup.$r", (from - t0) / 1e6, (now - t0) / 1e6)
        now
      }
      if (ctx != null) ctx.spark.stop()
      val spark = session(cpus, work)
      spark.sparkContext.setLogLevel("ERROR")
      val s1 = span("session", s)
      ds = Gen.docs(workload, spec, vocab, seed)
      val s2 = span("generate", s1)
      Gen.write(spark, ds, input)
      val s3 = span("write", s2)
      val probe = new Probe
      probe.attach(spark)
      ctx = new Ctx(spark, probe, input, work, t0, spans)
      w = if (w == null) Workload(workload, ctx, spec, ds) else w.rebind(ctx)
      val oracleNs = span("oracle", s3) - s3
      if (genOnly) {
        println(Json.writeValueAsString(fingerprint(workload, seed, ds, w)))
        spark.stop()
        return
      }
      counted(s"setup.$r.warmup", "setup")
      setupTimes += (System.nanoTime() - s - oracleNs) / 1e9
      ctx.spans += SpanRec(s"setup.$r", "", ctx.ms(s), ctx.ms(System.nanoTime()))
    }
    println("fingerprint " + Json.writeValueAsString(fingerprint(workload, seed, ds, w)))
    // passes until the JIT settles: checked, but neither set-up nor timed
    for (k <- 0 until wspec.get("warm_passes").asInt) counted(s"warm.$k", "warm")

    // 2. timed passes, without the listener, job groups or span records
    ctx.probe.detach(ctx.spark)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steal0 = Probe.stealSeconds()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < 1 || System.nanoTime() < end) {
      ctx.settle()
      val st0 = Probe.stealSeconds()
      val s = System.nanoTime()
      val ok = safePass(w)
      val wall = (System.nanoTime() - s) / 1e9
      System.err.println(f"pass $i wall_s=$wall%.4f steal_s=${Probe.stealSeconds() - st0}%.2f")
      w.cleanup()
      attempted += 1
      if (!ok) failed += 1
      walls += wall
      i += 1
    }
    val steal = Probe.stealSeconds() - steal0
    val untracedMedian = Stats.median(walls.toSeq)
    println(f"timed passes=$i failed=$failed median_s=$untracedMedian%.4f " +
      f"min_s=${walls.min}%.4f max_s=${walls.max}%.4f steal_s=$steal%.2f")

    // 3. traced run
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "docs_per_s" -> w.nDocs / untracedMedian,
        "shuffle_mb" -> Stats.median(shuffle.toSeq),
        "peak_exec_mem_mb" -> Stats.median(peak.toSeq),
        "setup_s" -> Stats.median(setupTimes.toSeq))
      else {
        ctx.probe.attach(ctx.spark)
        val t = try w.trace(TraceReps) catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Traced(Map.empty, ok = false, 0.0, 0.0,
              GroupStats(0, 0, Vector.empty, 0, Vector.empty), 0.0, 0.0)
        }
        attempted += 1
        if (!t.ok) failed += 1
        val tasks = t.stats.tasks
        val measured = t.layers ++ Seq(
          "spark.jobs" -> t.stats.jobs.toDouble,
          "spark.stages" -> t.stats.stages.toDouble,
          "spark.tasks" -> tasks.size.toDouble,
          "spark.exec_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
          "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
          "spark.sched_delay_s" -> tasks.map(_.schedMs).sum / 1e3,
          "spark.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
          "spark.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
          "spark.task_failures" -> tasks.count(_.failed).toDouble,
          "host.steal_s" -> t.steal,
          "trace.pass_s" -> t.wall,
          "trace.untraced_median_s" -> t.untraced,
          "trace.overhead_s" -> (t.wall - t.untraced),
          "trace.self_sum_s" -> t.selfSum,
          "trace.residual_s" -> (t.wall - t.selfSum))
        // the spec's layer table names every per-layer metric, in order
        val names = spec.get("layers").elements().asScala
          .flatMap(_.get("metrics").elements().asScala.map(_.asText)).toSeq
        val unnamed = measured.keySet -- names
        require(unnamed.isEmpty, s"metrics missing from the spec's layer table: $unnamed")
        val all = names.map(k => k -> measured.getOrElse(k, 0.0))
        a.get("--trace-out").foreach { f =>
          val out = Json.createObjectNode().put("workload", workload).put("seed", seed)
          val counters = out.putObject("counters")
          all.foreach { case (k, v) => counters.put(k, finite(v)) }
          val arr = out.putArray("spans")
          ctx.spans.foreach { s =>
            arr.addObject().put("name", s.name).put("parent", s.parent)
              .put("start_ms", s.startMs).put("end_ms", s.endMs)
          }
          Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
          Json.writerWithDefaultPrettyPrinter().writeValue(Paths.get(f).toFile, out)
        }
        all
      }
    ctx.spark.stop()
    val result = Json.createObjectNode()
      .put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, v) =>
      m.putObject(k).put("value", finite(v)).put("unit", unitOf(k))
    }
    println(Json.writeValueAsString(result))
  }

  /** A pass that throws counts as failed, like one whose output differs. */
  private def safePass(w: Workload): Boolean =
    try w.pass() catch { case NonFatal(e) => e.printStackTrace(); false }
}
