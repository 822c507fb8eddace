package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.{ExtractionJob, SubmitMain}
import graft.ops.{Corpus, LshDedup}
import graft.table.SnapshotTable

/** A span of the traced run: one timed call into a layer. */
final case class SpanRec(name: String, parent: String, startMs: Double, endMs: Double)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val probe: Probe, val input: String,
    val work: Path, val t0: Long, val spans: scala.collection.mutable.Buffer[SpanRec]) {
  def ms(t: Long): Double = (t - t0) / 1e6

  /** Time `body` as a span under job group `name`. */
  def timed[T](name: String, parent: String)(body: => T): (T, Double, GroupStats) = {
    val s = System.nanoTime()
    val (out, st) = probe.measure(spark, name)(body)
    val e = System.nanoTime()
    spans += SpanRec(name, parent, ms(s), ms(e))
    (out, (e - s) / 1e9, st)
  }

  def docs: DataFrame = spark.read.parquet(input)

  /** Wait out the previous pass's listener events and collect its garbage,
    * outside any timed region, so that every measured pass starts from the
    * same state.
    */
  def settle(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    System.gc()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One step of a plan-prefix chain: the frame that ends at a layer, and the
  * counters to observe on it.
  */
final case class Prefix(name: String, frame: () => DataFrame, observe: Seq[Column] = Nil)

/** The traced run's result: per-layer metrics, whether its counters and
  * outputs matched the oracle, the sum of the layer times that account for
  * the traced pass, the median traced pass's wall, counters and CPU steal,
  * and the median wall of the untraced passes run beside the traced ones.
  */
final case class Traced(layers: Map[String, Double], ok: Boolean, selfSum: Double,
    wall: Double, stats: GroupStats, steal: Double, untraced: Double)

/** A workload: its job as a checked pass, and its traced decomposition. */
abstract class Workload(var ctx: Ctx) {
  def nDocs: Int

  /** Point the workload at a restarted session; the oracle is kept. */
  def rebind(c: Ctx): Workload = { ctx = c; this }

  /** Run the job once and check its output against the oracle. */
  def pass(): Boolean

  /** Remove what a pass left behind (not timed). */
  def cleanup(): Unit = ()

  /** The traced run, with `reps` runs of each prefix and of the traced
    * pass; layers the job does not run are absent (they read 0).
    */
  def trace(reps: Int): Traced

  /** `reps` traced passes, each beside one pass with the listener detached;
    * which of the two runs first alternates, so that neither kind is the
    * warmer one. Returns the median-wall traced pass, the median untraced
    * wall and whether every untraced pass matched the oracle.
    */
  protected def interleaved[T](reps: Int)(traced: Int => T)(wall: T => Double)
      : (T, Double, Boolean) = {
    var ok = true
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    def untraced(): Unit = {
      ctx.probe.detach(ctx.spark)
      try {
        ctx.settle()
        val s = System.nanoTime()
        ok &= pass()
        plain += (System.nanoTime() - s) / 1e9
        cleanup()
      } finally ctx.probe.attach(ctx.spark)
    }
    val runs = (0 until reps).map { r =>
      if (r % 2 == 0) untraced()
      val t = traced(r)
      if (r % 2 == 1) untraced()
      t
    }
    (runs.sortBy(wall).apply(reps / 2), Stats.median(plain.toSeq), ok)
  }

  /** The job's pass as the traced pass, `reps` times beside untraced ones. */
  protected def tracedPass(layers: Map[String, Double], ok: Boolean, selfSum: Double,
      reps: Int): Traced = {
    var tracedOk = true
    val (mid, untracedWall, plainOk) = interleaved(reps) { r =>
      ctx.settle()
      val steal0 = Probe.stealSeconds()
      val (passOk, wall, st) = ctx.timed(s"traced.pass.$r", "traced")(pass())
      val steal = Probe.stealSeconds() - steal0
      cleanup()
      tracedOk &= passOk
      (wall, st, steal)
    }(_._1)
    Traced(layers, ok && plainOk && tracedOk, selfSum, mid._1, mid._2, mid._3, untracedWall)
  }

  /** Materialize every prefix `reps` times with the noop sink; per prefix the
    * median wall, the stats of the median rep and the observed counters.
    */
  protected def prefixes(chain: Seq[Prefix], reps: Int)
      : Seq[(String, Double, GroupStats, Map[String, Any])] =
    chain.map { p =>
      val runs = (0 until reps).map { r =>
        val obs = Observation(s"${p.name}.$r")
        ctx.settle()
        val (_, wall, st) = ctx.timed(s"prefix.${p.name}.$r", "trace") {
          val df = p.frame()
          ctx.noop(if (p.observe.isEmpty) df else df.observe(obs, p.observe.head, p.observe.tail: _*))
        }
        val got = if (p.observe.isEmpty) Map.empty[String, Any] else obs.get
        (wall, st, got)
      }.sortBy(_._1)
      val mid = runs(runs.length / 2)
      (p.name, mid._1, mid._2, mid._3)
    }

  /** Self time of each prefix: its median minus the previous prefix's. */
  protected def selfTimes(ps: Seq[(String, Double, GroupStats, Map[String, Any])]): Map[String, Double] =
    ps.zipWithIndex.map { case ((n, w, _, _), i) =>
      n -> (if (i == 0) w else w - ps(i - 1)._2)
    }.toMap

  protected def long(m: Map[String, Any], k: String): Long = m(k) match {
    case l: Long => l
    case i: Int => i.toLong
    case other => other.toString.toLong
  }
}

object Workload {
  def apply(name: String, ctx: Ctx, spec: JsonNode, ds: Array[Doc]): Workload = {
    val w = spec.get("workloads").get(name)
    name match {
      case "dup-heavy" => new DupHeavy(ctx, ds)
      case "short-media-commit" => new ShortMediaCommit(ctx, ds, w.get("buckets").asInt)
      case "near-dup-corpus" =>
        new NearDupCorpus(ctx, ds, w.get("simhash_k").asInt, w.get("threshold").asInt)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }
}

/** The within-doc extraction chain shared by dup-heavy and short-media. */
abstract class ExtractionWorkload(c0: Ctx, ds: Array[Doc]) extends Workload(c0) {
  val nDocs: Int = ds.length
  val expected: Array[Oracle.DocResult] = Gen.parallel(ds.length)(i => Oracle.extract(ds(i)))
  val expectedDigest: Digest.D = Oracle.spanDigest(ds, expected)

  def oracleTotals: (Long, Long, Long, Long) = (
    expected.map(_.filtered.toLong).sum, expected.map(_.kept.length.toLong).sum,
    expected.map(_.exact.toLong).sum, expected.map(_.near.toLong).sum)

  protected def extractionChain(withOutput: Boolean): Seq[Prefix] = {
    val d = ctx.docs
    Seq(
      Prefix("scan", () => d),
      Prefix("assemble", () => Corpus.assemble(d)),
      Prefix("chunks", () => ExtractionJob.chunks(d),
        Seq(count(lit(1)).as("chunks"), (max(col("idx")) + 1).as("max_per_doc"))),
      Prefix("filtered", () => ExtractionJob.filteredChunks(d), Seq(count(lit(1)).as("filtered"))),
      Prefix("dedup", () => ExtractionJob.dedup(d)(ctx.spark), Seq(
        count(lit(1)).as("input"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("reason") === "exact_duplicate", 1L).otherwise(0L)).as("exact"),
        sum(when(col("reason") === "near_duplicate", 1L).otherwise(0L)).as("near")))) ++
      (if (withOutput)
         Seq(Prefix("output", () => ExtractionJob.outputSpans(d)(ctx.spark), Digest.spanCols))
       else Nil)
  }

  /** Layer metrics of the extraction chain, and whether its counters match
    * the oracle's.
    */
  protected def extractionLayers(reps: Int, withOutput: Boolean)
      : (Map[String, Double], Boolean, Double) = {
    val ps = prefixes(extractionChain(withOutput), reps)
    val self = selfTimes(ps)
    val by = ps.map(p => p._1 -> p).toMap
    val ch = by("chunks")._4
    val fi = by("filtered")._4
    val dd = by("dedup")._4
    val (dStats, fStats) = (by("dedup")._3, by("filtered")._3)
    val (oFiltered, oKept, oExact, oNear) = oracleTotals
    val ok = long(fi, "filtered") == oFiltered && long(dd, "input") == oFiltered &&
      long(dd, "kept") == oKept && long(dd, "exact") == oExact && long(dd, "near") == oNear
    val m = Map(
      "scan.self_s" -> self("scan"),
      "corpus.assemble.self_s" -> self("assemble"),
      "chunker.self_s" -> self("chunks"),
      "chunker.chunks_per_doc.max" -> long(ch, "max_per_doc").toDouble,
      "chrome.self_s" -> self("filtered"),
      "chrome.keep_ratio" -> long(fi, "filtered").toDouble / math.max(1L, long(ch, "chunks")),
      "dedupe.self_s" -> self("dedup"),
      "dedupe.shuffle_mb" -> (dStats.shuffleBytes - fStats.shuffleBytes) / 1e6,
      "dedupe.shuffle_records" -> (dStats.shuffleRecords - fStats.shuffleRecords).toDouble,
      "dedupe.exchanges" -> (dStats.exchanges - fStats.exchanges).toDouble,
      "dedupe.keep_ratio" -> long(dd, "kept").toDouble / math.max(1L, long(dd, "input")),
      "dedupe.exact_dups" -> long(dd, "exact").toDouble,
      "dedupe.near_dups" -> long(dd, "near").toDouble,
      "dedupe.task_s.max_over_p50" -> dStats.lastStageSkew) ++
      self.get("output").map("output.self_s" -> _)
    (m, ok, ps.last._2)
  }
}

/** `ExtractionJob.outputSpans` over long, duplicate-heavy documents. */
final class DupHeavy(c0: Ctx, ds: Array[Doc]) extends ExtractionWorkload(c0, ds) {
  def pass(): Boolean = {
    val obs = Observation("digest")
    val out = ExtractionJob.outputSpans(ctx.docs)(ctx.spark)
    ctx.noop(out.observe(obs, Digest.spanCols.head, Digest.spanCols.tail: _*))
    Digest.of(obs.get) == expectedDigest
  }

  def trace(reps: Int): Traced = {
    val (m, ok, selfSum) = extractionLayers(reps, withOutput = true)
    tracedPass(m, ok, selfSum, reps)
  }
}

/** The product path: a resumable snapshot write in two legs, the sinks, and
  * a read-back of the committed output spans.
  */
final class ShortMediaCommit(c0: Ctx, ds: Array[Doc], buckets: Int)
    extends ExtractionWorkload(c0, ds) {
  private var n = 0
  private def root: Path = ctx.work.resolve(s"snapshot-$n")
  private val cfg = ExtractionJob.PipelineConfig()

  private def leg(max: Int): Set[Int] = {
    implicit val spark: SparkSession = ctx.spark
    SnapshotTable.runResumable(ctx.docs, d => ExtractionJob.dedupWith(d, cfg),
      root.toString, buckets, max)
  }
  private def leg1(): Set[Int] = leg(buckets / 2)
  private def resume(): Set[Int] = leg(Int.MaxValue)
  private def sinks(): Unit = SubmitMain.writeSinks(SubmitMain.Args(out = root.toString,
    buckets = buckets, pipeline = cfg, emitReport = true))(ctx.spark)
  private def readBack(): Digest.D =
    Digest.of(ctx.spark.read.parquet(root.resolve("output_spans").toString), Digest.spanCols)

  def pass(): Boolean = {
    n += 1
    val a = leg1()
    val b = resume()
    sinks()
    a.size == buckets / 2 && (a ++ b) == (0 until buckets).toSet && readBack() == expectedDigest
  }

  override def cleanup(): Unit = Main.deleteTree(root)

  /** One product pass timed leg by leg: its wall, leg metrics, whether it
    * matched the oracle, its counters and CPU steal.
    */
  private def legPass(r: Int): (Double, Map[String, Double], Boolean, GroupStats, Double) = {
    n += 1
    ctx.settle()
    val steal0 = Probe.stealSeconds()
    val s = System.nanoTime()
    val parent = s"traced.pass.$r"
    val (a, tLeg1, s1) = ctx.timed(s"snapshot.leg1.$r", parent)(leg1())
    val (b, tResume, s2) = ctx.timed(s"snapshot.resume.$r", parent)(resume())
    val (_, tSinks, s3) = ctx.timed(s"submit.sinks.$r", parent)(sinks())
    val (dig, tRead, s4) = ctx.timed(s"check.readback.$r", parent)(readBack())
    val e = System.nanoTime()
    ctx.spans += SpanRec(parent, "traced", ctx.ms(s), ctx.ms(e))
    val steal = Probe.stealSeconds() - steal0
    val data = Files.walk(root.resolve("data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
    val wallMs = SnapshotTable.metrics(root.toString)(ctx.spark)
      .select("wall_ms").collect().map(_.getLong(0).toDouble).toSeq
    val p50 = Stats.median(wallMs)
    val ok = a.size == buckets / 2 && (a ++ b) == (0 until buckets).toSet && dig == expectedDigest
    val committedMb = data.map(Files.size(_)).sum / 1e6
    cleanup()
    ((e - s) / 1e9, Map(
      "snapshot.leg1_s" -> tLeg1,
      "snapshot.resume_s" -> tResume,
      "snapshot.files" -> data.size.toDouble,
      "snapshot.committed_mb" -> committedMb,
      "snapshot.bucket_ms.max_over_p50" -> (if (p50 <= 0) 0.0 else wallMs.max / p50),
      "submit.sinks_s" -> tSinks,
      "check.readback_s" -> tRead), ok, s1 ++ s2 ++ s3 ++ s4, steal)
  }

  /** The traced pass is the product pass itself, timed leg by leg. The
    * extraction layers run inside the legs, so their prefix self times
    * break down the legs rather than add to them: the legs are the layer
    * times that account for the traced pass.
    */
  def trace(reps: Int): Traced = {
    val (chain, chainOk, _) = extractionLayers(reps, withOutput = false)
    var legsOk = true
    val ((wall, legs, _, st, steal), untracedWall, plainOk) = interleaved(reps) { r =>
      val run = legPass(r)
      legsOk &= run._3
      run
    }(_._1)
    val legSum = Seq("snapshot.leg1_s", "snapshot.resume_s", "submit.sinks_s", "check.readback_s")
      .map(legs).sum
    Traced(chain ++ legs, chainOk && legsOk && plainOk, legSum, wall, st, steal, untracedWall)
  }
}

/** The cross-doc chain: signatures, banded pairs, connected components and
  * the deduplicated corpus.
  */
final class NearDupCorpus(c0: Ctx, ds: Array[Doc], k: Int, threshold: Int)
    extends Workload(c0) {
  val nDocs: Int = ds.length
  val oracle: Oracle.NearDup =
    Oracle.nearDup(ds, k, threshold, LshDedup.Bands, LshDedup.BandBits)

  private def assembled(d: DataFrame) = Corpus.assemble(d)
  private def sigs(d: DataFrame) = LshDedup.docSignatures(assembled(d), k)
  private def pairs(d: DataFrame) = LshDedup.nearDupPairs(sigs(d), threshold)
  private def winners(d: DataFrame, rounds: scala.collection.mutable.Buffer[LshDedup.CcRoundStat]) =
    LshDedup.clusterWinners(pairs(d), stats = Some(rounds))
  private def deduped(d: DataFrame, w: DataFrame) =
    LshDedup.dedupedDocs(assembled(d).withColumnRenamed("raw", "text"), w)

  def pass(): Boolean = {
    val d = ctx.docs
    val obs = Observation("digest")
    val out = deduped(d, winners(d, scala.collection.mutable.Buffer.empty))
    ctx.noop(out.observe(obs, Digest.dedupedDocCols.head, Digest.dedupedDocCols.tail: _*))
    Digest.of(obs.get) == oracle.digest
  }

  def trace(reps: Int): Traced = {
    val d = ctx.docs
    val rounds = scala.collection.mutable.Buffer.empty[LshDedup.CcRoundStat]
    val ps = prefixes(Seq(
      Prefix("scan", () => d),
      Prefix("assemble", () => assembled(d)),
      Prefix("sigs", () => sigs(d)),
      Prefix("pairs", () => pairs(d), Seq(count(lit(1)).as("pairs"))),
      Prefix("cc", () => { rounds.clear(); winners(d, rounds) }),
      Prefix("deduped", () => deduped(d, winners(d, scala.collection.mutable.Buffer.empty)),
        Digest.dedupedDocCols)),
      reps)
    val self = selfTimes(ps)
    val by = ps.map(p => p._1 -> p).toMap
    val nPairs = long(by("pairs")._4, "pairs")
    // key-equal row pairs of the program's (band, band_key) join, self and
    // mirrored pairs included
    val candidates = by("pairs")._3.joins.filter(_.keys.contains("band_key"))
      .map(j => org.apache.spark.sql.perfbench.JoinCandidates(ctx.spark, j.join)).sum
    tracedPass(Map(
      "scan.self_s" -> self("scan"),
      "corpus.assemble.self_s" -> self("assemble"),
      "lsh.sigs.self_s" -> self("sigs"),
      "lsh.pairs.self_s" -> self("pairs"),
      "lsh.candidates" -> candidates.toDouble,
      "lsh.pair_yield" -> nPairs.toDouble / math.max(1L, candidates),
      "lsh.cc.self_s" -> self("cc"),
      "lsh.cc.rounds" -> rounds.size.toDouble,
      "lsh.deduped.self_s" -> self("deduped"),
      "lsh.task_s.max_over_p50" -> by("pairs")._3.lastStageSkew), nPairs == oracle.pairs,
      ps.last._2, reps)
  }
}
