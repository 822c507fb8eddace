package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{DedupeConfig, DedupeKernel, TextKernel}
import graft.ops.{Corpus, SpecTwins}
import graft.SparkSpec

final case class TestSpan(kind: String, text: String, media_ref: String, offset: Int)
final case class TestDoc(doc_id: String, spans: Seq[TestSpan])

/** Streaming extraction against the sequential kernel oracle: feeding doc
  * rows through the Structured Streaming path (two separate micro-batches)
  * must produce exactly the kernel's output spans per document. (The
  * stream runs the batch pipeline's own per-document code, so comparing the
  * two would prove nothing.)
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming output spans == kernel oracle spans (2 micro-batches)") {
    import spark.implicits._

    val docs = Corpus.docsTable(spark, sfDir).limit(60).as[TestDoc].collect().toSeq
    assert(docs.size == 60)

    // offset 0 carries the source document text the corpus is built from
    val expected = docs.flatMap { d =>
      val raw = SpecTwins.rawTextLocal(d.doc_id, d.spans.find(_.offset == 0).get.text)
      val filtered = TextKernel.filterChrome(
        TextKernel.chunkText(raw, Corpus.MinChunkChars),
        TextKernel.defaultChromePatterns, Corpus.ChromeMaxLength)
      DedupeKernel.dedupe(filtered, DedupeConfig()).kept.zipWithIndex.map { case (c, i) =>
        (d.doc_id, "text", c.text, "", i.toLong)
      }
    }.toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[TestDoc]
    val out = StreamingExtraction.outputSpans(mem.toDF())
    val query = out.writeStream.format("memory").queryName("spans_stream")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(25)
      mem.addData(first)
      query.processAllAvailable()
      val mid = spark.sql("SELECT COUNT(*) FROM spans_stream").head().getLong(0)
      assert(mid > 0 && mid < expected.size, "first micro-batch is a strict subset")
      mem.addData(second)
      query.processAllAvailable()
      val got = spark.sql("SELECT doc_id, kind, text, media_ref, order FROM spans_stream")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
      assert(got == expected, "streamed spans must equal the kernel oracle's spans")
    } finally query.stop()
  }

  test("windowed event metrics: streamed with watermark == batch, window by window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val src = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq.sortBy(_._1)
    val expected = graft.ops.Events.windowedCounts(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val out = graft.ops.Events.windowedCounts(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      watermark = Some("10 minutes"))
    // APPEND mode: a window is only emitted once the watermark passes its
    // end — the real guarantee a production sink needs (each window row is
    // final, exactly once), which "complete" mode would not exercise
    val query = out.writeStream.format("memory").queryName("events_stream")
      .outputMode("append").start()
    try {
      val (first, second) = src.splitAt(src.size / 2)
      mem.addData(first)
      query.processAllAvailable()
      mem.addData(second)
      query.processAllAvailable()
      // sentinel events 2h+ past the last real event advance the watermark
      // beyond every real window's end; the extra micro-batches give the
      // engine the trigger it needs to finalize and emit them
      val maxTs = src.map(_._2.getTime).max
      val sentinel = (Long.MaxValue, new java.sql.Timestamp(maxTs + 2 * 3600 * 1000L),
        0L, "sentinel", 0.0)
      mem.addData(Seq(sentinel))
      query.processAllAvailable()
      mem.addData(Seq(sentinel.copy(_2 = new java.sql.Timestamp(maxTs + 3 * 3600 * 1000L))))
      query.processAllAvailable()

      // n_users_approx rides the stream because the HLL++ sketch merges
      // order-independently (register-wise max) — so the streamed estimate
      // must EQUAL the batch estimate per window, not just approximate it
      val got = spark.sql(
          "SELECT hour_ts, event_type, n_events, value_cents, n_users_approx FROM events_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .filter(_._2 != "sentinel").toSet
      assert(got == expected, s"streamed windows must equal batch windows " +
        s"(got ${got.size}, expected ${expected.size})")
    } finally query.stop()
  }

  test("sessionize (relational, oracled) == session_window (engine-managed) on membership") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val manual = graft.ops.Events.sessionize(events)
      .select("user_id", "start_us", "n_events", "value_cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val builtin = graft.ops.Events.sessionWindows(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(manual == builtin,
      s"gap>=30min boundary must match session_window membership (${manual.size} vs ${builtin.size})")
  }

  test("sessions: streamed session_window with watermark == batch, session by session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val src = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq.sortBy(_._1)
    val expected = graft.ops.Events.sessionWindows(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val out = graft.ops.Events.sessionWindows(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      watermark = Some("10 minutes"))
    val query = out.writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      val (first, second) = src.splitAt(src.size / 2)
      mem.addData(first)
      query.processAllAvailable()
      mem.addData(second)
      query.processAllAvailable()
      val maxTs = src.map(_._2.getTime).max
      val sentinelUser = -1L
      mem.addData(Seq((Long.MaxValue, new java.sql.Timestamp(maxTs + 2 * 3600 * 1000L),
        sentinelUser, "sentinel", 0.0)))
      query.processAllAvailable()
      mem.addData(Seq((Long.MaxValue - 1, new java.sql.Timestamp(maxTs + 3 * 3600 * 1000L),
        sentinelUser, "sentinel", 0.0)))
      query.processAllAvailable()

      val got = spark.sql(
          "SELECT user_id, start_us, n_events, value_cents FROM sessions_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 != sentinelUser).toSet
      assert(got == expected, s"streamed sessions must equal batch sessions " +
        s"(got ${got.size}, expected ${expected.size})")
    } finally query.stop()
  }
}
