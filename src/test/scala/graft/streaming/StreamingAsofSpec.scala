package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

final case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming as-of enrichment: equals the batch operator row-for-row over
  * event-time-ordered micro-batches; cross-batch state carries the latest
  * build event; a late out-of-order build replay never regresses state.
  */
class StreamingAsofSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("streamed == batch over event-time-ordered batches; state crosses batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // the q65 fixture split into two event-time-ordered batches; the
    // purchase at 10:00 must enrich a probe arriving TWO BATCHES later
    val batch1 = Seq(
      RawEvent(1L, ts(5), 1L, "click", 0.0),        // before any purchase
      RawEvent(100L, ts(10), 1L, "purchase", 5.0),
      RawEvent(2L, ts(10), 1L, "view", 0.0))        // equal-ts, same batch
    val batch2 = Seq(
      RawEvent(3L, ts(15), 1L, "click", 0.0),       // cross-batch state hit
      RawEvent(5L, ts(15), 2L, "click", 0.0))       // user 2: no purchases
    val batch3 = Seq(
      RawEvent(101L, ts(20), 1L, "purchase", 7.0),
      RawEvent(4L, ts(25), 1L, "error", 0.0))       // latest prior = 101

    val mem = MemoryStream[RawEvent]
    val query = StreamingAsof.enrich(mem.toDF()).writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      Seq(batch1, batch2, batch3).foreach { b =>
        mem.addData(b); query.processAllAvailable()
      }
      val streamed = spark.sql(
        "SELECT event_id, asof_id, lag_us FROM asof_stream").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

      val batch = graft.ops.Events.asofJoin(
        (batch1 ++ batch2 ++ batch3).toDF())
        .select("event_id", "asof_id", "lag_us").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(streamed.contains((2L, 100L, 0L)), "equal-ts inclusive in-batch")
      assert(streamed.contains((3L, 100L, 5L * 60000000L)), "cross-batch state")
      assert(streamed.contains((5L, -1L, -1L)), "user isolation")
    } finally query.stop()
  }

  test("a late replay of an OLD build event does not regress the state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val mem = MemoryStream[RawEvent]
    val query = StreamingAsof.enrich(mem.toDF()).writeStream
      .format("memory").queryName("asof_replay").outputMode("append").start()
    try {
      mem.addData(Seq(RawEvent(200L, ts(50), 1L, "purchase", 9.0)))
      query.processAllAvailable()
      // out-of-order replay of an older purchase, then a probe: the state
      // must still be 200 (ts 50), not the stale 199 (ts 10)
      mem.addData(Seq(RawEvent(199L, ts(10), 1L, "purchase", 1.0),
        RawEvent(9L, ts(60), 1L, "click", 0.0)))
      query.processAllAvailable()
      val got = spark.sql("SELECT event_id, asof_id FROM asof_replay")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((9L, 200L)), got.toString)
    } finally query.stop()
  }
}
