package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Edge-case fixtures for the events operators: the exact 30-minute gap
  * boundary (must MERGE — sessions split only when gap > threshold, the
  * engine's inclusive merge, matching Events.sessionize and the
  * session_window streaming twin), single-event sessions, and both
  * resizeBatch branches (the stub dims straddle maxDim=512 since round 5,
  * so the keep branch is live on the synthetic corpus and covered by the
  * q41 oracle as well as here).
  */
class EventsSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Long, sec: Long = 0, us: Long = 0): Timestamp =
    new Timestamp(min * 60000L + sec * 1000L + us / 1000)

  test("session boundary: exactly-gap MERGES (engine's inclusive merge), gap+1us splits") {
    import spark.implicits._
    // u1: 0:00, then exactly +30:00 (must MERGE — session_window merges on
    // an inclusive boundary; the first sessionize cut split here and
    // diverged), then +30:00.001 after that (must SPLIT); u2: lone event
    val e2 = new Timestamp(ts(30).getTime)
    val e3 = new Timestamp(e2.getTime + 30 * 60000L + 1)
    val events = Seq(
      (1L, ts(0), 1L, "e", 1.0),
      (2L, e2, 1L, "e", 1.0),
      (3L, e3, 1L, "e", 1.0),
      (4L, ts(500), 2L, "e", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.sessionize(events)
      .orderBy("user_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)),
      s"expected [u1: 2-event + 1-event, u2: 1]: ${got.toSeq}")
    // and session_window agrees row for row on the same boundaries
    val sw = Events.sessionWindows(events)
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(sw.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L)), sw.toSeq.toString)
  }

  test("sessionize: a gap one microsecond under the threshold does NOT split") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(0), 1L, "e", 1.0),
      (2L, new Timestamp(ts(30).getTime - 1), 1L, "e", 1.0) // 29:59.999
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.sessionize(events).collect()
    assert(got.length == 1 && got.head.getAs[Long]("n_events") == 2L)
  }

  test("resizeBatch: keep AND scale branches are both live and both correct") {
    import spark.implicits._
    // payload construction mirrors Multimodal.mediaTable; 100 refs make the
    // deterministic stub dims land on BOTH sides of maxDim=512 (the former
    // 640/480 dim bases made the keep branch dead on every stub payload)
    val media = (1 to 100).map(i => ("m1", s"img_m1_$i.png")).toDF("doc_id", "media_ref")
      .withColumn("payload", encode(concat(lit("IMGDATA:"), col("media_ref"),
        lit(":"), repeat(lit("x"), 64)), "UTF-8"))
    val rows = Multimodal.resizeBatch(media, maxDim = 512).collect()
    assert(rows.length == 100)
    var keepN = 0
    var scaleN = 0
    for (r <- rows) {
      val (w, h) = (r.getAs[Long]("width"), r.getAs[Long]("height"))
      val (ow, oh) = (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))
      if (math.max(w, h) <= 512) { // keep branch: untouched
        keepN += 1
        assert(ow == w && oh == h, s"keep branch scaled $w x $h -> $ow x $oh")
      } else { // scale branch: aspect preserved within integer floor
        scaleN += 1
        assert(math.max(ow, oh) <= 512)
        // same fold order as the operator/oracle: floor(dim * 512.0 / max),
        // NOT floor(dim * (512.0 / max)) — the latter rounds differently
        val m = math.max(w, h).toDouble
        assert(ow == math.floor(w * 512.0 / m).toLong && oh == math.floor(h * 512.0 / m).toLong)
      }
    }
    assert(keepN > 0 && scaleN > 0,
      s"both when-branches must be live on stub dims (keep=$keepN scale=$scaleN)")
    // maxDim above every stub dim -> keep branch everywhere
    val all = Multimodal.resizeBatch(media, maxDim = 4000).collect()
    for (r <- all) {
      assert(r.getAs[Long]("out_w") == r.getAs[Long]("width"))
      assert(r.getAs[Long]("out_h") == r.getAs[Long]("height"))
    }
  }

  test("asofJoin: inclusive at equal ts, latest-prior wins, no-prior is null, users isolated, one exchange") {
    import spark.implicits._
    // u1 purchases at 10:00 (id 100) and 20:00 (id 101); probes at 05:00
    // (no prior -> null), 10:00 (EQUAL ts -> inclusive match 100), 15:00
    // (-> 100), 25:00 (-> latest prior 101). u2 has no purchases at all;
    // its probe must NOT see u1's builds.
    val events = Seq(
      (100L, ts(10), 1L, "purchase", 5.0),
      (101L, ts(20), 1L, "purchase", 7.0),
      (1L, ts(5), 1L, "click", 0.0),
      (2L, ts(10), 1L, "view", 0.0),
      (3L, ts(15), 1L, "click", 0.0),
      (4L, ts(25), 1L, "error", 0.0),
      (5L, ts(15), 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.asofJoin(events)
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    assert(got.toSeq == Seq(
      (1L, -1L, -1L),                  // before any purchase
      (2L, 100L, 0L),                  // equal-ts inclusive, zero lag
      (3L, 100L, 5L * 60000000L),      // 5 min in micros
      (4L, 101L, 5L * 60000000L),      // latest prior, not first
      (5L, -1L, -1L)                   // other user: isolated
    ), got.toSeq.toString)

    // equal-ts build tie: two purchases at the same instant -> the larger
    // event_id (last in the total order) wins deterministically
    val tie = Seq(
      (200L, ts(10), 1L, "purchase", 1.0),
      (201L, ts(10), 1L, "purchase", 2.0),
      (9L, ts(11), 1L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val t = Events.asofJoin(tie).collect()
    assert(t.length == 1 && t(0).getLong(4) == 201L, t.mkString)

    // scale contract: ONE exchange (the user_id hash partitioning), no
    // join operator at all in the plan
    val plan = Events.asofJoin(events).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("rangeJoin: inclusive bounds, bucket-edge pairs found, overlap is many-to-many, no nested loop") {
    import spark.implicits._
    val hourUs = 3600000000L
    // u1: purchase at 0:00 (id 100) and 0:30 (id 101 — windows overlap);
    // clicks at 0:00 (boundary start), 0:45 (inside BOTH windows),
    // exactly +1h after 100 (inclusive end), +1h1us after 101 (outside).
    // u2: click inside u1's window times — must NOT match (isolation).
    val afterHour = new Timestamp(ts(0).getTime + 3600000L)          // = 100 + 1h exactly
    val outside = new Timestamp(ts(30).getTime + 3600000L + 1)       // 101 + 1h + 1ms
    val events = Seq(
      (100L, ts(0), 1L, "purchase", 1.0),
      (101L, ts(30), 1L, "purchase", 1.0),
      (1L, ts(0), 1L, "click", 0.0),
      (2L, ts(45), 1L, "click", 0.0),
      (3L, afterHour, 1L, "click", 0.0),
      (4L, outside, 1L, "click", 0.0),
      (5L, ts(45), 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.rangeJoin(events)
      .select("probe_id", "build_id", "delta_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 100L, 0L),                       // at window start, delta 0
      (2L, 100L, 45L * 60000000L),          // in both windows...
      (2L, 101L, 15L * 60000000L),          // ...many-to-many
      (3L, 100L, hourUs),                   // exactly +1h: inclusive end
      (3L, 101L, 30L * 60000000L)
      // click 4 (1ms past 101's window, 90min past 100's) and click 5
      // (other user) match nothing
    ), got.toString)

    // plan: a (user_id, bucket) equi-join only — no nested loop, no cartesian
    val plan = Events.rangeJoin(events).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(3000))
  }

  test("propsMetrics: typed JSON projection; malformed/missing k degrades to null, not failure") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(0), 1L, "a", 1.0, """{"k": 10}"""),
      (2L, ts(1), 1L, "a", 1.0, """{"k": 32}"""),
      (3L, ts(2), 2L, "a", 1.0, """not json at all"""), // malformed -> null k
      (4L, ts(3), 2L, "b", 1.0, """{"other": 5}"""),    // well-formed, no k
      (5L, ts(4), 3L, "b", 1.0, """{"k": -7}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.propsMetrics(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    // "a": 3 events (malformed row still counts), k aggregates over {10, 32}
    assert(got("a") == ((3L, Some(42L), Some(10L))), got.toString)
    // "b": 2 events, k aggregates over {-7} alone (missing k is null)
    assert(got("b") == ((2L, Some(-7L), Some(-7L))), got.toString)
  }
}
