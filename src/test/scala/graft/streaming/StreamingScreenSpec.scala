package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import graft.SparkSpec

/** Streaming near-dup screen: within-batch semantics (atomic, min-id,
  * index-beats-batch), singleton-batch == strict sequential greedy vs the
  * q52 batch screen, and idempotency under micro-batch replay.
  */
class StreamingScreenSpec extends AnyFunSuite with SparkSpec {

  private val exactA = "The quick brown fox jumps over the lazy dog near the river bank today."
  private val nearA = "The quick brown fox jumps over the lazy dog near the river bank tonight."
  private val novelB = "Completely different content about distributed query processing engines."
  private val novelC = "A third document with its own unmistakably unique text payload inside."

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("screenBatch: within-batch exact/near/novel, chains match the MIN id") {
    // 1=a, 2=exact copy of 1, 3=near of 1, 9=novel; no index yet
    val out = StreamingScreen.screenBatch(
      df(1L -> exactA, 2L -> exactA, 3L -> nearA, 9L -> novelB), None)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(3))).toMap
    assert(out(1L) == (None, "novel"), out.toString)
    assert(out(2L) == (Some(1L), "exact"), out.toString)
    assert(out(3L) == (Some(1L), "near"), out.toString)
    assert(out(9L) == (None, "novel"), out.toString)
  }

  test("screenBatch: an index match beats a same-batch match at equal distance") {
    import spark.implicits._
    val idx = graft.ops.Splits.sigTable(df(50L -> exactA), 5)
    // 100 and 101 both exact-match index doc 50 AND each other; the index
    // match must win even though 100 < 50 is false and 100 < 101 is true
    val out = StreamingScreen.screenBatch(
      df(100L -> exactA, 101L -> exactA), Some(idx))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(3), r.getBoolean(4))).toMap
    assert(out(100L) == ((50L, "exact", false)), out.toString)
    assert(out(101L) == ((50L, "exact", false)), out.toString)
  }

  test("singleton micro-batches reproduce strict sequential greedy; replay is idempotent") {
    val dir = Files.createTempDirectory("screen_idx").toString + "/idx"
    val arrivals = Seq(7L -> exactA, 8L -> novelB, 9L -> exactA, 10L -> nearA,
      11L -> novelC)
    val got = mutable.Map[Long, (Option[Long], String)]()
    val sink = (v: DataFrame, _: Long) => v.collect().foreach { r =>
      got(r.getLong(0)) = (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(3))
    }
    arrivals.zipWithIndex.foreach { case ((id, text), i) =>
      StreamingScreen.processBatch(dir, 5, 6, sink)(df(id -> text), i.toLong)
    }
    assert(got(7L) == (None, "novel"), got.toString)
    assert(got(8L) == (None, "novel"), got.toString)
    assert(got(9L) == (Some(7L), "exact"), got.toString)
    assert(got(10L) == (Some(7L), "near"), got.toString)
    assert(got(11L) == (None, "novel"), got.toString)

    // strict sequential greedy via the BATCH screen agrees arrival by arrival
    var accepted = Seq(7L -> exactA)
    arrivals.drop(1).foreach { case (id, text) =>
      val r = graft.ops.Splits.incrementalNearDups(
        df(id -> text), df(accepted: _*)).collect().head
      val streamed = got(id)
      assert(streamed._2 == r.getString(3), s"doc $id: $streamed vs ${r.getString(3)}")
      if (r.getString(3) == "novel") accepted :+= (id -> text)
      else assert(streamed._1.contains(r.getLong(1)), s"doc $id matched_id")
    }

    // index holds exactly the novel docs' signatures
    val idxIds = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(7L, 8L, 11L), idxIds.toString)

    // replaying batch 1 (foreachBatch redelivery) overwrites, never doubles
    StreamingScreen.processBatch(dir, 5, 6, (_, _) => ())(df(8L -> novelB), 1L)
    val again = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(again.sorted == Seq(7L, 8L, 11L), again.toString)
  }

  test("attach: the same semantics through a real streaming query") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("screen_idx_stream").toString + "/idx"
    val got = mutable.Map[Long, String]()
    val mem = MemoryStream[RawDoc]
    val query = StreamingScreen.attach(mem.toDF(), dir) { (v, _) =>
      v.collect().foreach(r => got(r.getLong(0)) = r.getString(3))
    }.start()
    try {
      mem.addData(Seq(RawDoc(1L, exactA), RawDoc(2L, exactA)))
      query.processAllAvailable()
      mem.addData(Seq(RawDoc(3L, nearA), RawDoc(4L, novelB)))
      query.processAllAvailable()
      assert(got.toMap == Map(1L -> "novel", 2L -> "exact",
        3L -> "near", 4L -> "novel"), got.toString)
      // cross-batch: only batch-1 NOVEL sigs screened batch 2 (doc 2's
      // suppressed copy never entered the index)
      val idxIds = spark.read.parquet(dir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(1L, 4L), idxIds.toString)
    } finally query.stop()
  }
}
