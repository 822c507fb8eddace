package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import graft.SparkSpec

/** Streaming common-paragraph screen vs the q73 batch filter: the
  * documented no-recall divergence (pre-crossing occurrences stay emitted,
  * everything from the crossing batch on is dropped), atomic within-batch
  * crossing, and idempotency under micro-batch replay.
  */
class StreamingBoilerplateSpec extends AnyFunSuite with SparkSpec {

  private val banner =
    "Please accept our cookie policy before continuing to browse this website."

  private def doc(id: String): TestDoc = TestDoc(id, Seq(TestSpan("text",
    s"$banner\n\nUnique paragraph for document $id with enough padding characters to clear sixty bytes.",
    "", 0)))

  private def df(docs: TestDoc*): DataFrame = {
    import spark.implicits._
    docs.toDF()
  }

  private def keptSet(v: DataFrame): Set[(String, String)] =
    v.select("doc_id", "id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("pre-crossing occurrences stay; from the crossing batch on the norm set matches batch q73") {
    val dir = Files.createTempDirectory("bp_idx").toString + "/idx"
    val kept = mutable.Set[(String, String)]()
    val sink = (v: DataFrame, _: Long) => { kept ++= keptSet(v); () }
    // banner reaches 2 distinct docs in batch 0 (<= maxDocs=2: kept),
    // crosses to 4 in batch 1 (dropped there)
    StreamingBoilerplate.processBatch(dir, 2L, sink)(df(doc("d1"), doc("d2")), 0L)
    StreamingBoilerplate.processBatch(dir, 2L, sink)(df(doc("d3"), doc("d4")), 1L)

    val batchKept = keptSet(graft.ops.Similarity.commonParagraphFilter(
      graft.jobs.ExtractionJob.chunks(df(doc("d1"), doc("d2"), doc("d3"), doc("d4"))), 2L))
    // batch drops the banner (c0001) everywhere; unique paras (c0002) survive
    assert(batchKept == Set("d1", "d2", "d3", "d4").map(_ -> "c0002"), batchKept.toString)
    // streamed kept = batch kept + the pre-crossing banner occurrences only
    assert(kept.toSet == batchKept ++ Set("d1" -> "c0001", "d2" -> "c0001"),
      kept.toString)
  }

  test("within-batch crossing is atomic: every occurrence in the crossing batch is dropped") {
    val dir = Files.createTempDirectory("bp_idx2").toString + "/idx"
    var kept = Set.empty[(String, String)]
    StreamingBoilerplate.processBatch(dir, 2L,
      (v, _) => kept = keptSet(v))(df(doc("e1"), doc("e2"), doc("e3")), 0L)
    // 3 distinct docs > maxDocs=2 inside ONE batch: the banner goes for all
    // three, including the smallest id — batch screening is atomic
    assert(kept == Set("e1", "e2", "e3").map(_ -> "c0002"), kept.toString)
  }

  test("replaying a micro-batch overwrites its index partition instead of double-counting") {
    val dir = Files.createTempDirectory("bp_idx3").toString + "/idx"
    var kept = Set.empty[(String, String)]
    val sink = (v: DataFrame, _: Long) => { kept = keptSet(v); () }
    StreamingBoilerplate.processBatch(dir, 3L, sink)(df(doc("f1"), doc("f2")), 0L)
    // replay batch 0: cumulative distinct docs must stay 2 (<= maxDocs=3),
    // not 4 — a doubled count would flip the banner to boilerplate
    StreamingBoilerplate.processBatch(dir, 3L, sink)(df(doc("f1"), doc("f2")), 0L)
    assert(kept == Set("f1" -> "c0001", "f1" -> "c0002",
      "f2" -> "c0001", "f2" -> "c0002"), kept.toString)
  }
}
