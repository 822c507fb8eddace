package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** End-to-end curation-manifest capstone: one planted corpus exercises every
  * stage (short doc → structural gate, shared 8-gram → decontamination,
  * identical text → exact dedup, eval id → exclusion), and the packing
  * columns are re-derived from the surviving train stream independently.
  */
class CurationSpec extends AnyFunSuite with SparkSpec {

  private val evalGram = "alpha beta gamma delta epsilon zeta eta theta"

  private def corpus() = {
    import spark.implicits._
    val good = (1 to 30).map(i => s"word$i").mkString(" ") // ~200 chars, no punct
    Seq(
      (97L, s"held out benchmark question $evalGram end"), // eval doc (id % 97)
      (1L, good + " one"),
      (2L, good + " one"), // exact duplicate of 1 -> loses to min doc_id
      (3L, good + s" $evalGram"), // contaminated: shares the eval 8-gram
      (4L, "tiny"), // fails the length gate
      (5L, good + " five"),
      (6L, good + " six"),
      (7L, good + " seven"),
      (8L, good + " eight")).toDF("doc_id", "text")
  }

  test("each stage drops exactly its planted victim; survivors carry splits") {
    val out = Curation.manifest(corpus()).collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L, 6L, 7L, 8L), out.mkString("\n"))
    assert(out.forall(r => Set("train", "val", "test")(r.getString(1))))
    // n_tokens is the whitespace token count of the surviving text
    assert(out.filter(_.getLong(0) == 1L).head.getLong(2) == 31L)
  }

  test("train rows are packed by the doc_id-ordered prefix sum; others null") {
    val out = Curation.manifest(corpus(), budget = 7L).collect()
      .sortBy(_.getLong(0))
    var cum = 0L
    out.foreach { r =>
      if (r.getString(1) == "train") {
        assert(r.getLong(3) == cum / 7L, s"seq_id of ${r.getLong(0)}")
        assert(r.getLong(4) == cum % 7L, s"seq_offset of ${r.getLong(0)}")
        cum += r.getLong(2)
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4), s"off-train ${r.getLong(0)}")
      }
    }
    assert(out.exists(_.getString(1) == "train"), "fixture must land a train doc")
  }

  test("two distinct whitespace-only docs are NOT deduped against each other (A1 empty-norm guard)") {
    import spark.implicits._
    // both pass every gate (length >= 100, punct 0, one non-empty line,
    // no tokens so no grams) and both normalize to "" — different
    // documents, so both must survive, each with n_tokens = 0
    val docs = corpus().unionByName(
      Seq((10L, " " * 120), (11L, " " * 130)).toDF("doc_id", "text"))
    val out = Curation.manifest(docs).collect()
    val ws = out.filter(r => r.getLong(0) == 10L || r.getLong(0) == 11L)
    assert(ws.length == 2, out.mkString("\n"))
    assert(ws.forall(_.getLong(2) == 0L))
  }

  test("a doc duplicating an already-kept doc never displaces it") {
    import spark.implicits._
    val base = corpus()
    val extra = Seq((9L, (1 to 30).map(i => s"word$i").mkString(" ") + " one"))
      .toDF("doc_id", "text") // third copy of doc 1's text
    val ids = Curation.manifest(base.unionByName(extra)).collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L, 6L, 7L, 8L))
  }

  test("q76: the packed side is broadcast, so no exchange moves split rows by doc_id") {
    // the packing frame reports its measured size, so the final manifest
    // join broadcasts it at plan time instead of shuffling both sides
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val out = graft.SparkEntry.queries("q76_curation_manifest")(spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val byDocId = plans.collect(out.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "split") &&
          (e.outputPartitioning match {
            case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "doc_id"))
            case _ => false
          }) => e
    }
    assert(byDocId.isEmpty, out.queryExecution.executedPlan.toString)
  }
}
