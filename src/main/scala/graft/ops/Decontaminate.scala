package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share token
  * n-grams with a (small) evaluation set — the overlap screen every
  * serious pretraining pipeline runs so eval questions don't leak into
  * the training corpus (no reference analogue; graft-added §2.9).
  *
  * Scale shape: the corpus side explodes its n-grams MAP-SIDE and
  * immediately collapses them against a BROADCAST of the eval set's
  * distinct grams — the big side never shuffles gram strings; the only
  * exchange carries (doc_id, hit) pairs that survive the broadcast join,
  * which at a sane contamination rate is a vanishing fraction of the
  * corpus. Eval sets are small by construction (thousands of documents),
  * so the broadcast is FORCED (an explicit hint — the gram set derives
  * from an aggregation, so letting AQE discover its size costs planning a
  * shuffle first). Forced means forced: an eval list too large for the
  * driver would OOM the collect rather than degrade — a caller screening
  * against a multi-GB gram list should drop the hint and shuffled-hash
  * join on the gram instead (one-line change, deliberately not a flag
  * here: the operator models the small-eval-set regime).
  */
object Decontaminate {

  /** Token n-grams of `text` (ASCII-lowercased, whitespace tokens, joined
    * by one space); empty below n tokens. ASCII-only lowering because
    * grams are JOIN KEYS: engine lower()s disagree on some Unicode
    * uppercase (see OracleSql.asciiLower), which would silently flip
    * membership.
    *
    * A compiled UDF, not the Column-HOF formulation (kept as the
    * test-side `SpecTwins.ngramsHof`, the in-engine spec twin): Catalyst
    * higher-order functions run an interpreted lambda per ELEMENT, and the
    * transform+array_join(slice) form measured ~23 µs per gram — 5.5 s
    * for one sf0.1 explode, the dominant cost of the q76 capstone and of
    * any REAL consumer of the q56 screen (the same finding, fix, and
    * justification as Similarity.shinglesU in round 3). Null text degrades
    * to the empty set like the engine-native paths.
    */
  private val ngramsU = udf { (text: String, n: Int) =>
    if (text == null) Array.empty[String]
    else {
      val toks = Similarity.asciiLower(text)
        .split("[\t\n\f\r ]+").filter(_.nonEmpty)
      if (toks.length < n) Array.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toArray
    }
  }

  def ngrams(text: Column, n: Int): Column = ngramsU(text, lit(n))

  val DefaultN = 8

  /** Per-doc eval-overlap counts: `n_hits` = how many of the doc's n-gram
    * POSITIONS carry a gram that appears anywhere in `evalDocs`;
    * `contaminated` iff any do. Every input doc keeps a row (left join on
    * the doc spine), so downstream `filter(!contaminated)` is a complete
    * decision, not a survivor list.
    */
  def screen(docs: DataFrame, evalDocs: DataFrame, n: Int = DefaultN): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(ngrams(col("text"), n)).as("gram"))
      .distinct()
    val hits = docs
      .select(col("doc_id"), explode(ngrams(col("text"), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }
}
