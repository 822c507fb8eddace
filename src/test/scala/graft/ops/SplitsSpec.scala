package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Dataset-assembly suite: split determinism/coverage, stratified-sample
  * rate fidelity, and a planted incremental-ingest fixture (exact copy /
  * near-dup / novel must classify as such).
  */
class SplitsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("assignSplits: total, disjoint, deterministic, near the 80/10/10 design") {
    val n = docs.count()
    val s1 = Splits.assignSplits(docs)
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == n, "every doc gets exactly one split")
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    // binomial(500, 0.8) is within +-6 sigma of 400 at ~346-454; the check
    // guards gross mis-bucketing, not the exact draw
    assert(counts("train") > n * 6 / 10 && counts("train") < n * 95 / 100, counts.toString)
    assert(counts.getOrElse("val", 0L) > 0 && counts.getOrElse("test", 0L) > 0, counts.toString)
    // re-evaluation (fresh plan, different partitioning) agrees row-for-row
    val s2 = Splits.assignSplits(docs.repartition(7))
    assert(s1.join(s2.withColumnRenamed("split", "split2"), Seq("doc_id"))
      .filter(col("split") =!= col("split2")).count() == 0)
  }

  test("stratifiedSample: kept iff sample_key < stratum rate; en downsampled") {
    val kept = Splits.stratifiedSample(docs)
    assert(kept.filter(col("sample_key") >= col("rate")).count() == 0)
    val enTotal = docs.filter(col("lang") === "en").count()
    val enKept = kept.filter(col("lang") === "en").count()
    if (enTotal > 50) {
      // rate 4096/16384 = 25%; allow wide binomial slack
      assert(enKept < enTotal * 45 / 100 && enKept > enTotal * 8 / 100,
        s"en kept $enKept of $enTotal")
    }
    // non-stratified langs ride the default rate (16384 = keep all)
    val other = docs.filter(col("lang") =!= "en").count()
    assert(kept.filter(col("lang") =!= "en").count() == other)
  }

  test("sourceCap: min(n,k) per source, hash-minimal kept set, monotone under growth, group-limit plan") {
    import spark.implicits._
    // head source with 40 docs, two tail sources with 5 and 16 (= k) docs
    val rows = (0L until 40L).map(i => (i, "head")) ++
      (100L until 105L).map(i => (i, "tailA")) ++
      (200L until 216L).map(i => (i, "tailB"))
    val df = rows.toDF("doc_id", "source")
    val k = 16
    val kept = Splits.sourceCap(df, k)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("head" -> 16L, "tailA" -> 5L, "tailB" -> 16L), bySrc.toString)
    assert(kept.filter(col("cap_rank") > k).count() == 0)

    // the kept head docs are exactly the k smallest (hash, doc_id) keys —
    // recompute the key independently and compare sets
    val keyed = df.filter(col("source") === "head")
      .select(col("doc_id"),
        Exprs.fnv1a64(concat(col("doc_id").cast("string"), lit(Splits.CapSalt)))
          .as("h"))
      .orderBy(col("h"), col("doc_id")).limit(k)
    val expect = keyed.select("doc_id").as[Long].collect().toSet
    val got = kept.filter(col("source") === "head")
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect)

    // stability under re-ingestion: adding docs to head never reshuffles
    // survivors — the new kept set is a subset of {old kept + new ids}
    val grown = df.unionByName(Seq((500L, "head"), (501L, "head"))
      .toDF("doc_id", "source"))
    val got2 = Splits.sourceCap(grown, k).filter(col("source") === "head")
      .select("doc_id").as[Long].collect().toSet
    assert(got2.subsetOf(expect ++ Set(500L, 501L)), (got2 -- expect).toString)
    // determinism under different partitioning
    val got3 = Splits.sourceCap(df.repartition(7), k)
      .filter(col("source") === "head").select("doc_id").as[Long].collect().toSet
    assert(got3 == expect)

    // the scale contract: the rn<=k filter must compile to WindowGroupLimit
    // (partial group limit BEFORE the exchange), not a post-window filter
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("incrementalNearDups: planted exact / near / novel classify correctly") {
    import spark.implicits._
    val base = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the river bank today."),
      (2L, "Completely different content about distributed query processing engines."),
      (3L, "A third base document with its own unmistakably unique text payload."))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // exact copy of base 1 modulo normalization (whitespace collapses)
      (101L, "The  quick   brown fox jumps over the lazy dog near the river bank today."),
      // near-dup of base 2: one word substituted -> few k-grams differ
      (102L, "Completely different content about distributed query processing systems."),
      // novel
      (103L, "Nothing in the base corpus resembles this entirely fresh document text."))
      .toDF("doc_id", "text")
    val out = Splits.incrementalNearDups(incoming, base)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(3))).toMap
    assert(out(101L) == (Some(1L), "exact"), out.toString)
    assert(out(102L)._2 == "near" && out(102L)._1.contains(2L), out.toString)
    assert(out(103L) == (None, "novel"), out.toString)
    assert(out.size == 3)
  }

  test("qualityGate: exact percentile thresholds on a known distribution") {
    import spark.implicits._
    // 20 docs: punct counts 0..19 over 100 'a' chars -> punct_ratio_bp
    // 0,99,198,...; n=20, ceil(.05*20)=1 -> p_lo = 0th value, ceil(.95*20)=19
    // -> p_hi = 19th smallest = value of doc 18 (ratio 18/118)
    val docs = (0 until 20).map { i =>
      (i.toLong, "a" * 100 + "!" * i)
    }.toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(docs).collect()
    val pLo = out.head.getLong(2); val pHi = out.head.getLong(3)
    val bp = (i: Int) => math.floor(i * 10000.0 / (100 + i)).toLong
    assert(pLo == bp(0) && pHi == bp(18), s"thresholds ($pLo, $pHi)")
    // doc 19 (top 5%) excluded, everything else kept (all clear minChars)
    assert(out.map(_.getLong(0)).sorted.toSeq == (0L until 19L))
  }

  test("incrementalNearDups: exact wins over near; min-(distance, id) tie-break") {
    import spark.implicits._
    val txt = "Shared content duplicated across several base documents verbatim here."
    val base = Seq((5L, txt), (4L, txt)).toDF("doc_id", "text")
    val incoming = Seq((200L, txt)).toDF("doc_id", "text")
    val r = Splits.incrementalNearDups(incoming, base).collect()
    assert(r.length == 1)
    // exact match (also a 0-distance near candidate) reports reason=exact
    // with the MINIMUM base id
    assert(r.head.getString(3) == "exact" && r.head.getLong(1) == 4L)
  }

  test("deterministicShuffle: a true permutation, stable under repartitioning, actually shuffled") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val a = Splits.deterministicShuffle(docs, partitions = 5)
    // bijection onto 1..n
    assert(a.count() == n)
    assert(a.agg(min("shuffle_pos"), max("shuffle_pos"), countDistinct("shuffle_pos"))
      .collect().head.toSeq == Seq(1L, n, n))
    // pure function of content+salt: identical under a different physical layout
    val b = Splits.deterministicShuffle(docs.repartition(11), partitions = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // it actually permutes (hash order != id order for a real corpus)
    val idOrdered = a.orderBy("doc_id").select("shuffle_pos")
      .collect().map(_.getLong(0))
    assert(idOrdered.sliding(2).exists(p => p(0) > p(1)), "shuffle left id order intact")
    // a different salt re-rolls the permutation
    val c = Splits.deterministicShuffle(docs, salt = "|shuffle|v2", partitions = 5)
    assert(c.exceptAll(a).count() > 0)
  }

  test("deterministicShuffle composes with Pack: shuffled packing is the sequential pack of the permuted corpus") {
    import spark.implicits._
    val docs = Seq((10L, "a b c"), (20L, "d e"), (30L, "f g h i"), (40L, ""))
      .toDF("doc_id", "text")
    val pos = Splits.deterministicShuffle(docs, partitions = 2)
    // pack in shuffled order by feeding shuffle_pos as the ordering id
    val shuffled = docs.join(pos, "doc_id")
      .select(col("shuffle_pos").as("doc_id"), col("text"))
    val packed = Pack.packSequences(shuffled, budget = 4L, partitions = 2)
    // reference: sequential pack of the permutation computed locally
    val order = pos.collect().map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._2)
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("[\\t\\n\\f\\r ]+").count(_.nonEmpty).toLong).toMap
    var cum = 0L
    val expect = order.map { case (id, p) =>
      val t = toks(id); val row = (p, t, cum, cum / 4L, cum % 4L); cum += t; row
    }.toSet
    val got = packed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expect)
  }
}
