package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-assembly operators a training-data pipeline needs AROUND the
  * dedup/extraction core: deterministic train/val/test splitting,
  * per-stratum downsampling, and incremental near-dup screening of an
  * incoming batch against an existing corpus. (The reference is a one-shot
  * batch tool — cmd/pipeline/main.go:90-131 — with no dataset-assembly
  * surface; these are graft-added §2.9 operators.)
  *
  * All assignment decisions are CONTENT-ADDRESSED: a doc's split/sample
  * fate is a pure function of its id + a versioned salt, via the same
  * codegen fnv1a64 used by the dedup kernels. No `rand()`, no
  * `monotonically_increasing_id()` — so assignments are reproducible
  * across runs, stable under repartitioning/re-scans (Spark re-executes
  * nondeterministic expressions per attempt; a retried task would flip
  * random splits), and identical when the corpus is re-ingested
  * incrementally. Bucket counts are POWERS OF TWO so the low-bits mask of
  * the signed 64-bit hash equals the unsigned modulus — letting the DuckDB
  * oracle recompute the same bucket from its HUGEINT fnv independently.
  */
object Splits {

  /** Versioned salts: bump to re-roll every assignment at once. Split and
    * sample use DIFFERENT salts so sampling is independent of split fate.
    */
  val SplitSalt = "|split|v1"
  val SampleSalt = "|sample|v1"

  val SplitBuckets = 1024
  /** 80 / 10 / 10 on 1024 buckets (819 | 103 | 102). */
  val TrainLt = 819
  val ValLt = 922

  /** Low-bits hash bucket of a doc id under `salt`; map-only codegen. */
  def bucketOf(docId: Column, salt: String, buckets: Int): Column = {
    require(buckets > 0 && Integer.bitCount(buckets) == 1,
      s"buckets must be a power of two for signed/unsigned mask equivalence, got $buckets")
    Exprs.fnv1a64(concat(docId.cast("string"), lit(salt)))
      .bitwiseAND(lit(buckets - 1L))
  }

  /** Deterministic train/val/test assignment per document. Zero shuffle:
    * the split column can be computed inline by any consumer (or used as a
    * `partitionBy` column on write, giving split-pruned training scans).
    */
  /** Split label for a doc_id — THE single definition of the
    * train/val/test boundary, shared by [[assignSplits]] (q50) and the
    * curation-manifest capstone ([[Curation.manifest]], q76) so a
    * rebalance edited here moves both in lock-step.
    */
  def splitOf(docId: Column): Column = {
    val b = bucketOf(docId, SplitSalt, SplitBuckets)
    when(b < TrainLt, "train").when(b < ValLt, "val").otherwise("test")
  }

  def assignSplits(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        bucketOf(col("doc_id"), SplitSalt, SplitBuckets).as("bucket"),
        splitOf(col("doc_id")).as("split"))

  val SampleBuckets = 16384
  /** Default stratification: downsample the dominant language to 25%,
    * keep the rest whole — the usual rebalance before tokenizer training.
    */
  val DefaultRates: Seq[(String, Int)] = Seq("en" -> 4096)

  /** Deterministic per-stratum downsampling by the `lang` column: keep a
    * doc iff its sample bucket falls under its stratum's rate (numerator
    * out of [[SampleBuckets]]). The rate table compiles to a `when` chain
    * (strata counts are small — codegen-friendly, no join); with thousands
    * of strata, broadcast-join a rates table instead. Map-only filter: at
    * 100 TB this is a scan that keeps its predicate next to the source.
    */
  def stratifiedSample(docs: DataFrame,
      rates: Seq[(String, Int)] = DefaultRates,
      defaultRate: Int = SampleBuckets): DataFrame = {
    rates.foreach { case (_, r) =>
      require(r >= 0 && r <= SampleBuckets, s"rate $r outside [0, $SampleBuckets]")
    }
    val rateCol = rates.foldRight(lit(defaultRate): Column) {
      case ((lang, r), acc) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("sample_key", bucketOf(col("doc_id"), SampleSalt, SampleBuckets))
      .withColumn("rate", rateCol.cast("long"))
      .filter(col("sample_key") < col("rate"))
      .select(col("doc_id"), col("lang"), col("sample_key"), col("rate"))
  }

  val ResampleSalt = "|resample|v1"
  /** Keep-probability floor (out of [[SampleBuckets]]): even the
    * lowest-quality stratum keeps 2048/16384 = 12.5% — the DCLM-style
    * guard against zeroing out whole registers of text.
    */
  val ResampleFloor = 2048L

  /** Quality-weighted importance resampling: keep a doc with probability
    * monotone in its quality signal (here the stopword ratio from
    * [[TextAnalysis.quality]] — the same natural-language-ness proxy the
    * published mixes weight by), via the content-addressed coin
    * [[bucketOf]] so the kept set is reproducible and retry-stable.
    * rate = min(SampleBuckets, ResampleFloor + stopword_ratio_bp): keep
    * probability ramps 12.5% -> 100% linearly in the signal, all in exact
    * integer arithmetic (the oracle recomputes rate and coin bit-for-bit).
    *
    * Scale shape: map-only — the quality signal, the rate, and the coin
    * are all computed inline next to the scan; the filter pushes into the
    * same stage. Zero exchanges at any corpus size.
    */
  def importanceResample(docs: DataFrame): DataFrame =
    TextAnalysis.quality(docs)
      .select(col("doc_id"), col("stopword_ratio_bp"))
      .withColumn("rate",
        least(lit(SampleBuckets.toLong), lit(ResampleFloor) + col("stopword_ratio_bp")))
      .withColumn("sample_key", bucketOf(col("doc_id"), ResampleSalt, SampleBuckets))
      .filter(col("sample_key") < col("rate"))

  val CapSalt = "|cap|v1"

  /** Per-source quota cap: keep at most `k` docs per `source`, chosen by
    * content-addressed hash rank (fnv1a64 of doc_id + versioned salt,
    * doc_id tiebreak) — the head-domain diversity cap a pretraining mix
    * applies so a handful of giant crawl domains don't swamp the token
    * budget. Hash rank (not file order) makes the kept subset unbiased,
    * reproducible across runs, and STABLE UNDER RE-INGESTION: a source
    * that grows only evicts the doc with the worst hash, it never
    * reshuffles the survivors (the kept set is "the k smallest hashes",
    * monotone under insertion).
    *
    * Scale shape: the deliberately plain `row_number <= k` filter is the
    * scale-safe form on Spark 3.5+ — the optimizer rewrites it to
    * WindowGroupLimit(Partial) BEFORE the exchange and (Final) after, so
    * every map task pre-prunes to its local top-k per source and the
    * shuffle carries at most k rows per (task, source) instead of the
    * whole corpus (verified in the plan by SplitsSpec). Head-domain skew
    * is therefore bounded at the exchange by k × maps, not by the
    * domain's row count; the reduce side sees ≤ k × maps rows per source.
    * Output keeps `cap_rank` so consumers can tighten k later without
    * recomputing (`cap_rank <= k'` is a free post-filter for any k' ≤ k).
    */
  def sourceCap(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"per-source cap must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val key = Exprs.fnv1a64(concat(col("doc_id").cast("string"), lit(CapSalt)))
    val w = Window.partitionBy(col("source")).orderBy(key.asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("cap_rank", row_number().over(w))
      .filter(col("cap_rank") <= k)
  }

  val ShuffleSalt = "|shuffle|v1"

  /** Deterministic global shuffle: assign every doc a permutation position
    * by ranking on fnv1a64(doc_id + versioned salt) — the "shuffle the
    * corpus" step a training pipeline runs before [[Pack.packSequences]]
    * (feed `shuffle_pos` as the ordering id to pack in shuffled order;
    * pinned by SplitsSpec). `orderBy(rand())` would reshuffle on every
    * retry/re-scan (Spark re-executes nondeterministic expressions per
    * task attempt) and can't be reproduced for a given data version; the
    * hash rank is a pure function of content + salt, so shard N of the
    * training run is the same shard on every rerun and every engine.
    *
    * Scale shape: the hash is map-only codegen next to the scan; the rank
    * is [[Ranks.globalRank]]'s range-exchange + zipWithIndex construction
    * (no single-partition window). (doc_id is the hash tiebreak so ties
    * can't make the permutation nondeterministic.)
    */
  def deterministicShuffle(docs: DataFrame, salt: String = ShuffleSalt,
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.struct
    val keyed = docs.select(col("doc_id"),
      Exprs.fnv1a64(concat(col("doc_id").cast("string"), lit(salt)))
        .as("shuffle_key"))
    Ranks.globalRank(keyed, struct(col("shuffle_key"), col("doc_id")),
      rankCol = "shuffle_pos", partitions = partitions)
  }

  /** Per-doc signature row shared by the incremental screen: exact-match
    * key = fnv1a64 of the normalized text, near-match key = simhash64 over
    * normalized byte k-grams (same normalize + hash kernels as the batch
    * dedup surface, so incremental and full-corpus dedup agree on what
    * "duplicate" means).
    */
  def sigTable(docs: DataFrame, k: Int): DataFrame = {
    val nrm = Exprs.normCol(col("text"))
    docs.select(col("doc_id"),
      Exprs.fnv1a64(nrm).as("xhash"),
      Exprs.simhash64(nrm, k).as("sig"))
  }

  /** Incremental dedup screen: classify each INCOMING doc against an
    * existing BASE corpus as `exact` (identical normalized text — matched
    * to the minimum base doc_id), `near` (Hamming(simhash) <= threshold —
    * matched to the minimum (distance, base doc_id) candidate), or `novel`.
    *
    * This is the production ingestion path that [[LshDedup.clusterWinners]]
    * full-corpus CC deliberately avoids recomputing: the base side reduces
    * to (doc_id, xhash, sig) — 24 bytes/doc, a persistable signature index
    * (SnapshotTable-friendly) — and the join is banded LSH, so only band
    * keys shuffle and the small incoming side drives the exchange. Recall
    * of the near screen is EXACT for threshold < bands (pigeonhole, same
    * argument as [[LshDedup.nearDupPairs]]) — `require`d, so the oracle's
    * all-pairs recomputation is a fair check, not an approximation gap.
    * Incoming-vs-incoming duplicates are out of scope here (run the batch
    * dedup inside the new slice for that); the screen answers "is it
    * already in the corpus".
    */
  def incrementalNearDups(incoming: DataFrame, base: DataFrame,
      k: Int = 5, threshold: Int = 6): DataFrame = {
    require(threshold < LshDedup.Bands,
      s"banded near screen has exact recall only for threshold < ${LshDedup.Bands}")
    val in = sigTable(incoming, k)
    val bs = sigTable(base, k).select(
      col("doc_id").as("base_id"), col("xhash").as("base_xhash"),
      col("sig").as("base_sig"))

    // ONE candidate stream, classification folded into the aggregation
    // ordering: min(struct(not_exact, distance, base_id)) makes an exact
    // match (not_exact=0) beat every near candidate — including a distance-0
    // near hit between sig-equal but text-distinct docs — then min distance,
    // then min base id. One groupBy, no anti-joins, no union-of-branches
    // re-planning the exact/near subtrees per output class (each side's
    // scan→normalize→hash projection is planned at most twice: once for its
    // exact key, once banded; the novel spine below prunes to doc_id only).
    val exactC = in.join(bs, col("xhash") === col("base_xhash"))
      .select(col("doc_id"), lit(0).as("not_exact"),
        lit(0).cast("int").as("distance"), col("base_id"))
    val nearC = LshDedup.bandPairs(in, "sig", bs, "base_sig", threshold)
      .select(col("doc_id"), lit(1).as("not_exact"), col("distance"), col("base_id"))
    val best = exactC.unionByName(nearC)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("not_exact"), col("distance"), col("base_id"))).as("m"))

    incoming.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("m.base_id").as("matched_id"),
        col("m.distance").as("distance"),
        when(col("m").isNull, "novel")
          .when(col("m.not_exact") === 0, "exact")
          .otherwise("near").as("reason"))
  }
}
