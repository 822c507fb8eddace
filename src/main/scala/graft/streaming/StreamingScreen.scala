package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.ops.{LshDedup, Splits}

/** Streaming NEAR-dup ingestion screen — the streaming twin of the q52
  * batch screen ([[graft.ops.Splits.incrementalNearDups]]), completing the
  * streaming dedup story next to [[StreamingDedup]]'s exact-only state:
  * every micro-batch is classified against the signatures of everything
  * accepted so far (exact = equal normalized-content fnv; near =
  * Hamming(simhash) <= threshold, banded-LSH candidates with recall EXACT
  * for threshold < bands), and only NOVEL docs' signatures enter the index
  * — the same kept-only-feeds-the-window rule as the reference's greedy
  * scan (internal/dedupe/dedupe.go:209-233).
  *
  * Shape: `foreachBatch` + a persisted parquet signature index, NOT
  * `flatMapGroupsWithState`. A near-dup check is a banded JOIN (a doc's 8
  * band keys must probe 8 different state partitions and the verdicts must
  * re-converge per doc) — per-key state cannot express it without a
  * second stateful stage and a watermark the data doesn't have; the
  * per-batch join against a 24 B/doc index is the same plan the batch
  * screen already runs, reused verbatim. The index is written as one
  * `batch=<id>` partition dir per micro-batch with overwrite semantics, so
  * a REPLAYED batch (foreachBatch redelivers on failure) rewrites its own
  * partition instead of doubling it — idempotent without a transactional
  * sink; reads exclude the current batch's own partition for the same
  * reason.
  *
  * Within one micro-batch the batch is screened ATOMICALLY: a doc can
  * match the index or any SMALLER doc_id in the same batch (index matches
  * win over batch matches at equal (exactness, distance)). Like D2's
  * canonicalized drop order this diverges from one-at-a-time greedy in one
  * corner — a doc may report a matched_id that was itself suppressed by an
  * even smaller batch-mate (A<B<C chains) — while singleton batches
  * reproduce strict sequential greedy exactly (both pinned by
  * StreamingScreenSpec).
  */
object StreamingScreen {

  /** Classify one micro-batch against the accepted-signature index
    * (`indexSigs`: (doc_id, xhash, sig), or None on the first batch) AND
    * against smaller doc_ids in the same batch. Returns one row per batch
    * doc: (doc_id, matched_id, distance, reason, from_batch) with reason in
    * {exact, near, novel}; `from_batch` marks a within-batch match.
    */
  def screenBatch(batch: DataFrame, indexSigs: Option[DataFrame],
      k: Int = 5, threshold: Int = 6): DataFrame = {
    require(threshold < LshDedup.Bands,
      s"banded near screen has exact recall only for threshold < ${LshDedup.Bands}")
    val sigs = Splits.sigTable(batch, k)
    val mCols = (df: DataFrame) => df.select(col("doc_id").as("m_id"),
      col("xhash").as("m_xhash"), col("sig").as("m_sig"))

    // candidate streams: (doc_id, not_exact, distance, from_batch, m_id)
    def exactC(base: DataFrame, fromBatch: Boolean): DataFrame = {
      val j = sigs.join(base, col("xhash") === col("m_xhash") &&
        (if (fromBatch) col("m_id") < col("doc_id") else lit(true)))
      j.select(col("doc_id"), lit(0).as("not_exact"),
        lit(0).cast("int").as("distance"),
        lit(if (fromBatch) 1 else 0).as("from_batch"), col("m_id"))
    }
    def nearC(base: DataFrame, fromBatch: Boolean): DataFrame =
      LshDedup.bandPairs(sigs, "sig", base, "m_sig", threshold,
        where = if (fromBatch) col("m_id") < col("doc_id") else lit(true))
        .select(col("doc_id"), lit(1).as("not_exact"), col("distance"),
          lit(if (fromBatch) 1 else 0).as("from_batch"), col("m_id"))

    val batchBase = mCols(sigs)
    val cands = (indexSigs.map(mCols).toSeq.flatMap(b =>
      Seq(exactC(b, fromBatch = false), nearC(b, fromBatch = false))) ++
      Seq(exactC(batchBase, fromBatch = true), nearC(batchBase, fromBatch = true)))
      .reduce(_ unionByName _)

    // min(struct(...)): exact beats near, then distance, then an INDEX
    // match beats a same-batch one, then min id
    val best = cands.groupBy(col("doc_id"))
      .agg(min(struct(col("not_exact"), col("distance"),
        col("from_batch"), col("m_id"))).as("m"))
    batch.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("m.m_id").as("matched_id"),
        col("m.distance").as("distance"),
        when(col("m").isNull, "novel")
          .when(col("m.not_exact") === 0, "exact")
          .otherwise("near").as("reason"),
        coalesce(col("m.from_batch") === 1, lit(false)).as("from_batch"))
  }

  /** The per-batch body `attach` wires into foreachBatch, callable directly
    * (and idempotently) for tests and backfills: screen `batch` against the
    * index at `indexDir` (excluding this batch's own partition — a replay
    * overwrites it), append the novel docs' signatures as
    * `indexDir/batch=<id>`, and hand the verdict frame to `sink`.
    */
  def processBatch(indexDir: String, k: Int, threshold: Int,
      sink: (DataFrame, Long) => Unit)(batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    val existing =
      try {
        val idx = spark.read.parquet(indexDir)
        Some(idx.filter(col("batch") =!= id)
          .select(col("doc_id"), col("xhash"), col("sig")))
          .filter(_ => idx.columns.contains("batch"))
      } catch { case _: AnalysisException => None }
    val verdicts = screenBatch(batch, existing, k, threshold)
      .persist()
    try {
      val novelIds = verdicts.filter(col("reason") === "novel").select(col("doc_id"))
      Splits.sigTable(batch, k).join(novelIds, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$indexDir/batch=$id")
      sink(verdicts, id)
    } finally verdicts.unpersist()
  }

  /** Attach the screen to a documents stream. Start with
    * `.attach(...).start()`; every micro-batch flows through
    * [[processBatch]].
    */
  def attach(docsStream: DataFrame, indexDir: String,
      k: Int = 5, threshold: Int = 6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docsStream.writeStream.foreachBatch {
      (b: Dataset[Row], id: java.lang.Long) =>
        processBatch(indexDir, k, threshold, sink)(b.toDF(), id)
    }
}
