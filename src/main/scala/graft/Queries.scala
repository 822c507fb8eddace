package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.kernel.DedupeConfig
import graft.ops._
import graft.jobs.ExtractionJob

/** The driver-contract query surface: one entry per implemented operator
  * from SURVEY.md §2 (+§2.9 graft-added ops). EVERY query carries a DuckDB
  * oracle in `oracle` — dialect twins built by [[OracleSql]], with the
  * hash kernels / greedy windowed scan / minhash / ANN / connected
  * components recomputed INDEPENDENTLY in SQL by [[OracleHash]] and the
  * recursive CTEs below (never read back from Spark output).
  */
object Queries {

  private def docsOf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embOf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Corpus.docsTable(s, dir)

  /** P1 — per-doc staged media names (reference: internal/ingest/
    * ingest.go:187-196): natural-sort rank as `%04d`, which widens past
    * 9999, plus the lowercased extension.
    */
  private[graft] def stagedNames(docs: DataFrame): DataFrame = {
    val media = Corpus.spanRows(docs).filter(col("kind") === "media")
    val w = Window.partitionBy(col("doc_id")).orderBy(Exprs.naturalKey(col("media_ref")))
    media.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("media_ref"),
        concat(format_string("%04d", col("rn")),
          lower(regexp_extract(col("media_ref"), "(\\.[A-Za-z]+)$", 1))).as("staged"))
  }

  /** The A1 queries' dedup: the kernel's exact SHA1 pass alone. */
  private val ExactDedup = DedupeConfig(method = "exact")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference operators over the interleaved corpus ----
    "q01_n1_normalize" -> ((s, dir) =>
      Corpus.assemble(corpus(s, dir))
        .select(col("doc_id"), Exprs.normCol(col("raw")).as("norm"))),

    "q02_g2_assemble" -> ((s, dir) => Corpus.assemble(corpus(s, dir))),

    "q03_g1_chunk" -> ((s, dir) => ExtractionJob.chunks(corpus(s, dir))),

    "q04_p3_chrome" -> ((s, dir) => ExtractionJob.filteredChunks(corpus(s, dir))),

    "q05_a1_exact_kept" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir), ExactDedup)(s).filter(col("kept"))
        .select("doc_id", "id", "text", "norm", "idx")),

    "q06_a1_exact_dropped" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir), ExactDedup)(s).filter(!col("kept"))
        .select(col("doc_id"), col("id").as("chunk_id"), col("reason"),
          col("matched_id").as("matched_chunk_id"), col("distance"), col("preview"))),

    // only docs with >= 1 chunk past the chrome filter, as the oracle's
    // GROUP BY over the filtered chunks has
    "q07_a2_stats_exact" -> ((s, dir) =>
      ExtractionJob.metrics(corpus(s, dir), ExactDedup)(s).filter(col("input_count") > 0)
        .select("doc_id", "kept_count", "dropped_count", "input_count")),

    "q08_a3_markdown" -> ((s, dir) =>
      ExtractionJob.markdown(corpus(s, dir),
        ExtractionJob.PipelineConfig(dedupe = ExactDedup, includeChunkIds = true))),

    "q09_s3_jsonl" -> ((s, dir) =>
      Render.jsonlProjection(ExtractionJob.filteredChunks(corpus(s, dir)))),

    "q10_p1_stage_names" -> ((s, dir) => stagedNames(corpus(s, dir))),

    "q11_o1_natural_rank" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(concat(lit("IMG_"), col("p_partkey").cast("string"), lit(".png")).as("name"))
      // distributed global rank (range buckets + per-bucket offsets) — the
      // former Window.orderBy-with-no-partitionBy was a single-task sort
      Ranks.globalRank(names, Exprs.naturalKey(col("name")))
    }),

    "q12_h4_hamming" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet").select(
        col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        Exprs.hamming(col("l_orderkey") * lit(2654435761L),
          col("l_partkey") * lit(40503L)).cast("long").as("hd"))),

    "q13_p6_sanity" -> ((s, dir) =>
      Corpus.assemble(corpus(s, dir)).select(col("doc_id"),
        (octet_length(Exprs.trimGoWs(col("raw"))) >= 20).as("valid"))),

    "q14_extract_metrics" -> ((s, dir) =>
      ExtractionJob.metrics(corpus(s, dir), ExactDedup)(s)
        .select("doc_id", "n_chunks", "n_chrome_dropped", "boilerplate_ratio_bp")),

    // ---- sequential dedup (kernel inside each doc's row) — rows-only ----
    "q15_d1_dedup_kept" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir))(s).filter(col("kept"))
        .select("doc_id", "id", "text", "norm", "idx")),

    "q16_d1_dedup_dropped" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir))(s).filter(!col("kept"))
        .select(col("doc_id"), col("id").as("chunk_id"), col("reason"),
          col("matched_id"), col("distance"), col("preview"))),

    "q17_pipeline_spans" -> ((s, dir) => ExtractionJob.outputSpans(corpus(s, dir))(s)),

    "q18_pipeline_metrics" -> ((s, dir) => ExtractionJob.metrics(corpus(s, dir))(s)),

    "q19_d2_both_kept" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir), DedupeConfig(method = "both"))(s)
        .filter(col("kept")).select("doc_id", "id", "idx")),

    "q20_h3_doc_sigs" -> ((s, dir) =>
      LshDedup.docSignatures(Corpus.assemble(corpus(s, dir)), 5)),

    "q21_lsh_doc_pairs" -> ((s, dir) =>
      Similarity.simhashDocPairs(docsOf(s, dir), 5, 6)),

    // ---- training-data pipeline: dedup family ----
    "q22_dedup_exact_chunks" -> ((s, dir) =>
      ExtractionJob.chunks(corpus(s, dir))
        .groupBy(md5(col("norm")).as("norm_md5"))
        .agg(min(concat(col("doc_id"), lit("/"), col("id"))).as("keep_chunk"),
          count(lit(1)).as("n_copies"))),

    "q23_ngram_jaccard_pairs" -> ((s, dir) =>
      Similarity.ngramJaccardPairs(docsOf(s, dir), 3, 1000L)),

    "q24_minhash_lsh_pairs" -> ((s, dir) =>
      Similarity.minhashLshPairs(docsOf(s, dir), 3, 8)),

    "q25_embed_cos_pairs" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(embOf(s, dir), 2500L)),

    // q49/q27 pin bits = HyperplaneBits: the DuckDB oracle SQL interpolates
    // that constant, so the oracle path must not float with autoBits (at the
    // test SFs autoBits returns the same 12 — the pin is oracle hygiene)
    "q49_embed_pairs_lsh" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsLsh(embOf(s, dir), 2500L,
        bits = Similarity.HyperplaneBits)),

    "q26_ann_topk" -> ((s, dir) => Similarity.annBruteForceTopK(embOf(s, dir), 10)),

    "q27_ann_lsh_topk" -> ((s, dir) =>
      Similarity.annLshTopK(embOf(s, dir), 10, bits = Similarity.HyperplaneBits)),

    "q37_ann_ivf_topk" -> ((s, dir) => Similarity.annIvfTopK(embOf(s, dir), 10)),

    "q38_cluster_winners" -> ((s, dir) =>
      LshDedup.clusterWinners(Similarity.simhashDocPairs(docsOf(s, dir), 5, 6))),

    "q47_deduped_corpus" -> ((s, dir) => {
      val docs = docsOf(s, dir)
      LshDedup.dedupedDocs(docs,
        LshDedup.clusterWinners(Similarity.simhashDocPairs(docs, 5, 6)))
    }),

    "q48_doc_embed" -> ((s, dir) => Embed.docEmbeddingRows(docsOf(s, dir))),

    // ---- dataset assembly: splits / sampling / incremental ingest ----
    "q50_train_split" -> ((s, dir) => Splits.assignSplits(docsOf(s, dir))),

    "q51_stratified_sample" -> ((s, dir) =>
      Splits.stratifiedSample(docsOf(s, dir))),

    // incoming = the "test" hash slice (>= ValLt) PLUS derived exact copies
    // of every 50th base doc (id offset 10^6) — the synthetic corpus plants
    // near-dups but no exact copies, so without the derivation the oracle
    // would never exercise the exact branch; base = the rest. A
    // deterministic stand-in for "tonight's crawl vs the corpus"; the
    // operator itself takes any two frames.
    "q52_incremental_dedup" -> ((s, dir) => {
      val d = docsOf(s, dir).select(col("doc_id"), col("text"))
      val b = Splits.bucketOf(col("doc_id"), Splits.SplitSalt, Splits.SplitBuckets)
      val base = d.filter(b < Splits.ValLt)
      val incoming = d.filter(b >= Splits.ValLt).unionByName(
        base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      Splits.incrementalNearDups(incoming, base)
    }),

    // ---- text analysis ----
    "q53_quality_gate" -> ((s, dir) => TextAnalysis.qualityGate(docsOf(s, dir))),

    // every 7th doc gains its own first line appended twice — the synthetic
    // corpus has no WITHIN-doc duplicate lines (its planted dups are
    // cross-doc), so without the derivation the dup-line metrics would be
    // oracle-checked only at zero (the q41-class dead-branch trap). The
    // operator itself takes any (doc_id, text) frame.
    "q54_repetition" -> ((s, dir) => {
      val first = element_at(split(col("text"), "\n"), 1)
      Repetition.signals(docsOf(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("\n"), first, lit("\n"), first))
          .otherwise(col("text")).as("text")))
    }),

    // PII is planted deterministically (the synthetic corpus carries none):
    // every 5th doc gains a footer with a derived email / phone / IPv4; the
    // oracle builds the identical footer, so detection AND redaction are
    // both checked. The operator itself takes any (doc_id, text) frame.
    "q55_pii_scrub" -> ((s, dir) => {
      val d = docsOf(s, dir)
      val footer = concat(
        lit("\nContact: user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
      Pii.scrub(d.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), footer))
          .otherwise(col("text")).as("text")))
    }),

    // eval set = every 97th doc — a small slice OF the corpus, so those
    // docs (and their planted near-dups) must flag as contaminated while
    // the rest stay clean; a deterministic stand-in for "held-out benchmark
    // vs training corpus". The operator takes any two frames.
    "q56_decontaminate" -> ((s, dir) => {
      val d = docsOf(s, dir)
      Decontaminate.screen(d, d.filter(col("doc_id") % 97 === 0))
    }),

    "q57_pack_sequences" -> ((s, dir) => Pack.packSequences(docsOf(s, dir))),

    "q58_vocab" -> ((s, dir) => Vocab.tokenStats(docsOf(s, dir))),

    "q59_unigram_score" -> ((s, dir) => Vocab.unigramScore(docsOf(s, dir))),

    "q71_bpe_pairs" -> ((s, dir) => Vocab.bpePairCounts(docsOf(s, dir))),

    "q72_apply_mixture" -> ((s, dir) => Mixture.applyMixture(docsOf(s, dir))),

    "q73_common_para" -> ((s, dir) =>
      Similarity.commonParagraphFilter(ExtractionJob.chunks(corpus(s, dir)), 2L)),

    "q60_corpus_shuffle" -> ((s, dir) => Splits.deterministicShuffle(docsOf(s, dir))),

    "q61_dup_ngrams" -> ((s, dir) => Repetition.corpusDupNgrams(docsOf(s, dir))),

    "q74_substring_dedup" -> ((s, dir) =>
      Repetition.exactSubstringDedup(docsOf(s, dir))),

    "q75_tfidf_keywords" -> ((s, dir) => Vocab.tfidfKeywords(docsOf(s, dir))),

    "q76_curation_manifest" -> ((s, dir) => Curation.manifest(docsOf(s, dir))),

    "q62_source_mixture" -> ((s, dir) => Mixture.sourceMixture(docsOf(s, dir))),

    "q63_props_metrics" -> ((s, dir) =>
      Events.propsMetrics(s.read.parquet(s"$dir/events.parquet"))),

    "q65_asof_join" -> ((s, dir) =>
      Events.asofJoin(s.read.parquet(s"$dir/events.parquet"))),

    "q66_range_join" -> ((s, dir) =>
      Events.rangeJoin(s.read.parquet(s"$dir/events.parquet"))),

    // head-domain cap: 5/7 of docs are remapped to one 'srchead'
    // mega-source (7 is coprime with the synthetic source cycle, so every
    // tail source keeps a decorrelated ~2/7 of its docs) — the derivation
    // makes the cap exercise BOTH branches (srchead far over the cap, the
    // 20 tail sources under it) and the head-skew shape the operator
    // exists for. The operator itself takes any (doc_id, source) frame.
    "q64_source_cap" -> ((s, dir) =>
      Splits.sourceCap(
        docsOf(s, dir).select(col("doc_id"),
          when(col("doc_id") % 7 < 5, lit("srchead"))
            .otherwise(col("source")).as("source")),
        k = 16)),

    "q67_salted_join" -> ((s, dir) => Skew.enrichBySource(docsOf(s, dir))),

    "q68_importance_resample" -> ((s, dir) =>
      Splits.importanceResample(docsOf(s, dir))),

    "q69_kmeans" -> ((s, dir) =>
      Cluster.kmeans(Embed.docEmbeddings(docsOf(s, dir)))),

    "q70_semdedup" -> ((s, dir) =>
      Cluster.semDedup(Embed.docEmbeddings(docsOf(s, dir)))),
    "q28_lang_id" -> ((s, dir) => TextAnalysis.langId(docsOf(s, dir))),
    "q29_quality" -> ((s, dir) => TextAnalysis.quality(docsOf(s, dir))),
    "q30_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(docsOf(s, dir))),
    "q31_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(docsOf(s, dir))),

    // ---- S5 report + config variants ----
    // The reference report's dropped list (report.go:24-29) is carried as a
    // deterministic digest (md5 over the sorted "id|reason|matched|distance"
    // entries) so the whole report row is oracle-checkable; the full audit
    // rows themselves are the (also oracled) q16 surface.
    "q34_s5_report" -> ((s, dir) => {
      // config columns DERIVED from DedupeConfig() defaults (not literals):
      // if a default ever changes, this report changes with it — and the
      // oracle SQL below interpolates the same case class, so both sides
      // move in lock-step
      val dd = DedupeConfig()
      val d = ExtractionJob.dedup(corpus(s, dir))(s)
      val droppedEntry = when(!col("kept"),
        concat_ws("|", col("id"), col("reason"), col("matched_id"),
          col("distance").cast("string")))
      d.groupBy(col("doc_id")).agg(
        count(lit(1)).as("input_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped"),
        sum(when(col("reason") === "exact_duplicate", 1L).otherwise(0L)).as("exact_dups"),
        sum(when(col("reason") === "near_duplicate", 1L).otherwise(0L)).as("near_dups"),
        md5(concat_ws(";", sort_array(collect_list(droppedEntry)))).as("dropped_digest"))
        .withColumn("method", lit(dd.method))
        .withColumn("simhash_k", lit(dd.simHashK))
        .withColumn("simhash_threshold", lit(dd.simHashThreshold))
        .withColumn("window", lit(dd.window))
    }),

    "q35_dedup_window1" -> ((s, dir) =>
      ExtractionJob.dedup(corpus(s, dir), DedupeConfig(window = 1))(s)
        .filter(col("kept")).select("doc_id", "id", "idx")),

    // ---- multimodal ----
    "q32_media_meta" -> ((s, dir) => Multimodal.mediaMeta(corpus(s, dir))),
    "q33_media_decode" -> ((s, dir) =>
      Multimodal.decodeBatch(Multimodal.mediaTable(corpus(s, dir)))(s).toDF()),
    "q41_media_resize" -> ((s, dir) =>
      Multimodal.resizeBatch(Multimodal.mediaTable(corpus(s, dir)))(s)),
    "q42_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.mediaTable(corpus(s, dir)))),

    // ---- HTML boilerplate strip / DOM heuristics (north_rule surface):
    // deterministic HTML rendering of each doc (Corpus.htmlCol/htmlSql in
    // lock-step), then strip / block-classify / extract main content ----
    "q43_html_text" -> ((s, dir) =>
      docsOf(s, dir).select(col("doc_id").cast("string").as("doc_id"),
        Html.visibleText(Html.dropInvisible(
          Corpus.htmlCol(col("doc_id").cast("string"), col("text")))).as("text"))),

    "q44_html_blocks" -> ((s, dir) =>
      Html.blocks(
        docsOf(s, dir).select(col("doc_id").cast("string").as("doc_id"), col("text")),
        Corpus.htmlCol(col("doc_id"), col("text")))),

    "q45_html_main" -> ((s, dir) =>
      Html.mainContent(
        docsOf(s, dir).select(col("doc_id").cast("string").as("doc_id"), col("text")),
        Corpus.htmlCol(col("doc_id"), col("text")))),

    // ---- PDF layout: reading order over a synthetic box table (boxes
    // derived relationally from lineitem so the oracle needs no hashing) ----
    "q46_layout_order" -> ((s, dir) =>
      Layout.readingOrder(
        s.read.parquet(s"$dir/lineitem.parquet").select(
          col("l_orderkey").as("doc_id"),
          (col("l_linenumber") % 3).cast("long").as("page"),
          col("l_linenumber").cast("long").as("box_id"),
          (col("l_partkey") % 1000).cast("long").as("x"),
          (col("l_suppkey") % 1400).cast("long").as("y")))),

    // ---- events: windowed ingestion metrics (makes the doctor's events
    // probe load-bearing; streaming twin in streaming/StreamingSpec) ----
    "q39_events_windowed" -> ((s, dir) =>
      Events.windowedMetrics(s.read.parquet(s"$dir/events.parquet"))),

    "q40_events_sessions" -> ((s, dir) =>
      Events.sessionize(s.read.parquet(s"$dir/events.parquet"))),

    // ---- doctor: testdata probe (the relational half of DoctorMain; the
    // env half — Spark/Scala/Java versions, parallelism — is the
    // graft.jobs.DoctorMain CLI, reference cmd/pipeline/doctor.go) ----
    // one global count per table, unioned — the oracle's shape; a global
    // aggregate over an empty table still yields its 0 row
    "q36_doctor_tables" -> ((s, dir) =>
      graft.jobs.DoctorMain.Tables.map(t =>
        s.read.parquet(s"$dir/$t.parquet")
          .agg(count(lit(1)).cast("long").as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows")))
        .reduce(_ unionAll _))
  )

  import OracleSql._

  /** Shared CTE prefix for q38/q47: simhash sigs -> banded LSH pairs ->
    * symmetric edges -> transitive closure `reach` (all (node, reachable)
    * pairs) by recursive CTE.
    */
  private val CcWinnersCtes: String =
    s"""WITH RECURSIVE d0 AS (SELECT doc_id, ${norm("text")} AS nrm, CAST(doc_id AS VARCHAR) AS rk FROM documents),
       |${OracleHash.simhashCtes("d0", "nrm", 5, "dsig")},
       |keyed AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM dsig),
       |kb AS (SELECT doc_id, sig, band,
       |       (${toUnsigned("sig")} >> CAST(band * 8 AS INT)) & 255 AS band_key FROM keyed),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a JOIN kb b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
       |edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT x AS doc_id, y AS nb FROM edges
       |  UNION
       |  SELECT r.doc_id, e.y AS nb FROM reach r JOIN edges e ON e.x = r.nb)""".stripMargin

  /** CTE chain recomputing [[ops.Cluster]]'s deterministic fixed-point
    * k-means INDEPENDENTLY in DuckDB: derived feature-hash embeddings in
    * long format (`el(doc_id, d, x)` — same construction as the q48
    * oracle), lowest-id init, `iters` assignment rounds with exact-HUGEINT
    * distances and floor fixed-point centroid updates (empty clusters
    * carry the previous centroid via COALESCE). Ends after `ka{iters}`
    * with NO trailing comma; callers append `, more AS (...)` CTEs or the
    * final SELECT.
    */
  private def kmeansCtes(k: Int, iters: Int, dim: Int, shift: Long): String = {
    val el =
      s"""WITH kt AS (SELECT doc_id, unnest(${tokens(asciiLower("text"))}) AS t FROM documents),
         |kh1 AS (SELECT doc_id, CAST(${OracleHash.fnvOf("t")} AS VARCHAR) AS s1 FROM kt),
         |kh AS (SELECT doc_id, ${OracleHash.fnvOf("s1")} AS h FROM kh1),
         |kc AS (SELECT doc_id,
         |        CAST((CAST(h AS UBIGINT) >> 32) % $dim AS BIGINT) AS d,
         |        CASE WHEN (CAST(h AS UBIGINT) >> 40) & 1 = 1 THEN 1 ELSE -1 END AS sgn
         |      FROM kh),
         |ks AS (SELECT doc_id, d, SUM(sgn) AS v FROM kc GROUP BY 1, 2),
         |kg AS (SELECT dd.doc_id, CAST(r.i AS BIGINT) AS d FROM documents dd, range(0, $dim) r(i)),
         |el AS (SELECT kg.doc_id, kg.d, CAST(COALESCE(ks.v, 0) AS BIGINT) AS x
         |       FROM kg LEFT JOIN ks ON ks.doc_id = kg.doc_id AND ks.d = kg.d),
         |ki AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS cluster
         |       FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT $k)),
         |kc0 AS (SELECT ki.cluster, el.d, el.x * $shift AS cf
         |        FROM ki JOIN el ON el.doc_id = ki.doc_id),""".stripMargin
    val rounds = (1 to iters).map { i =>
      val assign =
        s"""ka$i AS (SELECT doc_id, cluster, d2 FROM (
           |  SELECT doc_id, cluster, d2,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY d2, cluster) AS rn
           |  FROM (SELECT el.doc_id, c.cluster,
           |          CAST(SUM((el.x * $shift - c.cf) * (el.x * $shift - c.cf)) AS BIGINT) AS d2
           |        FROM el JOIN kc${i - 1} c ON el.d = c.d
           |        GROUP BY el.doc_id, c.cluster))
           |  WHERE rn = 1)""".stripMargin
      val update =
        if (i == iters) ""
        else
          s""",
             |km$i AS (SELECT a.cluster, el.d, SUM(el.x) AS s, COUNT(*) AS n
             |        FROM ka$i a JOIN el ON el.doc_id = a.doc_id GROUP BY 1, 2),
             |kc$i AS (SELECT p.cluster, p.d,
             |          COALESCE(CAST(floor(CAST(m.s AS DOUBLE) * $shift / m.n) AS BIGINT), p.cf) AS cf
             |        FROM kc${i - 1} p LEFT JOIN km$i m ON m.cluster = p.cluster AND m.d = p.d),""".stripMargin
      assign + update
    }.mkString("\n")
    el + "\n" + rounds
  }

  val oracle: Map[String, String] = Map(
    "q01_n1_normalize" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${norm(Raw)} AS norm FROM documents",

    "q02_g2_assemble" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, $Raw AS raw FROM documents",

    "q03_g1_chunk" ->
      s"$ChunkCte SELECT doc_id, id, text, norm, idx FROM chunks",

    "q04_p3_chrome" ->
      s"$ChunkCte SELECT doc_id, id, text, norm, idx FROM filtered",

    "q05_a1_exact_kept" ->
      s"$ChunkCte SELECT doc_id, id, text, norm, idx FROM exact_ranked WHERE rn = 1",

    "q06_a1_exact_dropped" ->
      (s"$ChunkCte SELECT doc_id, id AS chunk_id, 'exact_duplicate' AS reason, " +
        "first_id AS matched_chunk_id, 0 AS distance, " +
        s"${OracleHash.previewSql("text", 200)} AS preview " +
        "FROM exact_ranked WHERE rn > 1"),

    "q07_a2_stats_exact" ->
      (s"$ChunkCte SELECT doc_id, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_count, " +
        "CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_count, " +
        "COUNT(*) AS input_count FROM exact_ranked GROUP BY doc_id"),

    "q08_a3_markdown" ->
      (s"$ChunkCte SELECT doc_id, rtrim('# Extracted Notes' || $NN || " +
        s"string_agg('<!-- ' || id || ' -->' || chr(10) || " +
        s"replace(replace(text, chr(13) || chr(10), chr(10)), chr(13), chr(10)) || $NN, '' ORDER BY idx), " +
        "chr(10)) || chr(10) AS markdown FROM exact_ranked WHERE rn = 1 GROUP BY doc_id"),

    "q09_s3_jsonl" ->
      (s"$ChunkCte SELECT doc_id, id, " +
        s"${OracleHash.previewSql("text", 500)} AS text, " +
        "idx AS index, strlen(text) AS len FROM filtered"),

    "q10_p1_stage_names" ->
      ("""WITH media AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         unnest(['img_' || CAST(doc_id AS VARCHAR) || '_1.png',
         |                 'img_' || CAST(doc_id AS VARCHAR) || '_2.jpg']) AS media_ref,
         |         unnest([1, 2]) AS n
         |  FROM documents)
         |SELECT doc_id, media_ref,
         |       printf('%04d', row_number() OVER (PARTITION BY doc_id ORDER BY n))
         |         || lower(regexp_extract(media_ref, '(\.[A-Za-z]+)$', 1)) AS staged
         |FROM media""").stripMargin,

    "q11_o1_natural_rank" ->
      ("""WITH names AS (SELECT 'IMG_' || CAST(p_partkey AS VARCHAR) || '.png' AS name FROM part)
         |SELECT name, row_number() OVER (ORDER BY CAST(regexp_extract(name, 'IMG_(\d+)', 1) AS BIGINT)) AS rank
         |FROM names""").stripMargin,

    "q12_h4_hamming" ->
      ("SELECT l_orderkey, l_partkey, l_linenumber, " +
        "CAST(bit_count(xor(l_orderkey * 2654435761, l_partkey * 40503)) AS BIGINT) AS hd " +
        "FROM lineitem"),

    "q13_p6_sanity" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, strlen(${trimWs(Raw)}) >= 20 AS valid FROM documents",

    "q14_extract_metrics" ->
      (s"$ChunkCte SELECT doc_id, COUNT(*) AS n_chunks, " +
        s"CAST(SUM(CASE WHEN ${chromeKeep("norm")} THEN 0 ELSE 1 END) AS BIGINT) AS n_chrome_dropped, " +
        s"CAST(floor(SUM(CASE WHEN ${chromeKeep("norm")} THEN 0 ELSE 1 END) * 10000.0 / COUNT(*)) AS BIGINT) AS boilerplate_ratio_bp " +
        "FROM chunks GROUP BY doc_id"),

    // ---- simhash/greedy-dedup oracles: the 64-bit signatures are recomputed
    // INDEPENDENTLY in DuckDB (HUGEINT modular FNV-1a over hex-extracted
    // bytes + vectorized bit counting), and the reference's order-dependent
    // greedy windowed scan runs as a RECURSIVE CTE — see graft.OracleHash ----

    "q15_d1_dedup_kept" ->
      (s"""$ChunkCteRec${dedupCte()}
         |SELECT s.doc_id, s.id, s.text, s.norm, s.idx
         |FROM g_v v JOIN g_sigs s ON v.doc_id = s.doc_id AND v.v_id = s.id
         |WHERE v.v_kept""").stripMargin,

    "q16_d1_dedup_dropped" ->
      (s"""$ChunkCteRec${dedupCte()}
         |SELECT doc_id, id AS chunk_id, 'exact_duplicate' AS reason, first_id AS matched_id,
         |       0 AS distance, ${OracleHash.previewSql("text", 200)} AS preview
         |FROM exact_ranked WHERE rn > 1
         |UNION ALL
         |SELECT v.doc_id, v.v_id AS chunk_id, 'near_duplicate' AS reason, v.v_match AS matched_id,
         |       v.v_dist AS distance, ${OracleHash.previewSql("s.text", 200)} AS preview
         |FROM g_v v JOIN g_sigs s ON v.doc_id = s.doc_id AND v.v_id = s.id
         |WHERE NOT v.v_kept""").stripMargin,

    "q17_pipeline_spans" ->
      (s"""$ChunkCteRec${dedupCte()}
         |SELECT v.doc_id, 'text' AS kind, s.text, '' AS media_ref, v.v_korder AS "order"
         |FROM g_v v JOIN g_sigs s ON v.doc_id = s.doc_id AND v.v_id = s.id
         |WHERE v.v_kept""").stripMargin,

    "q18_pipeline_metrics" ->
      (s"""$ChunkCteRec${dedupCte()},
         |m_ch AS (SELECT doc_id, COUNT(*) AS n_chunks,
         |    CAST(SUM(CASE WHEN ${chromeKeep("norm")} THEN 0 ELSE 1 END) AS BIGINT) AS n_chrome_dropped
         |  FROM chunks GROUP BY doc_id),
         |m_ex AS (SELECT doc_id, COUNT(*) AS input_count,
         |    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups
         |  FROM exact_ranked GROUP BY doc_id),
         |m_sim AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN v_kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_count,
         |    CAST(SUM(CASE WHEN v_kept THEN 0 ELSE 1 END) AS BIGINT) AS near_dups
         |  FROM g_v GROUP BY doc_id)
         |SELECT c.doc_id, CAST(12 AS BIGINT) AS n_spans, c.n_chunks, c.n_chrome_dropped,
         |       COALESCE(e.input_count, CAST(0 AS BIGINT)) AS input_count,
         |       COALESCE(s.kept_count, CAST(0 AS BIGINT)) AS kept_count,
         |       COALESCE(e.exact_dups, CAST(0 AS BIGINT)) + COALESCE(s.near_dups, CAST(0 AS BIGINT)) AS dropped_count,
         |       COALESCE(e.exact_dups, CAST(0 AS BIGINT)) AS exact_dups,
         |       COALESCE(s.near_dups, CAST(0 AS BIGINT)) AS near_dups,
         |       CAST(floor(c.n_chrome_dropped * 10000.0 / c.n_chunks) AS BIGINT) AS boilerplate_ratio_bp,
         |       CASE WHEN COALESCE(e.input_count, 0) > 0
         |            THEN CAST(floor((COALESCE(e.exact_dups, 0) + COALESCE(s.near_dups, 0)) * 10000.0 / e.input_count) AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS dedup_rate_bp
         |FROM m_ch c LEFT JOIN m_ex e USING (doc_id) LEFT JOIN m_sim s USING (doc_id)""").stripMargin,

    "q19_d2_both_kept" ->
      (s"""$ChunkCteRec${dedupCte(fullInput = true)}
         |SELECT v.doc_id, v.v_id AS id, v.v_idx AS idx
         |FROM g_v v JOIN exact_ranked e ON v.doc_id = e.doc_id AND v.v_id = e.id
         |WHERE v.v_kept AND e.rn = 1""").stripMargin,

    "q35_dedup_window1" ->
      (s"""$ChunkCteRec${dedupCte(window = 1)}
         |SELECT v.doc_id, v.v_id AS id, v.v_idx AS idx FROM g_v v WHERE v.v_kept""").stripMargin,

    "q34_s5_report" ->
      (s"""$ChunkCteRec${dedupCte()},
         |r_drop AS (
         |  SELECT doc_id, id AS chunk_id, 'exact_duplicate' AS reason, first_id AS matched_id, 0 AS distance
         |  FROM exact_ranked WHERE rn > 1
         |  UNION ALL
         |  SELECT doc_id, v_id, 'near_duplicate', v_match, v_dist FROM g_v WHERE NOT v_kept),
         |r_base AS (SELECT doc_id, COUNT(*) AS input_chunks FROM exact_ranked GROUP BY doc_id),
         |r_ent AS (SELECT doc_id, reason,
         |    chunk_id || '|' || reason || '|' || matched_id || '|' || CAST(distance AS VARCHAR) AS entry
         |  FROM r_drop),
         |r_dig AS (SELECT doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS dropped,
         |    CAST(SUM(CASE WHEN reason = 'exact_duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
         |    CAST(SUM(CASE WHEN reason = 'near_duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS near_dups,
         |    md5(string_agg(entry, ';' ORDER BY entry)) AS dropped_digest
         |  FROM r_ent GROUP BY doc_id)
         |SELECT b.doc_id, b.input_chunks,
         |       b.input_chunks - COALESCE(d.dropped, 0) AS kept,
         |       COALESCE(d.dropped, CAST(0 AS BIGINT)) AS dropped,
         |       COALESCE(d.exact_dups, CAST(0 AS BIGINT)) AS exact_dups,
         |       COALESCE(d.near_dups, CAST(0 AS BIGINT)) AS near_dups,
         |       COALESCE(d.dropped_digest, md5('')) AS dropped_digest,
         |       '${DedupeConfig().method}' AS method, ${DedupeConfig().simHashK} AS simhash_k,
         |       ${DedupeConfig().simHashThreshold} AS simhash_threshold, ${DedupeConfig().window} AS "window"
         |FROM r_base b LEFT JOIN r_dig d USING (doc_id)""").stripMargin,

    "q20_h3_doc_sigs" ->
      (s"""WITH d0 AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${norm(Raw)} AS nrm,
         |            CAST(doc_id AS VARCHAR) AS rk FROM documents),
         |${OracleHash.simhashCtes("d0", "nrm", 5, "dsig")}
         |SELECT doc_id, sig FROM dsig""").stripMargin,

    "q21_lsh_doc_pairs" ->
      (s"""WITH d0 AS (SELECT doc_id, ${norm("text")} AS nrm, CAST(doc_id AS VARCHAR) AS rk FROM documents),
         |${OracleHash.simhashCtes("d0", "nrm", 5, "dsig")},
         |keyed AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM dsig),
         |kb AS (SELECT doc_id, sig, band,
         |       (${toUnsigned("sig")} >> CAST(band * 8 AS INT)) & 255 AS band_key FROM keyed)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS distance
         |FROM kb a JOIN kb b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6""").stripMargin,

    "q24_minhash_lsh_pairs" -> {
      val mixCols = (0 until 16).map(i => s"${OracleHash.minhashMix("h", i)} AS m$i").mkString(", ")
      val minCols = (0 until 16).map(i => s"MIN(m$i) AS m$i").mkString(", ")
      val allM = (0 until 16).map(i => s"m$i").mkString(", ")
      val bandSel = (0 until 4).map { b =>
        val key = (b * 4 until b * 4 + 4).map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, $key AS bkey, $allM FROM msig"
      }.mkString(" UNION ALL ")
      val agreeExpr = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ${shingleSets(3)},
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sized),
         |mh AS (SELECT doc_id, ${OracleHash.fnvOf("shingle")} AS h FROM ex),
         |mx AS (SELECT doc_id, $mixCols FROM mh),
         |msig AS (SELECT doc_id, $minCols FROM mx GROUP BY doc_id),
         |bands AS ($bandSel)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST($agreeExpr AS INT) AS agree
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE $agreeExpr >= 8""".stripMargin
    },

    "q27_ann_lsh_topk" ->
      (s"""WITH hp AS (
         |  SELECT bb.b AS bit, dd.d AS dim,
         |         CASE WHEN (CAST(${OracleHash.fnvOf("bb.b || ':' || dd.d || ':hp'")} AS UBIGINT) >> 32) % 2 = 0
         |              THEN -1.0 ELSE 1.0 END AS sgn
         |  FROM range(0, 12) bb(b),
         |       (SELECT unnest(range(0, len(embedding))) AS d
         |        FROM (SELECT embedding FROM embeddings LIMIT 1)) dd(d)),
         |hpr AS (SELECT bit, list(sgn ORDER BY dim) AS w FROM hp GROUP BY bit),
         |sb AS (SELECT v.vec_id, h.bit,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(v.embedding, h.w), p -> CAST(p[1] AS DOUBLE) * p[2])),
         |      (s, x) -> s + x) AS s
         |  FROM embeddings v, hpr h),
         |bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN s > 0 THEN (1 << bit) ELSE 0 END) AS INT) AS bucket
         |  FROM sb GROUP BY vec_id),
         |prb AS (SELECT vec_id AS query_id, bucket FROM bkt
         |  UNION ALL
         |  SELECT b.vec_id, CAST(xor(CAST(b.bucket AS BIGINT), 1 << r.i) AS INT) FROM bkt b, range(0, 12) r(i)),
         |cand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM prb p JOIN bkt n ON p.bucket = n.bucket AND p.query_id <> n.vec_id),
         |scored AS (SELECT c.query_id, c.neighbor_id, ${cosBp("q.embedding", "n.embedding")} AS cos_bp
         |  FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
         |              JOIN embeddings n ON n.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, cos_bp, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_bp DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 10""").stripMargin,

    // bucketed embedding near-dup pairs: same hyperplane/bucket/probe CTEs
    // as q27, ending in threshold-filtered distinct pairs instead of top-k
    "q49_embed_pairs_lsh" ->
      (s"""WITH hp AS (
         |  SELECT bb.b AS bit, dd.d AS dim,
         |         CASE WHEN (CAST(${OracleHash.fnvOf("bb.b || ':' || dd.d || ':hp'")} AS UBIGINT) >> 32) % 2 = 0
         |              THEN -1.0 ELSE 1.0 END AS sgn
         |  FROM range(0, 12) bb(b),
         |       (SELECT unnest(range(0, len(embedding))) AS d
         |        FROM (SELECT embedding FROM embeddings LIMIT 1)) dd(d)),
         |hpr AS (SELECT bit, list(sgn ORDER BY dim) AS w FROM hp GROUP BY bit),
         |sb AS (SELECT v.vec_id, h.bit,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(v.embedding, h.w), p -> CAST(p[1] AS DOUBLE) * p[2])),
         |      (s, x) -> s + x) AS s
         |  FROM embeddings v, hpr h),
         |bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN s > 0 THEN (1 << bit) ELSE 0 END) AS INT) AS bucket
         |  FROM sb GROUP BY vec_id),
         |prb AS (SELECT vec_id AS id_a, bucket FROM bkt
         |  UNION ALL
         |  SELECT b.vec_id, CAST(xor(CAST(b.bucket AS BIGINT), 1 << r.i) AS INT) FROM bkt b, range(0, 12) r(i)),
         |cand AS (SELECT DISTINCT p.id_a, n.vec_id AS id_b
         |  FROM prb p JOIN bkt n ON p.bucket = n.bucket AND p.id_a < n.vec_id),
         |scored AS (SELECT c.id_a, c.id_b, ${cosBp("a.embedding", "b.embedding")} AS cos_bp
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
         |              JOIN embeddings b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, cos_bp FROM scored WHERE cos_bp >= 2500""").stripMargin,

    "q37_ann_ivf_topk" ->
      (s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_e FROM embeddings ORDER BY vec_id LIMIT 32),
         |sim AS (SELECT v.vec_id, v.embedding, c.cent_id,
         |               ${cosRaw("v.embedding", "c.c_e")} AS csim
         |        FROM embeddings v, cents c),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank FROM sim),
         |assign AS (SELECT vec_id AS neighbor_id, cent_id AS cell FROM ranked WHERE crank = 1),
         |probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM ranked WHERE crank <= 8),
         |cand AS (SELECT DISTINCT p.query_id, a.neighbor_id
         |         FROM probes p JOIN assign a USING (cell) WHERE p.query_id <> a.neighbor_id),
         |scored AS (SELECT c.query_id, c.neighbor_id, ${cosBp("q.embedding", "n.embedding")} AS cos_bp
         |           FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
         |                       JOIN embeddings n ON n.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, cos_bp, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_bp DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 10""").stripMargin,

    // genuine connected components (NOT a replica of the Spark iteration
    // schedule): transitive closure by recursive CTE — `reach` is the set
    // of all (node, reachable node) pairs, winner = min reachable (incl.
    // self). An oracle that mirrored a fixed hop count would go green on
    // deep chain clusters the operator mislabels; this one cannot.
    "q38_cluster_winners" ->
      s"""$CcWinnersCtes
         |SELECT doc_id, least(MIN(nb), doc_id) AS winner FROM reach GROUP BY doc_id""".stripMargin,

    // deduped corpus: survivors = component winners + cluster-free docs,
    // n_members = component size (1 for singletons). Winner table comes from
    // the same transitive-closure CC as q38 — independent of the Spark
    // label-propagation schedule.
    "q47_deduped_corpus" ->
      s"""$CcWinnersCtes,
         |w AS (SELECT doc_id, least(MIN(nb), doc_id) AS winner FROM reach GROUP BY doc_id),
         |sz AS (SELECT winner, CAST(COUNT(*) AS BIGINT) AS n_members FROM w GROUP BY winner)
         |SELECT d.doc_id, d.text, COALESCE(s.n_members, CAST(1 AS BIGINT)) AS n_members
         |FROM documents d
         |LEFT JOIN w ON w.doc_id = d.doc_id
         |LEFT JOIN sz s ON s.winner = d.doc_id
         |WHERE w.doc_id IS NULL OR w.winner = d.doc_id""".stripMargin,

    "q33_media_decode" ->
      (s"""WITH media AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         unnest(['img_' || CAST(doc_id AS VARCHAR) || '_1.png',
         |                 'img_' || CAST(doc_id AS VARCHAR) || '_2.jpg']) AS media_ref
         |  FROM documents),
         |pay AS (SELECT doc_id, media_ref, 'IMGDATA:' || media_ref || ':' || repeat('x', 64) AS payload FROM media),
         |hh AS (SELECT doc_id, media_ref, payload, ${OracleHash.fnvOf("payload")} AS h FROM pay)
         |SELECT doc_id, media_ref,
         |  CASE regexp_extract(media_ref, '([^.]*)$$', 1) WHEN 'png' THEN 'png'
         |       WHEN 'jpg' THEN 'jpeg' WHEN 'jpeg' THEN 'jpeg'
         |       ELSE regexp_extract(media_ref, '([^.]*)$$', 1) END AS format,
         |  CAST(strlen(payload) AS BIGINT) AS n_bytes,
         |  CAST(256 + ((CAST(${OracleHash.toSigned("h")} AS HUGEINT) % 1280 + 1280) % 1280) AS BIGINT) AS width,
         |  CAST(256 + (CAST(h AS UBIGINT) >> 17) % 720 AS BIGINT) AS height,
         |  CAST(5000 + (CAST(h AS UBIGINT) >> 32) % 5000 AS BIGINT) AS ocr_conf_bp
         |FROM hh""").stripMargin,

    "q41_media_resize" ->
      (s"""WITH media AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         unnest(['img_' || CAST(doc_id AS VARCHAR) || '_1.png',
         |                 'img_' || CAST(doc_id AS VARCHAR) || '_2.jpg']) AS media_ref
         |  FROM documents),
         |pay AS (SELECT doc_id, media_ref, 'IMGDATA:' || media_ref || ':' || repeat('x', 64) AS payload FROM media),
         |hh AS (SELECT doc_id, media_ref, ${OracleHash.fnvOf("payload")} AS h FROM pay),
         |dims AS (SELECT doc_id, media_ref,
         |  CAST(256 + ((CAST(${OracleHash.toSigned("h")} AS HUGEINT) % 1280 + 1280) % 1280) AS BIGINT) AS width,
         |  CAST(256 + (CAST(h AS UBIGINT) >> 17) % 720 AS BIGINT) AS height
         |  FROM hh)
         |SELECT doc_id, media_ref, width, height,
         |  CASE WHEN greatest(width, height) <= 512 THEN width
         |       ELSE CAST(floor(width * 512.0 / greatest(width, height)) AS BIGINT) END AS out_w,
         |  CASE WHEN greatest(width, height) <= 512 THEN height
         |       ELSE CAST(floor(height * 512.0 / greatest(width, height)) AS BIGINT) END AS out_h
         |FROM dims""").stripMargin,

    "q42_frame_sample" ->
      (s"""WITH media AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         unnest(['img_' || CAST(doc_id AS VARCHAR) || '_1.png',
         |                 'img_' || CAST(doc_id AS VARCHAR) || '_2.jpg']) AS media_ref
         |  FROM documents),
         |pay AS (SELECT doc_id, media_ref, 'IMGDATA:' || media_ref || ':' || repeat('x', 64) AS payload FROM media),
         |hh AS (SELECT doc_id, media_ref, ${OracleHash.fnvOf("payload")} AS h FROM pay),
         |nf AS (SELECT doc_id, media_ref,
         |  CAST(((CAST(${OracleHash.toSigned("h")} AS HUGEINT) % 240 + 240) % 240) + 1 AS BIGINT) AS n_frames
         |  FROM hh)
         |SELECT doc_id, media_ref, n_frames,
         |       CAST(unnest(range(0, n_frames, 24)) AS BIGINT) AS frame_idx,
         |       CAST(floor(CAST(unnest(range(0, n_frames, 24)) AS BIGINT) * 1000.0 / 24) AS BIGINT) AS ts_ms
         |FROM nf""").stripMargin,

    "q22_dedup_exact_chunks" ->
      (s"$ChunkCte SELECT md5(norm) AS norm_md5, " +
        "MIN(doc_id || '/' || id) AS keep_chunk, COUNT(*) AS n_copies " +
        "FROM chunks GROUP BY md5(norm)"),

    "q23_ngram_jaccard_pairs" ->
      (s"""WITH sets AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(${tokens(asciiLower("text"))}) - 2, 0) + 1),
         |           i -> array_to_string(list_slice(${tokens(asciiLower("text"))}, i, i + 2), ' '))) AS sh
         |  FROM documents
         |), sized AS (
         |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS set_size FROM sets WHERE len(sh) > 0
         |), ex AS (
         |  SELECT doc_id, set_size, unnest(sh) AS shingle FROM sized
         |), capped AS (
         |  SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df FROM ex) WHERE df <= 1000
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.set_size AS size_a, b.set_size AS size_b,
         |         CAST(COUNT(*) AS BIGINT) AS common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT doc_a, doc_b, common,
         |       CAST(floor(common * 10000.0 / (size_a + size_b - common)) AS BIGINT) AS jaccard_bp
         |FROM pairs WHERE CAST(floor(common * 10000.0 / (size_a + size_b - common)) AS BIGINT) >= 1000""").stripMargin,

    "q25_embed_cos_pairs" ->
      ("""WITH a AS (SELECT vec_id AS id_a, embedding AS e_a FROM embeddings),
         |     b AS (SELECT vec_id AS id_b, embedding AS e_b FROM embeddings)
         |SELECT id_a, id_b, CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_a, e_b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v) / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_a, e_a), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)) * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_b, e_b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)))) * 10000) AS BIGINT) AS cos_bp
         |FROM a JOIN b ON id_a < id_b
         |WHERE CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_a, e_b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v) / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_a, e_a), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)) * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_b, e_b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)))) * 10000) AS BIGINT) >= 2500""").stripMargin,

    "q26_ann_topk" ->
      ("""WITH a AS (SELECT vec_id AS query_id, embedding AS e_q FROM embeddings),
         |     b AS (SELECT vec_id AS neighbor_id, embedding AS e_n FROM embeddings),
         |     scored AS (
         |  SELECT query_id, neighbor_id, CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_q, e_n), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v) / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_q, e_q), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)) * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e_n, e_n), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (s, v) -> s + v)))) * 10000) AS BIGINT) AS cos_bp
         |  FROM a JOIN b ON query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, cos_bp, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_bp DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 10""").stripMargin,

    // feature-hashing embedding recomputed independently: FNV per token in
    // HUGEINT, index/sign from the high bits, integer sums; the dense grid
    // (documents x range(dim)) restores the zero coordinates the Spark
    // array always carries
    "q48_doc_embed" ->
      (s"""WITH toks AS (SELECT doc_id, unnest(${tokens(asciiLower("text"))}) AS t FROM documents),
         |h1 AS (SELECT doc_id, CAST(${OracleHash.fnvOf("t")} AS VARCHAR) AS s1 FROM toks),
         |hh AS (SELECT doc_id, ${OracleHash.fnvOf("s1")} AS h FROM h1),
         |c AS (SELECT doc_id,
         |        CAST((CAST(h AS UBIGINT) >> 32) % ${ops.Embed.Dim} AS BIGINT) AS dim_idx,
         |        CASE WHEN (CAST(h AS UBIGINT) >> 40) & 1 = 1 THEN 1 ELSE -1 END AS sgn
         |      FROM hh),
         |s AS (SELECT doc_id, dim_idx, SUM(sgn) AS v FROM c GROUP BY 1, 2),
         |g AS (SELECT d.doc_id, CAST(r.i AS BIGINT) AS dim_idx
         |      FROM documents d, range(0, ${ops.Embed.Dim}) r(i))
         |SELECT g.doc_id, g.dim_idx, CAST(COALESCE(s.v, 0) AS BIGINT) AS val
         |FROM g LEFT JOIN s ON s.doc_id = g.doc_id AND s.dim_idx = g.dim_idx""").stripMargin,

    // ---- dataset assembly: constants interpolated from graft.ops.Splits
    // so Spark and oracle move in lock-step; buckets are powers of two so
    // the HUGEINT modulus here equals the Spark signed low-bits mask ----
    "q50_train_split" -> {
      val b = s"(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Splits.SplitSalt}'")} % ${Splits.SplitBuckets})"
      s"""WITH b AS (SELECT doc_id, CAST($b AS BIGINT) AS bucket FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < ${Splits.TrainLt} THEN 'train'
         |       WHEN bucket < ${Splits.ValLt} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin
    },

    "q51_stratified_sample" -> {
      val key = s"(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Splits.SampleSalt}'")} % ${Splits.SampleBuckets})"
      val rateCase = Splits.DefaultRates
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", s" ELSE ${Splits.SampleBuckets} END")
      s"""WITH b AS (SELECT doc_id, lang, CAST($key AS BIGINT) AS sample_key,
         |           CAST($rateCase AS BIGINT) AS rate FROM documents)
         |SELECT doc_id, lang, sample_key, rate FROM b WHERE sample_key < rate""".stripMargin
    },

    // all-pairs recomputation is a FAIR oracle for the banded Spark near
    // screen: threshold 6 < 8 bands means banding has exact recall
    "q52_incremental_dedup" -> {
      val b = s"(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Splits.SplitSalt}'")} % ${Splits.SplitBuckets})"
      s"""WITH d0 AS (SELECT doc_id, ${norm("text")} AS nrm, CAST(doc_id AS VARCHAR) AS rk,
         |            CAST($b AS BIGINT) AS bucket FROM documents),
         |${OracleHash.simhashCtes("d0", "nrm", 5, "dsig")},
         |sg AS (SELECT doc_id, bucket, sig, ${OracleHash.fnvOf("nrm")} AS xh FROM dsig),
         |inc AS (SELECT doc_id, sig, xh FROM sg WHERE bucket >= ${Splits.ValLt}
         |        UNION ALL
         |        SELECT doc_id + 1000000 AS doc_id, sig, xh FROM sg
         |        WHERE bucket < ${Splits.ValLt} AND doc_id % 50 = 0),
         |bas AS (SELECT * FROM sg WHERE bucket < ${Splits.ValLt}),
         |ex AS (SELECT i.doc_id, MIN(b.doc_id) AS matched_id
         |       FROM inc i JOIN bas b ON i.xh = b.xh GROUP BY i.doc_id),
         |nc AS (SELECT i.doc_id, b.doc_id AS bid, CAST(bit_count(xor(i.sig, b.sig)) AS INT) AS d
         |       FROM inc i JOIN bas b ON bit_count(xor(i.sig, b.sig)) <= 6
         |       WHERE i.doc_id NOT IN (SELECT doc_id FROM ex)),
         |nr AS (SELECT doc_id, bid AS matched_id, d AS distance FROM
         |       (SELECT doc_id, bid, d, row_number() OVER (PARTITION BY doc_id ORDER BY d, bid) AS rn
         |        FROM nc) WHERE rn = 1)
         |SELECT doc_id, matched_id, CAST(0 AS INT) AS distance, 'exact' AS reason FROM ex
         |UNION ALL SELECT doc_id, matched_id, distance, 'near' AS reason FROM nr
         |UNION ALL SELECT doc_id, CAST(NULL AS BIGINT) AS matched_id,
         |  CAST(NULL AS INT) AS distance, 'novel' AS reason
         |FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM ex)
         |  AND doc_id NOT IN (SELECT doc_id FROM nr)""".stripMargin
    },

    "q28_lang_id" ->
      (s"""SELECT doc_id,
         |  CAST(${stopHits(tokens("lower(text)"), TextAnalysis.EnStop)} AS BIGINT) AS en_hits,
         |  CAST(${stopHits(tokens("lower(text)"), TextAnalysis.FrStop)} AS BIGINT) AS fr_hits,
         |  CAST(${stopHits(tokens("lower(text)"), TextAnalysis.DeStop)} AS BIGINT) AS de_hits,
         |  CAST(len(${tokens("lower(text)")}) AS BIGINT) AS n_tokens,
         |  CASE WHEN ${stopHits(tokens("lower(text)"), TextAnalysis.EnStop)} >= ${stopHits(tokens("lower(text)"), TextAnalysis.FrStop)}
         |        AND ${stopHits(tokens("lower(text)"), TextAnalysis.EnStop)} >= ${stopHits(tokens("lower(text)"), TextAnalysis.DeStop)} THEN 'en'
         |       WHEN ${stopHits(tokens("lower(text)"), TextAnalysis.FrStop)} >= ${stopHits(tokens("lower(text)"), TextAnalysis.DeStop)} THEN 'fr'
         |       ELSE 'de' END AS lang_pred
         |FROM documents""").stripMargin,

    "q29_quality" ->
      (s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(${tokens("text")}) AS BIGINT) AS n_tokens,
         |  CAST(floor(length(text) * 10000.0 / greatest(len(${tokens("text")}), 1)) AS BIGINT) AS mean_word_len_bp,
         |  CAST(floor(len(regexp_extract_all(text, '[^a-zA-Z0-9\t\n\f\r ]')) * 10000.0 / greatest(length(text), 1)) AS BIGINT) AS punct_ratio_bp,
         |  CAST(floor(len(regexp_extract_all(text, '[0-9]')) * 10000.0 / greatest(length(text), 1)) AS BIGINT) AS digit_ratio_bp,
         |  CAST(floor(${stopHits(tokens("lower(text)"), TextAnalysis.EnStop)} * 10000.0 / greatest(len(${tokens("text")}), 1)) AS BIGINT) AS stopword_ratio_bp
         |FROM documents""").stripMargin,

    // exact inverted-CDF percentiles over the bounded bp histogram — the
    // same construction as the Spark side (approx_percentile is
    // deliberately NOT used: sketch merges are engine-specific)
    "q53_quality_gate" -> {
      val punctBp = "CAST(floor(len(regexp_extract_all(text, '[^a-zA-Z0-9\t\n\f\r ]')) * 10000.0 / greatest(length(text), 1)) AS BIGINT)"
      s"""WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |           $punctBp AS punct_ratio_bp FROM documents),
         |h AS (SELECT punct_ratio_bp AS v, COUNT(*) AS c FROM m GROUP BY 1),
         |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h),
         |thr AS (SELECT MIN(CASE WHEN cum >= ceil(0.05 * n) THEN v END) AS p_lo,
         |               MIN(CASE WHEN cum >= ceil(0.95 * n) THEN v END) AS p_hi FROM cum)
         |SELECT m.doc_id, m.punct_ratio_bp, thr.p_lo, thr.p_hi
         |FROM m, thr
         |WHERE m.n_chars >= 100 AND m.punct_ratio_bp BETWEEN thr.p_lo AND thr.p_hi""".stripMargin
    },

    // within-row repetition signals recomputed relationally (explode +
    // groupBy) — a structurally DIFFERENT construction from the Spark
    // fold, which is what makes the check adversarial; max(cnt*len) is the
    // tie-free "top bigram" definition shared with Repetition.signals
    "q54_repetition" ->
      (s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) ||
         |      string_split(text, chr(10))[1] || chr(10) || string_split(text, chr(10))[1]
         |    ELSE text END AS text FROM documents),
         |t AS (SELECT doc_id, length(text) AS n_chars,
         |    list_filter(string_split(text, chr(10)), l -> l <> '') AS ls,
         |    ${tokens("text")} AS tk FROM d),
         |l AS (SELECT doc_id, n_chars, tk, len(ls) AS n_lines,
         |    len(list_distinct(ls)) AS n_dl,
         |    COALESCE(list_aggregate(list_transform(ls, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS lc,
         |    COALESCE(list_aggregate(list_transform(list_distinct(ls), x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS dlc
         |  FROM t),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS gram FROM l),
         |c AS (SELECT doc_id, MAX(cnt * length(gram)) AS top_chars
         |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2) GROUP BY 1)
         |SELECT l.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(floor((n_lines - n_dl) * 10000.0 / greatest(n_lines, 1)) AS BIGINT) AS dup_line_frac_bp,
         |  CAST(floor((lc - dlc) * 10000.0 / greatest(lc, 1)) AS BIGINT) AS dup_line_char_frac_bp,
         |  CAST(floor(COALESCE(top_chars, 0) * 10000.0 / greatest(n_chars, 1)) AS BIGINT) AS top_bigram_char_frac_bp
         |FROM l LEFT JOIN c ON l.doc_id = c.doc_id""").stripMargin,

    // same planted footer as the Spark side; patterns interpolated from
    // graft.ops.Pii so both engines compile the identical regex source
    // (written to mean the same under Java backtracking and RE2
    // leftmost-longest — see Pii's scaladoc)
    "q55_pii_scrub" ->
      (s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || 'Contact: user' ||
         |    CAST(doc_id AS VARCHAR) || '@example.com or +1 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |    CAST((doc_id * 7) % 256 AS VARCHAR)
         |  ELSE text END AS text FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Pii.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${Pii.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |    '${Pii.Ipv4Re}', '<IP>', 'g'),
         |    '${Pii.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM p""").stripMargin,

    "q56_decontaminate" -> {
      val n = ops.Decontaminate.DefaultN
      s"""WITH tk AS (SELECT doc_id, ${tokens(asciiLower("text"))} AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
         |    i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS gram FROM tk),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |h AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |      FROM g JOIN ev USING (gram) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  COALESCE(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin
    },

    // the distributed two-pass prefix sum vs a plain window — integer
    // arithmetic, so they must agree EXACTLY
    "q57_pack_sequences" -> {
      val b = ops.Pack.DefaultBudget
      s"""WITH w AS (SELECT doc_id, CAST(len(${tokens("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM w)
         |SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
         |  CAST(cum_before // $b AS BIGINT) AS seq_id,
         |  CAST(cum_before % $b AS BIGINT) AS seq_offset FROM c""".stripMargin
    },

    "q58_vocab" ->
      (s"""WITH tk AS (SELECT doc_id, unnest(${tokens(asciiLower("text"))}) AS token FROM documents)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |FROM tk GROUP BY token HAVING COUNT(*) >= 2""").stripMargin,

    // pairs expanded over DISTINCT words weighted by word frequency (the
    // BPE-trainer shape); substring is 1-indexed character semantics on
    // both engines, single-char words filtered before expansion
    "q71_bpe_pairs" ->
      (s"""WITH tk AS (SELECT unnest(${tokens(asciiLower("text"))}) AS w FROM documents),
         |wc AS (SELECT w, COUNT(*) AS wf FROM tk GROUP BY 1 HAVING length(w) >= 2),
         |pr AS (SELECT wf, unnest(list_transform(range(1, length(w)),
         |                i -> substring(w, CAST(i AS INT), 2))) AS pair FROM wc)
         |SELECT pair, CAST(SUM(wf) AS BIGINT) AS n
         |FROM pr GROUP BY pair HAVING SUM(wf) >= 2""").stripMargin,

    // floor(log2(tf)) as length(bin(tf))-1 — exact integer bit arithmetic
    // on both engines (float log2 would round differently)
    "q59_unigram_score" ->
      (s"""WITH tk AS (SELECT doc_id, unnest(${tokens(asciiLower("text"))}) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS tf FROM tk GROUP BY 1),
         |p AS (SELECT tk.doc_id, SUM(length(bin(c.tf)) - 1) AS l2sum, COUNT(*) AS n_tokens
         |      FROM tk JOIN c USING (token) GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(floor(COALESCE(p.l2sum, 0) * 10000.0 / greatest(COALESCE(p.n_tokens, 0), 1)) AS BIGINT) AS uni_score_bp
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""").stripMargin,

    // the permutation position is ROW_NUMBER over the SIGNED hash (Spark
    // LongType ordering), doc_id as tiebreak — recomputed from the HUGEINT
    // fnv independently
    "q60_corpus_shuffle" -> {
      val h = OracleHash.toSigned(
        OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${ops.Splits.ShuffleSalt}'"))
      s"""WITH k AS (SELECT doc_id, $h AS shuffle_key FROM documents)
         |SELECT doc_id, shuffle_key,
         |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS shuffle_pos
         |FROM k""".stripMargin
    },

    // the duplicated set is keyed by the gram's fnv hash exactly as the
    // Spark side shuffles it (unsigned HUGEINT here — grouping is
    // representation-independent), so even a hash collision yields
    // identical output on both engines
    "q61_dup_ngrams" -> {
      val n = ops.Repetition.DefaultDupN
      s"""WITH tk AS (SELECT doc_id, ${tokens(asciiLower("text"))} AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
         |    i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS gram FROM tk),
         |gh AS (SELECT doc_id, ${OracleHash.fnvOf("gram")} AS h FROM g),
         |dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         |p AS (SELECT gh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
         |      FROM gh JOIN dup USING (h) GROUP BY 1)
         |SELECT tk.doc_id, CAST(greatest(len(t) - ${n - 1}, 0) AS BIGINT) AS n_pos,
         |  COALESCE(p.n_dup, 0) AS n_dup,
         |  CAST(floor(COALESCE(p.n_dup, 0) * 10000.0 /
         |    greatest(greatest(len(t) - ${n - 1}, 0), 1)) AS BIGINT) AS dup_ngram_frac_bp
         |FROM tk LEFT JOIN p ON tk.doc_id = p.doc_id""".stripMargin
    },

    // q61's gram/hash machinery with positions: duplicated gram starts
    // expand to covered token positions, survivors string_agg in order
    "q74_substring_dedup" -> {
      val n = ops.Repetition.DefaultDupN
      s"""WITH tk AS (SELECT doc_id, ${tokens(asciiLower("text"))} AS t FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(range(0, greatest(len(t) - ${n - 1}, 0))) AS pos,
         |        unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
         |          i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS gram FROM tk),
         |gh AS (SELECT doc_id, pos, ${OracleHash.fnvOf("gram")} AS h FROM g),
         |dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT gh.doc_id, gh.pos + r.d AS cpos
         |        FROM gh JOIN dup USING (h)
         |        CROSS JOIN (SELECT unnest(range(0, $n)) AS d) r),
         |tp AS (SELECT doc_id, unnest(t) AS w, unnest(range(0, len(t))) AS p FROM tk),
         |kept AS (SELECT tp.doc_id, tp.w, tp.p FROM tp
         |         LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.cpos
         |         WHERE cov.cpos IS NULL),
         |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned,
         |               CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
         |SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(t) AS BIGINT) - COALESCE(agg.n_kept, 0) AS n_removed,
         |  COALESCE(agg.cleaned, '') AS cleaned
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id""".stripMargin
    },

    // tf/df (not tf·log(N/df)) so the ranking is one exact integer product
    // + one correctly-rounded division per row — float logs round
    // differently across engines and a 1-ulp tie flip would change the
    // kept set; ties break on the token, so top-k is engine-independent
    "q75_tfidf_keywords" -> {
      val k = Vocab.KeywordsK
      s"""WITH tk AS (SELECT doc_id, unnest(${tokens(asciiLower("text"))}) AS token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |        CAST(floor(tf.tf * 10000.0 / df.df) AS BIGINT) AS score_bp
         |      FROM tf JOIN df USING (token)),
         |r AS (SELECT *, CAST(row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score_bp DESC, token) AS BIGINT) AS krank
         |      FROM s)
         |SELECT doc_id, token, tf, df, score_bp, krank FROM r WHERE krank <= $k""".stripMargin
    },

    // the capstone: every stage recomputed from its standalone-query twin
    // (q29/q54 gates, q56 grams, A1 norm-md5 dedup, q50 buckets, q57
    // prefix-sum packing), composed in the same order as the Spark plan
    "q76_curation_manifest" -> {
      val n = Decontaminate.DefaultN
      val punctBp = "CAST(floor(len(regexp_extract_all(text, '[^a-zA-Z0-9\t\n\f\r ]')) * 10000.0 / greatest(length(text), 1)) AS BIGINT)"
      val bkt = s"CAST(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Splits.SplitSalt}'")} % ${Splits.SplitBuckets} AS BIGINT)"
      s"""WITH l0 AS (SELECT doc_id, text,
         |        list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
         |      FROM documents WHERE doc_id % ${Curation.EvalMod} <> 0),
         |pass AS (SELECT doc_id, text FROM l0
         |      WHERE length(text) >= ${Curation.MinChars}
         |        AND $punctBp <= ${Curation.MaxPunctBp}
         |        AND CAST(floor((len(ls) - len(list_distinct(ls))) * 10000.0 /
         |              greatest(len(ls), 1)) AS BIGINT) <= ${Curation.MaxDupLineBp}),
         |tk AS (SELECT doc_id, ${tokens(asciiLower("text"))} AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
         |        i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS gram FROM tk),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % ${Curation.EvalMod} = 0),
         |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)),
         |clean AS (SELECT p.doc_id, p.text FROM pass p
         |      WHERE p.doc_id NOT IN (SELECT doc_id FROM cont)),
         |d AS (SELECT doc_id, text,
         |        CASE WHEN ${norm("text")} = '' THEN 'EMPTY:' || CAST(doc_id AS VARCHAR)
         |             ELSE md5(${norm("text")}) END AS h FROM clean),
         |w AS (SELECT doc_id, text FROM (
         |        SELECT doc_id, text,
         |          row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM d)
         |      WHERE rn = 1),
         |sp AS (SELECT doc_id, text,
         |        CASE WHEN $bkt < ${Splits.TrainLt} THEN 'train'
         |             WHEN $bkt < ${Splits.ValLt} THEN 'val'
         |             ELSE 'test' END AS split FROM w),
         |t2 AS (SELECT doc_id, split, CAST(len(${tokens("text")}) AS BIGINT) AS n_tokens FROM sp),
         |pk AS (SELECT doc_id, COALESCE(SUM(n_tokens) OVER
         |        (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |      FROM t2 WHERE split = 'train')
         |SELECT t2.doc_id, t2.split, t2.n_tokens,
         |  CAST(pk.cum // ${Pack.DefaultBudget} AS BIGINT) AS seq_id,
         |  CAST(pk.cum % ${Pack.DefaultBudget} AS BIGINT) AS seq_offset
         |FROM t2 LEFT JOIN pk ON t2.doc_id = pk.doc_id""".stripMargin
    },

    // the distinct-content count reuses the A1 exact-dedup key (HUGEINT
    // fnv of normalized text) so "duplicate" means the same thing here as
    // in the dedup surface; basis points floor'd from the same double
    // expression as the Spark side
    "q62_source_mixture" ->
      (s"""WITH t AS (SELECT source, CAST(len(${tokens("text")}) AS BIGINT) AS ntok,
         |            ${OracleHash.fnvOf(norm("text"))} AS h FROM documents),
         |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct FROM t GROUP BY 1),
         |m AS (SELECT MIN(n_tokens) AS min_tokens FROM s)
         |SELECT source, n_docs, n_tokens, n_distinct,
         |  CAST(floor((n_docs - n_distinct) * 10000.0 / n_docs) AS BIGINT) AS dup_frac_bp,
         |  CAST(floor(min_tokens * 10000.0 / n_tokens) AS BIGINT) AS rate_bp
         |FROM s, m""").stripMargin,

    // q62's rate table applied: keep iff coin·10000 < rate_bp·buckets —
    // exact integer cross-multiplication, no scaled-rate rounding
    "q72_apply_mixture" -> {
      val coin = s"(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Mixture.MixSalt}'")} % ${Splits.SampleBuckets})"
      s"""WITH t AS (SELECT source, CAST(len(${tokens("text")}) AS BIGINT) AS ntok,
         |            ${OracleHash.fnvOf(norm("text"))} AS h FROM documents),
         |s AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
         |m AS (SELECT MIN(n_tokens) AS min_tokens FROM s),
         |r AS (SELECT source, CAST(floor(min_tokens * 10000.0 / n_tokens) AS BIGINT) AS rate_bp FROM s, m),
         |d AS (SELECT doc_id, source, CAST($coin AS BIGINT) AS coin FROM documents)
         |SELECT d.doc_id, d.source, d.coin, r.rate_bp
         |FROM d JOIN r ON d.source = r.source
         |WHERE d.coin * 10000 < greatest(r.rate_bp, 1) * ${Splits.SampleBuckets}""".stripMargin
    },

    // corpus-wide boilerplate: drop EVERY occurrence of a chunk norm seen
    // in more than 2 distinct docs (anti-join vs the heavy-hash set)
    "q73_common_para" ->
      (s"$ChunkCte, heavy AS (SELECT md5(norm) AS h FROM chunks " +
        "GROUP BY md5(norm) HAVING COUNT(DISTINCT doc_id) > 2) " +
        "SELECT c.doc_id, c.id, c.idx FROM chunks c " +
        "LEFT JOIN heavy ON md5(c.norm) = heavy.h WHERE heavy.h IS NULL"),

    // the same union + running last_value(IGNORE NULLS) construction, same
    // (ts, tag, event_id) total order — inclusive-at-equal-ts pinned by
    // tag 0 < 1 on both engines; lag in integer microseconds
    "q65_asof_join" ->
      ("""WITH u AS (
         |  SELECT user_id, ts, 0 AS tag, event_id,
         |         CAST(NULL AS VARCHAR) AS event_type,
         |         event_id AS b_id, value AS b_value, ts AS b_ts
         |  FROM events WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT user_id, ts, 1 AS tag, event_id, event_type,
         |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         |         CAST(NULL AS TIMESTAMP)
         |  FROM events WHERE event_type <> 'purchase'),
         |w AS (
         |  SELECT *,
         |    LAST_VALUE(b_id IGNORE NULLS) OVER win AS asof_id,
         |    LAST_VALUE(b_value IGNORE NULLS) OVER win AS asof_value,
         |    LAST_VALUE(b_ts IGNORE NULLS) OVER win AS asof_ts
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, event_id
         |                 ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
         |  asof_id, asof_value, epoch_us(ts) - epoch_us(asof_ts) AS lag_us
         |FROM w WHERE tag = 1""").stripMargin,

    // the oracle uses the PLAIN range predicate (BETWEEN on integer
    // micros) — deliberately a different construction than the Spark
    // bucketed equi-join, so the bucketing trick itself is under test
    "q66_range_join" ->
      ("""SELECT p.event_id AS probe_id, b.event_id AS build_id, p.user_id,
         |  epoch_us(p.ts) - epoch_us(b.ts) AS delta_us
         |FROM events p JOIN events b ON p.user_id = b.user_id
         |WHERE p.event_type = 'click' AND b.event_type = 'purchase'
         |  AND epoch_us(p.ts) >= epoch_us(b.ts)
         |  AND epoch_us(p.ts) <= epoch_us(b.ts) + 3600000000""").stripMargin,

    // the kept set and its rank are recomputed from the HUGEINT fnv made
    // signed (Spark LongType order), doc_id tiebreak — same window, both
    // engines; ROW_NUMBER is BIGINT in DuckDB, INT in Spark, hence the cast
    "q64_source_cap" -> {
      val h = OracleHash.toSigned(
        OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${ops.Splits.CapSalt}'"))
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 < 5 THEN 'srchead' ELSE source END AS source
         |  FROM documents),
         |r AS (SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rn
         |  FROM d)
         |SELECT doc_id, source, CAST(rn AS INT) AS cap_rank FROM r WHERE rn <= 16""".stripMargin
    },

    // the oracle runs the UNSALTED join — the salted plan must be
    // result-identical to the plain inner join it replaces
    "q67_salted_join" ->
      ("""WITH s AS (SELECT source, COUNT(*) AS src_docs,
         |           CAST(SUM(n_chars) AS BIGINT) AS src_chars
         |           FROM documents GROUP BY 1)
         |SELECT d.doc_id, d.source, s.src_docs, s.src_chars
         |FROM documents d JOIN s ON d.source = s.source""").stripMargin,

    // rate and coin recomputed in exact integers: stopword ratio (q29's
    // construction) + the HUGEINT fnv modulus (== Spark's low-bits mask,
    // power-of-two buckets)
    "q68_importance_resample" -> {
      val stopBp = s"CAST(floor(${stopHits(tokens("lower(text)"), TextAnalysis.EnStop)}" +
        s" * 10000.0 / greatest(len(${tokens("text")}), 1)) AS BIGINT)"
      val key = s"(${OracleHash.fnvOf(s"CAST(doc_id AS VARCHAR) || '${Splits.ResampleSalt}'")} % ${Splits.SampleBuckets})"
      s"""WITH b AS (SELECT doc_id, $stopBp AS stopword_ratio_bp,
         |           CAST($key AS BIGINT) AS sample_key FROM documents)
         |SELECT doc_id, stopword_ratio_bp,
         |  CAST(least(${Splits.SampleBuckets}, ${Splits.ResampleFloor} + stopword_ratio_bp) AS BIGINT) AS rate,
         |  sample_key
         |FROM b
         |WHERE sample_key < least(${Splits.SampleBuckets}, ${Splits.ResampleFloor} + stopword_ratio_bp)""".stripMargin
    },

    "q69_kmeans" ->
      (kmeansCtes(Cluster.K, Cluster.Iters, Embed.Dim, Cluster.Shift) +
        s"\nSELECT doc_id, cluster, d2 FROM ka${Cluster.Iters}"),

    "q70_semdedup" ->
      (kmeansCtes(Cluster.K, Cluster.Iters, Embed.Dim, Cluster.Shift) +
        s""",
           |kn AS (SELECT doc_id, SUM(x * x) AS n2 FROM el GROUP BY 1),
           |kp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |       FROM ka${Cluster.Iters} a JOIN ka${Cluster.Iters} b
           |         ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
           |kd AS (SELECT p.id_a, p.id_b, SUM(ea.x * eb.x) AS dot
           |       FROM kp p
           |       JOIN el ea ON ea.doc_id = p.id_a
           |       JOIN el eb ON eb.doc_id = p.id_b AND eb.d = ea.d
           |       GROUP BY 1, 2),
           |kdrop AS (SELECT DISTINCT kd.id_b FROM kd
           |          JOIN kn na ON na.doc_id = kd.id_a
           |          JOIN kn nb ON nb.doc_id = kd.id_b
           |          WHERE na.n2 > 0 AND nb.n2 > 0
           |            AND CAST(floor(CAST(kd.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) * 10000) AS BIGINT) >= ${Cluster.SemDedupBp})
           |SELECT a.doc_id, a.cluster FROM ka${Cluster.Iters} a
           |LEFT JOIN kdrop k ON k.id_b = a.doc_id WHERE k.id_b IS NULL""".stripMargin),

    "q63_props_metrics" ->
      ("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
         |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
         |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
         |FROM events GROUP BY event_type""").stripMargin,

    "q30_token_counts" ->
      (s"""SELECT doc_id,
         |  CAST(len(${tokens("text")}) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\t\n\f\r ]')) AS BIGINT) AS bpe_tokens
         |FROM documents""").stripMargin,

    "q31_fingerprints" ->
      ("""SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
         |    (h, c) -> (h * 31 + c) % 1000000007) AS rolling_hash,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(list_filter(string_split_regex(text, '[\t\n\f\r ]+'), t -> t <> ''),
         |      t -> CAST(length(t) AS BIGINT) * ascii(substr(t, 1, 1)))),
         |    (s, v) -> (s + v) % 1000000007) AS token_sketch
         |FROM documents""").stripMargin,

    "q43_html_text" ->
      (s"""WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${Corpus.htmlSql("CAST(doc_id AS VARCHAR)", "text")} AS html FROM documents)
         |SELECT doc_id, ${htmlVisible(htmlDropInvisible("html"))} AS text FROM h""").stripMargin,

    "q44_html_blocks" ->
      (s"""$HtmlBlocksCte
         |SELECT doc_id, block_idx, text, text_len, link_len, link_density_bp, is_content FROM blocks""").stripMargin,

    "q45_html_main" ->
      (s"""$HtmlBlocksCte
         |SELECT doc_id, string_agg(text, $NN ORDER BY block_idx) AS main_text
         |FROM blocks WHERE is_content GROUP BY doc_id""").stripMargin,

    "q46_layout_order" ->
      (s"""WITH boxes AS (
         |  SELECT l_orderkey AS doc_id, CAST(l_linenumber % 3 AS BIGINT) AS page,
         |         CAST(l_linenumber AS BIGINT) AS box_id,
         |         CAST(l_partkey % 1000 AS BIGINT) AS x, CAST(l_suppkey % 1400 AS BIGINT) AS y
         |  FROM lineitem)
         |SELECT doc_id, page, box_id, x, y,
         |       CAST(floor(x * ${Layout.NCols} / ${Layout.PageWidth}.0) AS BIGINT) AS col_idx,
         |       CAST(row_number() OVER (PARTITION BY doc_id, page
         |         ORDER BY floor(x * ${Layout.NCols} / ${Layout.PageWidth}.0), y, x, box_id) AS BIGINT) AS reading_rank
         |FROM boxes""").stripMargin,

    "q39_events_windowed" ->
      ("""WITH g AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, user_id,
         |         CAST(floor(value * 100) AS BIGINT) AS cents,
         |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts, event_id) AS gap_us
         |  FROM events)
         |SELECT CAST(epoch_us(h) // 1000000 AS BIGINT) AS hour_ts, event_type,
         |       COUNT(*) AS n_events,
         |       COUNT(DISTINCT user_id) AS n_users,
         |       CAST(SUM(cents) AS BIGINT) AS value_cents,
         |       COALESCE(MAX(gap_us), CAST(-1 AS BIGINT)) AS max_gap_us
         |FROM g GROUP BY 1, 2""").stripMargin,

    "q40_events_sessions" ->
      ("""WITH o AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS t, CAST(floor(value * 100) AS BIGINT) AS cents,
         |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events),
         |s AS (SELECT *, CASE WHEN prev IS NULL OR t - prev > 30*60*1000000 THEN 1 ELSE 0 END AS is_new FROM o),
         |c AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s)
         |SELECT user_id, CAST(sid AS BIGINT) AS session_idx, MIN(t) AS start_us, MAX(t) AS end_us,
         |       COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS value_cents
         |FROM c GROUP BY 1, 2""").stripMargin,

    "q36_doctor_tables" ->
      graft.jobs.DoctorMain.Tables
        .map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n_rows FROM $t")
        .mkString(" UNION ALL "),

    "q32_media_meta" ->
      ("""WITH media AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         unnest(['img_' || CAST(doc_id AS VARCHAR) || '_1.png',
         |                 'img_' || CAST(doc_id AS VARCHAR) || '_2.jpg']) AS media_ref
         |  FROM documents)
         |SELECT doc_id, media_ref,
         |       lower(regexp_extract(media_ref, '\.([A-Za-z]+)$', 1)) AS ext,
         |       CAST(octet_length(encode('IMGDATA:' || media_ref || ':' || repeat('x', 64))) AS BIGINT) AS n_bytes
         |FROM media""").stripMargin
  )
}
