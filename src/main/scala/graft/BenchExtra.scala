package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Supplementary benchmark main (NOT part of the driver contract —
  * graft.Bench is the frozen harness): noop-sink / scale-probe timings for
  * the round-6 optimization evidence.
  *
  *   runMain graft.BenchExtra [mult]
  *
  * Replicates the sf0.1 `documents`/`embeddings` tables `mult` times with
  * shifted ids (deterministic; planted cross-copy near-dups survive, so the
  * LSH/CC operators see a denser pair graph than at 1x — a conservative
  * stress) and times the heavy operators through the noop sink (guide §1.4:
  * computes every column, no sink cost, no count-pruning). CC round counts
  * are printed so the O(log d) claim is backed by measured rounds at 10x.
  * Prints one JSON line.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 10
    // "clique" mode: replicas stay byte-identical — every doc becomes a
    // mult-clique of exact duplicates (the adversarial-density case for
    // the banded LSH join); default decorrelates (see `replicated`)
    val clique = args.length > 1 && args(1) == "clique"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.DataFrame

    // Replicas are decorrelated by per-rep BIJECTIVE transforms, so each
    // rep is an isomorphic copy of the source corpus (planted near-dup
    // structure preserved WITHIN a rep, no cross-rep similarity) — the
    // honest "10x more data shaped like the corpus" scale point:
    //   - documents: per-rep alphabet rotation (letters permuted, spacing
    //     untouched) — every k-gram changes, within-rep Hamming structure
    //     is preserved exactly;
    //   - embeddings: per-rep deterministic sign-flip pattern — signs
    //     cancel in within-rep dot products ((s∘a)·(s∘b) = a·b), cross-rep
    //     cosines decorrelate.
    // (Identical replicas instead make every doc a mult-clique — that
    // adversarial-density run is reported separately in
    // OPTIMIZATION_r06.md.)
    def replicated(table: String, idCol: String): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val rep = base.withColumn("__rep", explode(sequence(lit(0), lit(mult - 1))))
        .withColumn(idCol, col(idCol) + col("__rep").cast("long") * 10000000L)
      val decor =
        if (clique) rep
        else if (table == "documents") {
          val lc = "abcdefghijklmnopqrstuvwxyz"
          val uc = lc.toUpperCase
          def rot(s: String, r: Int) = s.drop(r % 26) + s.take(r % 26)
          val shifted = (1 until mult).foldLeft(when(col("__rep") === 0, col("text"))) {
            (acc, r) => acc.when(col("__rep") === r,
              translate(col("text"), lc + uc, rot(lc, r) + rot(uc, r)))
          }
          rep.withColumn("text", shifted.otherwise(col("text")))
        } else if (table == "embeddings") {
          // zip_with pads the SHORTER side with nulls, so the sign row is
          // sliced to the embedding's length and a longer embedding fails
          val dims = 64
          val signs = array((0 until mult).map(r => array((0 until dims).map(d =>
            lit(if (((graft.kernel.Hashing.fnv1a64(s"$r:$d:be") >>> 32) & 1L) == 0L)
              -1.0f else 1.0f)): _*)): _*)
          val n = size(col("embedding"))
          rep.withColumn("embedding",
            when(n > dims, raise_error(lit(s"BenchExtra: embedding dim > $dims")))
              .otherwise(zip_with(col("embedding"),
                slice(element_at(signs, col("__rep") + 1), lit(1), n), (x, s) => x * s)))
        } else rep
      decor.drop("__rep")
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): (String, Double) = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      label -> dt
    }

    val docs = replicated("documents", "doc_id").select(col("doc_id"), col("text"))
    val emb = replicated("embeddings", "vec_id").select(col("vec_id"), col("embedding"))
    val nDocs = docs.count()
    val nVecs = emb.count()

    // warm-up JIT/codegen with the 1x tables
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    noop(ops.Similarity.simhashDocPairs(docs1, 5, 6))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var ccRounds = Seq.empty[ops.LshDedup.CcRoundStat]
    results += time("sigs_pairs")(noop(ops.Similarity.simhashDocPairs(docs, 5, 6)))
    results += time("cluster_winners") {
      val stats = scala.collection.mutable.Buffer.empty[ops.LshDedup.CcRoundStat]
      val w = ops.LshDedup.clusterWinners(
        ops.Similarity.simhashDocPairs(docs, 5, 6), stats = Some(stats))
      noop(w)
      ccRounds = stats.toSeq
    }
    results += time("deduped_corpus") {
      noop(ops.LshDedup.dedupedDocs(docs,
        ops.LshDedup.clusterWinners(ops.Similarity.simhashDocPairs(docs, 5, 6))))
    }
    // kCells grows ~sqrt(n) per the operator's documented scale knob —
    // probing at the 1x default (32) would grow cell population linearly
    // and the candidate join quadratically, which is exactly what the knob
    // exists to prevent
    val kCells = math.max(32, (32 * math.sqrt(mult)).toInt)
    results += time("ann_ivf_topk")(noop(ops.Similarity.annIvfTopK(emb, 10, kCells = kCells)))
    results += time("common_para")(noop(ops.Similarity.commonParagraphFilter(
      jobs.ExtractionJob.chunks(ops.Corpus.docsTable(spark, sfDir, mult)), 2L)))
    results += time("curation_manifest")(noop(ops.Curation.manifest(docs)))

    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    val rounds = ccRounds.map(s =>
      s"""{"round":${s.round},"changed":${s.changed},"edges":${s.processedEdges}}""")
      .mkString("[", ",", "]")
    println(s"""{"metric":"bench_extra","mult":$mult,"n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""queries":$qs,"cc_rounds":$rounds,"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
