package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Embedding-space clustering + cluster-pruned semantic dedup — the two
  * operators a curation pipeline runs between near-dup removal and final
  * mix assembly (SemDeDup, Abbas et al. 2023: k-means the corpus, then
  * drop semantic duplicates WITHIN each cluster, so the quadratic pair
  * cost is bounded by cluster size instead of corpus size). The reference
  * has no embedding surface at all (its dedup is simhash-only,
  * internal/dedupe/dedupe.go); these are graft-added §2.9 operators over
  * the derived feature-hash embeddings ([[Embed.docEmbeddings]]), so the
  * whole family runs end-to-end from the `documents` table.
  *
  * DETERMINISM (the hard part of clustering cross-engine): every quantity
  * either is exact integer arithmetic or is derived from exact integers by
  * a fixed single-rounding expression, so the DuckDB oracle recomputes the
  * IDENTICAL clustering with no float-order sensitivity:
  *
  *   - inputs are the integer-valued feature-hash embeddings (cast to
  *     long; exact by construction, |x| bounded by per-doc token count);
  *   - centroids live in FIXED POINT: cf = floor(sum * 2^16 / n), where
  *     sum is an exact long coordinate sum. floor() over one double
  *     division of exact ints cannot straddle an integer: the true
  *     quotient is either exactly integral (double division of exact
  *     ints <= 2^53 rounds to it exactly) or at distance >= 1/n from the
  *     nearest integer, while the division's rounding error is ~1e-9 —
  *     so Spark's Math.floorDiv(sum * Shift, n) and the oracle's
  *     floor(CAST(sum AS DOUBLE) * 65536 / n) agree always;
  *   - assignment distance is EXACT int64: d2 = sum_d (x*2^16 - cf)^2.
  *     Bound: |x| <= ~2^11 token hits here, so |x*2^16 - cf| < 2^28,
  *     squared < 2^56, summed over 16 dims < 2^60 — no overflow, no
  *     doubles, no order sensitivity. Precise precondition for other
  *     corpora: dim * (|x|*Shift*2)^2 < 2^63, i.e. |x| < 2^30/sqrt(dim)
  *     / Shift (~11,500 at dim=16, Shift=2^16 — a single token appearing
  *     11k times in one doc); for megadocs lower Shift (2^8 still leaves
  *     centroid quantization far below inter-cluster distances) rather
  *     than risk silent Long wrap. Ties break to the LOWEST cluster id;
  *   - init is content-addressed: the k embeddings with smallest doc_id
  *     (no rand(), no kmeans++ sampling — reproducible across runs,
  *     engines, and retries);
  *   - a cluster that loses all members KEEPS its previous centroid
  *     (mirrored by the oracle's COALESCE against the prior round).
  *
  * Scale shape (the MLlib KMeans shape): assignment is a MAP-ONLY pass —
  * the k×dim centroid table is closure-shipped like the IVF quantizer
  * (Similarity.annIvfTopK) and argmin runs per row with zero exchanges;
  * the update is one partial-aggregated groupBy(cluster, dim) producing
  * k×dim rows collected to the driver (tree-aggregate of a constant-size
  * state). Total exchanges per iteration: ONE, carrying k×dim longs per
  * map task. At 100 TB the iteration cost is iters × (scan + tiny agg);
  * k grows as corpus/target-cluster-size (same knob discipline as
  * [[Similarity.autoBits]]).
  */
object Cluster {

  /** Fixed-point shift for centroid coordinates (2^16). */
  val Shift = 65536L

  /** Default cluster count / Lloyd iterations for the oracled queries.
    * k=8 over the 16-dim hashed embeddings keeps sf0.01 clusters ~60 docs;
    * real corpora size k ~ n / targetClusterSize (SemDeDup uses ~100k
    * clusters for 600M docs).
    */
  val K = 8
  val Iters = 3

  /** Long-cast embeddings (doc_id, xs Array[Long]) — exact by construction
    * ([[Embed.docEmbeddings]] accumulates ints), [[Bridge.reused]] because
    * the Lloyd loop re-scans it iters+1 times.
    */
  private[ops] def withXs(emb: DataFrame, idCol: String): DataFrame =
    Bridge.reused(emb.select(col(idCol),
      expr("transform(embedding, x -> CAST(x AS BIGINT))").as("xs")))

  /** Argmin assignment under closure-shipped fixed-point centroids.
    * UDF justification: a k×dim argmin loop per row (128 long mults at the
    * defaults) — compiled, allocation-free, no Catalyst shape expresses
    * the running argmin without exploding k rows per doc.
    */
  private def assignU(cents: Array[Array[Long]]) =
    udf { (xs: Seq[Long]) =>
      var best = 0; var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val cf = cents(c)
        var d = 0L; var i = 0
        while (i < cf.length) {
          val diff = xs(i) * Shift - cf(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (best, bestD)
    }

  private def assigned(embXs: DataFrame, idCol: String,
      cents: Array[Array[Long]]): DataFrame =
    embXs.withColumn("__a", assignU(cents)(col("xs")))
      .select(col(idCol), col("xs"),
        col("__a._1").cast("long").as("cluster"), col("__a._2").as("d2"))

  /** Lloyd's k-means over long-cast embeddings: iters assignment rounds,
    * iters-1 centroid updates between them (c0 = init; a_i under c_{i-1};
    * c_i = mean(a_i); output a_iters). Returns (idCol, xs, cluster, d2).
    */
  private[ops] def kmeansCore(embXs: DataFrame, idCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters > 0, s"need k>0, iters>0; got k=$k iters=$iters")
    val init: Array[Array[Long]] = embXs.orderBy(col(idCol)).limit(k)
      .select(col("xs")).collect()
      .map(_.getSeq[Long](0).map(_ * Shift).toArray)
    require(init.length == k, s"corpus smaller than k=$k (${init.length} rows)")
    var cents = init
    var out: DataFrame = null
    for (i <- 1 to iters) {
      val a = assigned(embXs, idCol, cents)
      if (i < iters) {
        // ONE exchange: partial-aggregated (cluster, dim) sums, k×dim rows
        val m = a.select(col("cluster"), posexplode(col("xs")).as(Seq("d", "x")))
          .groupBy(col("cluster"), col("d"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps previous centroid
        m.foreach { r =>
          next(r.getLong(0).toInt)(r.getInt(1)) =
            Math.floorDiv(r.getLong(2) * Shift, r.getLong(3))
        }
        cents = next
      } else out = a
    }
    out
  }

  /** k-means cluster assignment of the derived doc embeddings:
    * (doc_id, cluster, d2) with d2 the exact fixed-point squared distance
    * to the final centroid. Deterministic end-to-end (see class doc).
    */
  def kmeans(emb: DataFrame, idCol: String = "doc_id",
      k: Int = K, iters: Int = Iters): DataFrame =
    kmeansCore(withXs(emb, idCol), idCol, k, iters)
      .select(col(idCol), col("cluster"), col("d2"))

  /** SemDeDup threshold: drop a doc when a SMALLER-id doc in its cluster
    * has cosine >= this (basis points). At 16 hashed-BoW dimensions,
    * 9000bp is an AGGRESSIVE setting (the synthetic corpus keeps ~38% at
    * sf0.01 — template-generated docs share most of their token mass, and
    * a 16-dim projection conflates further); real deployments tune
    * (dim, threshold) together — higher dim separates topics, higher
    * threshold narrows to true rewrites. The operator's determinism and
    * plan shape are independent of both knobs.
    */
  val SemDedupBp = 9000L

  /** SemDeDup (cluster-pruned semantic dedup): k-means the corpus, then
    * within each cluster drop every doc that has a smaller-id neighbor
    * with cosine >= thresholdBp. Keep-lowest-id is the deterministic
    * stand-in for the paper's keep-farthest-from-centroid (which ties on
    * float distance); the kept set is stable under re-runs and engines.
    *
    * Scale shape: the pair join is keyed on `cluster` — the whole point of
    * clustering first is that the quadratic term is sum over clusters of
    * size^2, not corpus^2 (k is the knob bounding cluster size). Pair
    * payload is (id, xs, n2) only; norms are computed ONCE per doc before
    * the join, not per pair. Dot products are exact long folds; the only
    * doubles are the final single-rounding cosine expression, identical
    * in shape to the oracle's.
    */
  def semDedup(emb: DataFrame, idCol: String = "doc_id",
      thresholdBp: Long = SemDedupBp, k: Int = K, iters: Int = Iters): DataFrame = {
    val bx = withXs(emb, idCol)
    val asg = kmeansCore(bx, idCol, k, iters)
    // native codegen int64 dots (Exprs.longDot) — the former interpreted
    // aggregate(zip_with(...)) HOF fold ran per candidate PAIR and was the
    // q70 bench's dominant cost; exact integer arithmetic either way
    val n2 = Exprs.longDot(col("xs"), col("xs"))
    val docs = Bridge.reused(asg.select(col(idCol), col("cluster"), col("xs"))
      .withColumn("n2", n2))
    val a = docs.select(col(idCol).as("id_a"), col("cluster"),
      col("xs").as("xs_a"), col("n2").as("na2"))
    val b = docs.select(col(idCol).as("id_b"), col("cluster"),
      col("xs").as("xs_b"), col("n2").as("nb2"))
    val dot = Exprs.longDot(col("xs_a"), col("xs_b"))
    // zero-norm guard BEFORE the cosine: NaN orders differently across
    // engines (Spark: NaN >= t is false; DuckDB: NaN sorts above all)
    val cosBp = floor(dot.cast("double") /
      (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))) * 10000)
      .cast("long")
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") && col("na2") > 0 && col("nb2") > 0)
      .filter(cosBp >= thresholdBp)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }
}
