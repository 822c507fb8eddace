package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.Hashing
import graft.SparkSpec

/** Similarity-search quality suite: ANN recall on planted near-duplicates,
  * MinHash-LSH vs exact Jaccard, cluster-winner propagation.
  *
  * The synthetic embeddings are ISOTROPIC random vectors (measured:
  * same-label mean cosine == diff-label == ~0; top-10 neighbor cosine ~0.26
  * vs bulk p99 ~0.29), so recall of ANY sublinear index on the raw top-10
  * task approaches its scanned fraction — an information property of random
  * data. The meaningful (and production-relevant) recall target is therefore
  * PLANTED near-duplicates: perturbed copies at cosine >= 0.99 that the
  * index must reunite with their source.
  */
class SimilaritySpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** embeddings ∪ deterministic perturbed copies (copy vec_id = src + 10^6;
    * noise = ±0.01 per dim from FNV, cosine(src, copy) ~0.997).
    */
  lazy val planted: DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val copies = src.map { case (id, e) =>
      val noisy = e.indices.map { d =>
        val s = if (((Hashing.fnv1a64(s"$id:$d:nz") >>> 32) & 1L) == 1L) 0.01f else -0.01f
        e(d) + s
      }
      (id + 1000000L, noisy)
    }
    (src.toSeq ++ copies).toDF("vec_id", "embedding")
  }

  private def plantedRecall(topk: DataFrame, nSources: Long = -1L): Double = {
    // for each original vector, is its planted copy in the top-k list?
    val hits = topk
      .filter(col("query_id") < 1000000L && col("neighbor_id") === col("query_id") + 1000000L)
      .count()
    val n = if (nSources > 0) nSources else planted.count() / 2
    hits.toDouble / n
  }

  test("ANN-IVF: planted near-duplicates (cos>=0.99) recalled at >= 0.95") {
    val r = plantedRecall(Similarity.annIvfTopK(planted, 10))
    assert(r >= 0.95, s"IVF planted recall $r")
  }

  test("ANN-LSH: planted near-duplicates (cos>=0.99) recalled at >= 0.9") {
    val r = plantedRecall(Similarity.annLshTopK(planted, 10))
    assert(r >= 0.9, s"LSH planted recall $r")
  }

  test("LSH/IVF candidates are unique pairs with NO distinct (r6 invariant)") {
    // the r6 optimization removed the defensive .distinct() from the three
    // bucketed candidate generators on the argument that the bucket join
    // can match a pair at most once (probe values pairwise-distinct, one
    // bucket/cell per neighbor); this pins the FULL candidate sets, not
    // just the top-k survivors
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val lsh = Similarity.annLshTopK(emb, Int.MaxValue, bits = Similarity.HyperplaneBits)
    assert(lsh.count() ==
      lsh.select("query_id", "neighbor_id").distinct().count())
    val ivf = Similarity.annIvfTopK(emb, Int.MaxValue)
    assert(ivf.count() ==
      ivf.select("query_id", "neighbor_id").distinct().count())
    val pairs = Similarity.embeddingNearDupPairsLsh(emb, -10001L, bits = 6)
    assert(pairs.count() ==
      pairs.select("id_a", "id_b").distinct().count())
  }

  test("asciiLower: lowers only A-Z, leaving İ/ß-class characters untouched") {
    // cross-engine discipline: Java toLowerCase full-maps U+0130 'İ' to
    // "i"+combining-dot while DuckDB's utf8proc simple-maps it — so the
    // hash-bearing paths lower ONLY ASCII on both engines (the SQL twin is
    // translate(A-Z, a-z), ASCII-only by construction)
    assert(Similarity.asciiLower("İsTANBUL ß StraßE 123") == "İstanbul ß straße 123")
    assert(Similarity.asciiLower("") == "")
    assert(Similarity.asciiLower("already lower") == "already lower")
  }

  test("autoBits: floors at HyperplaneBits and grows with log2(n)") {
    // self-tending scale knob: small corpora keep the constant, big corpora
    // get bucket-bounding growth (the recall tests above and the end-to-end
    // derived-embedding test below both run WITHOUT passing bits, i.e.
    // through autoBits, at two corpus sizes: 1000 and 100 vectors)
    assert(Similarity.autoBits(100) == Similarity.HyperplaneBits)
    assert(Similarity.autoBits(1000) == Similarity.HyperplaneBits)
    assert(Similarity.autoBits(64L << 12) == 12)
    assert(Similarity.autoBits(64L << 20) == 20) // ~6.7e7 vectors
    assert(Similarity.autoBits(1000000000L) == 24) // 10^9 vectors
    assert(Similarity.autoBits((64L << 20) + 1) == 21) // strict ceil
    // capped at 31: signatures pack into an Int; bits=33 at ~2e11 vectors
    // would wrap `1 << 32` and collapse hyperplane 32 into 0
    assert(Similarity.autoBits(300000000000L) == 31)
    assert(Similarity.autoBits(Long.MaxValue / 2) == 31)
  }

  test("ANN-LSH hyperplanes are non-degenerate (no row equal or antipodal)") {
    // round-1 regression: fnv("hp:b:d") & 1 is a separable parity function,
    // which collapsed ALL hyperplanes to one plane up to sign (2 buckets
    // total). The fixed derivation must give pairwise non-(anti)parallel,
    // roughly balanced rows.
    val dims = 64
    val hp = (0 until Similarity.HyperplaneBits).map(b =>
      (0 until dims).map(d => Similarity.hyperplaneSign(b, d)).toVector)
    for (i <- hp.indices; j <- hp.indices if i < j) {
      val dot = hp(i).lazyZip(hp(j)).map(_ * _).sum
      assert(math.abs(dot) < dims,
        s"rows $i and $j are parallel/antiparallel (dot=$dot)")
    }
    for ((row, i) <- hp.zipWithIndex) {
      val s = row.sum
      assert(math.abs(s) < dims * 0.75, s"row $i is nearly constant (sum=$s)")
    }
  }

  test("ANN-LSH candidate set is sublinear (buckets actually partition)") {
    val n = planted.count()
    val cands = Similarity.annLshTopK(planted, Int.MaxValue) // all candidates ranked
    val avg = cands.count().toDouble / n
    assert(avg < n / 4.0, s"avg candidates per query $avg should be << n=$n")
  }

  test("MinHash LSH: exact-duplicate shingle sets always pair with agree = 16") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near
      (4L, "one two three four five six seven eight")        // unrelated
    ).toDF("doc_id", "text")
    val pairs = Similarity.minhashLshPairs(docs, 3, 8)
      .select("doc_a", "doc_b", "agree")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 16),
      s"identical docs must agree on all 16 minhashes: $pairs")
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L),
      s"unrelated doc must not pair: $pairs")
  }

  test("MinHash agreement estimates Jaccard within 0.25 on sf corpus pairs") {
    // every (doc_a, doc_b) that BOTH operators emit: |agree/16 - jaccard| small
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Similarity.ngramJaccardPairs(docs, 3, 1000L)
      .select(col("doc_a"), col("doc_b"), (col("jaccard_bp") / 10000.0).as("j"))
    val mh = Similarity.minhashLshPairs(docs, 3, 1)
      .select(col("doc_a"), col("doc_b"), (col("agree") / 16.0).as("est"))
    val joined = exact.join(mh, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty, "expected overlapping pairs on the sf corpus")
    for (r <- joined) {
      val (j, est) = (r.getDouble(2), r.getDouble(3))
      assert(math.abs(j - est) <= 0.25, s"pair ${r.getLong(0)}-${r.getLong(1)}: jaccard $j vs minhash $est")
    }
  }

  test("clusterWinners: connected components on a small fixture graph") {
    import spark.implicits._
    // components: {a,b,c} (chain a-b-c), {x,y}; winner = component min
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("doc_a", "doc_b")
    val got = LshDedup.clusterWinners(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"), got.toString)
  }

  test("clusterWinners: deep chain converges to the true component min") {
    import spark.implicits._
    // chain of 10 (diameter 9) — the former fixed-3-iteration propagation
    // mislabeled the tail of exactly this shape (d9 could only see 3 hops);
    // convergent propagation + pointer jumping must label ALL of it d0
    val pairs = (0 until 9).map(i => (f"d$i", f"d${i + 1}")).toDF("doc_a", "doc_b")
    val got = LshDedup.clusterWinners(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 10 && got.values.forall(_ == "d0"),
      s"all ten chain members should reach d0: $got")
  }

  test("dedupedDocs: planted near-dup cluster collapses to exactly its min-doc survivor") {
    import spark.implicits._
    // docs 10/11/12 share IDENTICAL text (simhash distance 0 -> guaranteed
    // LSH pairs); 20 and 30 are unrelated singletons. The deduped corpus
    // must keep exactly {10 (absorbing 3), 20, 30}.
    val t = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = Seq(
      (10L, t), (11L, t), (12L, t),
      (20L, "completely different content about distributed query engines at scale"),
      (30L, "a third unrelated document concerning maritime navigation techniques")
    ).toDF("doc_id", "text")
    val out = LshDedup.dedupedDocs(docs,
        LshDedup.clusterWinners(Similarity.simhashDocPairs(docs, 5, 6)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 3L, 20L -> 1L, 30L -> 1L), out.toString)
  }

  test("dedupedDocs: winner-map semantics on an explicit fixture") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // component {1,2,3} labeled with winner 1; docs 4,5 never clustered
    val winners = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "winner")
    val out = LshDedup.dedupedDocs(docs, winners)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L), out.toString)
  }

  /** Deterministic synthetic corpus for the end-to-end doc->embedding->ANN
    * path: 50 base docs of 40 disjoint tokens each, plus one perturbed copy
    * per base (one token swapped -> >= 38/40 token overlap, embedding cosine
    * ~0.95) with copy doc_id = base + 10^6.
    */
  private lazy val embedDocs: DataFrame = {
    import spark.implicits._
    val rows = (0 until 50).flatMap { i =>
      val toks = (0 until 40).map(j => s"w${i}_$j")
      val base = (i.toLong, toks.mkString(" "))
      val copy = (i + 1000000L, toks.updated(7, s"x$i").mkString(" "))
      Seq(base, copy)
    }
    rows.toDF("doc_id", "text")
  }

  test("docEmbeddings: feature-hashing sums are exact integer token contributions") {
    import spark.implicits._
    val e = Embed.docEmbeddings(Seq((1L, "alpha alpha beta")).toDF("doc_id", "text"))
      .select("embedding").as[Seq[Float]].head()
    assert(e.length == Embed.Dim)
    def contrib(t: String): (Int, Long) = {
      val h = Embed.tokenHash(t)
      (((h >>> 32) % Embed.Dim).toInt, if (((h >>> 40) & 1L) == 1L) 1L else -1L)
    }
    val exp = new Array[Long](Embed.Dim)
    val (ia, sa) = contrib("alpha"); exp(ia) += 2 * sa
    val (ib, sb) = contrib("beta"); exp(ib) += sb
    assert(e.map(_.toLong) == exp.toSeq, s"got $e expected ${exp.toSeq}")
  }

  test("docEmbeddings: trailing-counter token families do not cancel to zero vectors") {
    import spark.implicits._
    // regression: with a SINGLE FNV pass, tokens differing only in a
    // trailing counter ("w0_0 w0_1 ...") collide on index bits 32-35 with
    // parity-alternating sign bit 40 and the whole vector cancels to zero
    // (every such doc in the first cut embedded to the null vector, and the
    // ANN cosine then divided by zero). The double-hash must break this.
    val e = Embed.docEmbeddings(
        Seq((1L, (0 until 40).map(j => s"w0_$j").mkString(" "))).toDF("doc_id", "text"))
      .select("embedding").as[Seq[Float]].head()
    assert(e.exists(_ != 0f), "token-family embedding cancelled to the zero vector")
  }

  test("end-to-end from documents: ANN over derived embeddings reunites perturbed copies") {
    // the full pipeline the reference user wants: documents -> deterministic
    // embedding stub -> IVF/LSH index, no driver-provided embeddings table
    val emb = Embed.docEmbeddings(embedDocs)
      .withColumnRenamed("doc_id", "vec_id")
    val n = embedDocs.count() / 2
    val ivf = plantedRecall(Similarity.annIvfTopK(emb, 10), n)
    assert(ivf >= 0.9, s"IVF planted recall over derived embeddings: $ivf")
    val lsh = plantedRecall(Similarity.annLshTopK(emb, 10), n)
    assert(lsh >= 0.8, s"LSH planted recall over derived embeddings: $lsh")
  }

  test("end-to-end embedding dedup: documents -> embed -> LSH pairs -> CC -> deduped corpus") {
    import spark.implicits._
    // the complete dedup-by-embedding pipeline on the scale path (bucketed
    // pair generation, never cartesian): planted perturbed copies must be
    // absorbed by their base doc with ZERO false merges. bits=6 sizes the
    // bucket table for the 100-vector fixture (bits grows with log2(n)).
    val emb = Embed.docEmbeddings(embedDocs).withColumnRenamed("doc_id", "vec_id")
    val pairs = Similarity.embeddingNearDupPairsLsh(emb, 8500L, bits = 6)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // no false positives: every surfaced pair is a planted (base, copy) pair
    val bad = pairs.filter(col("doc_b") =!= col("doc_a") + 1000000L).count()
    assert(bad == 0L, s"$bad cross-document pairs above cos 0.85 — false merges")
    val out = LshDedup.dedupedDocs(
        embedDocs, LshDedup.clusterWinners(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // per base doc: either its copy was absorbed (base survives with
    // n_members=2, copy gone) or the pair was missed (both survive alone)
    var absorbed = 0
    for (i <- 0L until 50L) {
      if (out.get(i).contains(2L)) {
        assert(!out.contains(i + 1000000L), s"copy of $i survived although absorbed")
        absorbed += 1
      } else {
        assert(out.get(i).contains(1L) && out.get(i + 1000000L).contains(1L),
          s"unexpected survivor shape for base $i: ${out.get(i)}/${out.get(i + 1000000L)}")
      }
    }
    assert(absorbed >= 45, s"only $absorbed/50 planted copies collapsed into their base")
  }

  test("clusterWinners: the result plan reports its measured row count and size") {
    import spark.implicits._
    // size = Spark's row-size formula (8 bytes of row overhead + column
    // widths) with string ids at their UTF-8 length
    def check(w: DataFrame, width: org.apache.spark.sql.Row => Long): Unit = {
      val st = w.queryExecution.optimizedPlan.stats
      val rows = w.collect()
      assert(rows.nonEmpty)
      assert(st.rowCount.contains(BigInt(rows.length)), s"$st for ${rows.length} rows")
      assert(st.sizeInBytes == BigInt(rows.map(r => 8L + width(r)).sum), st.toString)
    }
    val strings = Seq(("a", "b"), ("b", "cé"), ("x", "y")).toDF("doc_a", "doc_b")
    val utf8 = (r: org.apache.spark.sql.Row) =>
      (0 to 1).map(i => r.getString(i).getBytes("UTF-8").length.toLong).sum
    check(LshDedup.clusterWinners(strings), utf8)
    check(LshDedup.clusterWinners(Seq((5L, 3L), (3L, 9L)).toDF("doc_a", "doc_b")), _ => 16L)
    check(LshDedup.clusterWinners(Seq((2, 1), (4, 3)).toDF("doc_a", "doc_b")), _ => 8L)
  }

  /** dedupedDocs over the planted-cluster fixture, collected; returns the
    * rows and the final (post-AQE) physical plan.
    */
  private def dedupedWithPlan(): (Set[(Long, String, Long)], org.apache.spark.sql.execution.SparkPlan) = {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = (Seq((10L, t), (11L, t), (12L, t), (13L, t + " tonight")) ++
      (20L until 40L).map(i => (i, s"unrelated document $i about topic ${i * 7919L}")))
      .toDF("doc_id", "text")
    val out = LshDedup.dedupedDocs(docs,
      LshDedup.clusterWinners(Similarity.simhashDocPairs(docs, 5, 6)))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    (rows, out.queryExecution.executedPlan)
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution.SparkPlan
    def textExchanges(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.output.exists(_.name == "text") => e
    }
    def joins(p: SparkPlan): Seq[String] = collect(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => "broadcast"
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "sort-merge"
    }
  }

  test("dedupedDocs: under the broadcast threshold no exchange carries the doc text") {
    val (rows, plan) = dedupedWithPlan()
    assert(rows.map(r => r._1 -> r._3).toMap.get(10L).contains(4L), rows.toString)
    assert(Plans.textExchanges(plan).isEmpty, s"doc text shuffled:\n$plan")
    assert(Plans.joins(plan) == Seq("broadcast", "broadcast"), plan.toString)
  }

  test("dedupedDocs: with broadcasts disabled the sort-merge plan returns the same rows") {
    val (broadcastRows, _) = dedupedWithPlan()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (rows, plan) = dedupedWithPlan()
      assert(Plans.joins(plan) == Seq("sort-merge", "sort-merge"), plan.toString)
      assert(Plans.textExchanges(plan).nonEmpty, plan.toString)
      assert(rows == broadcastRows)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // 200 star components (hub + 5 leaves — converge in round 1, the web
  // scale common case) + one deep chain of 33 (drives many rounds)
  private val stars = (0 until 200).flatMap(i => (1 to 5).map(l => (f"s$i%03d_0", f"s$i%03d_$l")))
  private val chain = (0 until 32).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
  private def frontierPairs: DataFrame = {
    import spark.implicits._
    (stars ++ chain).toDF("doc_a", "doc_b")
  }

  test("clusterWinners: frontier pruning — converged stars stop paying edge cost") {
    // The frontier version must (a) produce labels identical to full
    // propagation semantics and (b) collapse the per-round processed-edge
    // count after round 1 instead of re-joining all edges every round.
    val pairs = frontierPairs
    val st = scala.collection.mutable.Buffer.empty[LshDedup.CcRoundStat]
    val got = LshDedup.clusterWinners(pairs, stats = Some(st))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (i <- 0 until 200; l <- 0 to 5)
      assert(got(f"s$i%03d_$l") == f"s$i%03d_0", s"star $i member $l mislabeled")
    for (i <- 0 to 32)
      assert(got(f"c$i%03d") == "c000", s"chain member $i mislabeled")
    // round 1 sees every edge once per direction (delta = all nodes)...
    assert(st.head.processedEdges == 2L * (stars.size + chain.size),
      s"round-1 frontier should be the full symmetric edge set: $st")
    // ...and once the stars settle, later rounds touch only edges incident
    // to the chain's shrinking frontier
    assert(st.length >= 2 && st(1).processedEdges < st.head.processedEdges / 4,
      s"round-2 frontier did not collapse: $st")
    assert(st.last.changed == 0L, s"final round must certify convergence: $st")
  }

  test("clusterWinners: one Spark job per round plus the result action") {
    // counted by job group, with a marker job after the measured section:
    // listener events arrive in order, so once the marker's start is seen
    // every measured job's start has been seen too
    val sc = spark.sparkContext
    val group = "cc-shape"
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs += 1
          case Some("cc-shape-marker") => markerSeen = true
          case _ =>
        }
    }
    val st = scala.collection.mutable.Buffer.empty[LshDedup.CcRoundStat]
    val pairs = frontierPairs
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "clusterWinners shape")
      LshDedup.clusterWinners(pairs, stats = Some(st)).collect()
      sc.setJobGroup("cc-shape-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      assert(st.length >= 2 && jobs <= st.length + 1,
        s"$jobs jobs for ${st.length} rounds + 1 result action")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("clusterWinners: string winner is Spark SQL's UTF-8 binary min, not String.compareTo") {
    import spark.implicits._
    // U+FFFD sorts before U+1F600 in UTF-8 (EF.. < F0..) but after it in
    // UTF-16 (FFFD > D83D), so compareTo would pick the emoji
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val pairs = Seq((emoji, rep)).toDF("doc_a", "doc_b")
    val sparkMin = Seq(rep, emoji).toDF("id").agg(min(col("id"))).head().getString(0)
    assert(sparkMin == rep && emoji.compareTo(rep) < 0)
    val got = LshDedup.clusterWinners(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(rep -> rep, emoji -> rep), got.toString)
  }

  test("clusterWinners: long and int ids give the component min, typed as the input") {
    import spark.implicits._
    val longs = Seq((5L, 3L), (3L, 9L), (100L, 7L), (-2L, 100L)).toDF("doc_a", "doc_b")
    val w = LshDedup.clusterWinners(longs)
    assert(w.schema.map(_.dataType) == Seq(LongType, LongType), w.schema.toString)
    assert(w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> -2L, 100L -> -2L, -2L -> -2L))
    val ints = LshDedup.clusterWinners(Seq((2, 1), (4, 3)).toDF("doc_a", "doc_b"))
    assert(ints.schema.map(_.dataType) == Seq(IntegerType, IntegerType), ints.schema.toString)
    assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 3, 4 -> 3))
  }

  test("clusterWinners: unsupported id types are rejected with a clear message") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      LshDedup.clusterWinners(Seq((1.0, 2.0)).toDF("doc_a", "doc_b")))
    assert(e.getMessage.contains("string (UTF8_BINARY), long or int"), e.getMessage)
    val mixed = intercept[IllegalArgumentException](
      LshDedup.clusterWinners(Seq((1L, "a")).toDF("doc_a", "doc_b")))
    assert(mixed.getMessage.contains("share one id type"), mixed.getMessage)
  }

  test("clusterWinners: a null id fails the job instead of joining a component") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", null)).toDF("doc_a", "doc_b")
    val e = intercept[Exception](LshDedup.clusterWinners(pairs).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null doc id")), e.toString)
  }

  test("clusterWinners: a self-pair is a no-op") {
    import spark.implicits._
    val pairs = Seq(("b", "c"), ("a", "a"), ("c", "c"), ("c", "d"), ("z", "z")).toDF("doc_a", "doc_b")
    val got = LshDedup.clusterWinners(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("b" -> "b", "c" -> "b", "d" -> "b"), got.toString)
  }

  test("clusterWinners: random graphs give a driver-side union-find's components") {
    import spark.implicits._
    // a shuffled path (deep chain), a star, a few random edges, duplicates
    // in both directions and self-pairs, over distinct ids from `ids`
    def graph[T](ids: Gen[T]): Gen[Seq[(T, T)]] = for {
      nodes <- Gen.nonEmptyListOf(ids).map(_.distinct.toVector)
      order <- Gen.listOfN(nodes.size, Gen.long)
      k <- Gen.choose(0, nodes.size)
      path = nodes.zip(order).sortBy(_._2).map(_._1).take(k)
      hub <- Gen.oneOf(nodes)
      star <- Gen.someOf(nodes)
      random <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(nodes), Gen.oneOf(nodes))))
      edges = path.zip(path.drop(1)) ++ star.map(hub -> _) ++ random
      swapped <- Gen.someOf(edges)
      repeated <- Gen.someOf(edges)
      selfs <- Gen.someOf(nodes)
    } yield edges ++ swapped.map(_.swap) ++ repeated ++ selfs.map(x => x -> x)
    // union-find, each root the minimum of its component
    def components[T](pairs: Seq[(T, T)], ord: Ordering[T]): Map[T, T] = {
      val parent = scala.collection.mutable.Map.empty[T, T]
      def find(x: T): T = parent.getOrElseUpdate(x, x) match {
        case p if p == x => x
        case p => val r = find(p); parent(x) = r; r
      }
      for ((a, b) <- pairs if a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    def check[T](name: String, ids: Gen[T], ord: Ordering[T], df: Seq[(T, T)] => DataFrame,
        get: (org.apache.spark.sql.Row, Int) => T): Unit = for (seed <- 1L to 4L) {
      val pairs = graph(ids).pureApply(Gen.Parameters.default, Seed(seed))
      val st = scala.collection.mutable.Buffer.empty[LshDedup.CcRoundStat]
      val got = LshDedup.clusterWinners(df(pairs), stats = Some(st))
        .collect().map(r => get(r, 0) -> get(r, 1)).toMap
      val want = components(pairs, ord)
      assert(got == want, s"$name seed $seed: ${pairs.size} pairs")
      val edges = pairs.count { case (a, b) => a != b }
      if (edges > 0) {
        assert(st.head.processedEdges == 2L * edges, s"$name seed $seed round 1: $st")
        assert(st.last.changed == 0L, s"$name seed $seed did not end on a fixpoint: $st")
      }
    }
    // Spark SQL orders strings by their UTF-8 bytes
    val utf8: Ordering[String] = (a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val chars = Gen.oneOf("a", "b", "z", "é", "ß", "日", "\uFFFD", "\uD83D\uDE00", "\uD83E\uDD84")
    check[String]("strings", Gen.choose(1, 3).flatMap(Gen.listOfN(_, chars)).map(_.mkString),
      utf8, _.toDF("doc_a", "doc_b"), _.getString(_))
    check[Long]("longs", Gen.oneOf(Gen.choose(-60L, 60L), Gen.long), Ordering.Long,
      _.toDF("doc_a", "doc_b"), _.getLong(_))
    check[Int]("ints", Gen.oneOf(Gen.choose(-60, 60), Gen.choose(Int.MinValue, Int.MaxValue)),
      Ordering.Int, _.toDF("doc_a", "doc_b"), _.getInt(_))
  }

  test("commonParagraphFilter: drops every occurrence of cross-doc boilerplate, keeps unique and lightly-shared") {
    import spark.implicits._
    // 4 docs; "cookie banner" is in all 4 (boilerplate, > maxDocs=2),
    // "shared intro" in exactly 2 (kept at maxDocs=2), the rest unique.
    // norm differs from text (normalization is what must key the count).
    val chunks = Seq(
      ("d1", "c0001", "Cookie BANNER!", "cookie banner", 0L),
      ("d1", "c0002", "unique one", "unique one", 1L),
      ("d2", "c0001", "COOKIE banner?", "cookie banner", 0L),
      ("d2", "c0002", "Shared Intro", "shared intro", 1L),
      ("d3", "c0001", "cookie banner", "cookie banner", 0L),
      ("d3", "c0002", "shared INTRO.", "shared intro", 1L),
      ("d4", "c0001", "cookie banner", "cookie banner", 0L),
      // same norm twice WITHIN one doc: 1 distinct doc, must survive
      ("d4", "c0002", "twice here", "twice here", 1L),
      ("d4", "c0003", "twice HERE", "twice here", 2L)
    ).toDF("doc_id", "id", "text", "norm", "idx")
    val kept = Similarity.commonParagraphFilter(chunks, maxDocs = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Set(
      "d1" -> "c0002", "d2" -> "c0002", "d3" -> "c0002",
      "d4" -> "c0002", "d4" -> "c0003")
    assert(kept == expected, s"got $kept")
  }

  test("clusterWinners: pointer jumping needs far fewer rounds than the diameter") {
    import spark.implicits._
    // chain of 33 (diameter 32): plain min-propagation would need 32 rounds;
    // the pointer-jump variant must finish inside the default maxRounds=20
    // (it converges in ~log2(32)+slack) — this is the 10^12-scale argument
    val n = 33
    val pairs = (0 until n - 1).map(i => (f"d$i%03d", f"d${i + 1}%03d")).toDF("doc_a", "doc_b")
    val got = LshDedup.clusterWinners(pairs, maxRounds = 10)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == n && got.values.forall(_ == "d000"), got.toString)
  }

  test("clusterWinners: one round of labels stays stored after the call") {
    import spark.implicits._
    // a 64-node path runs several rounds; each round's labels replace the
    // previous round's in storage, and the edges are released at the end,
    // so only the labels behind the returned frame stay persisted
    val sc = spark.sparkContext
    val pairs = (0 until 63).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val firstId = sc.parallelize(Seq(0), 1).id + 1 // RDD ids only grow
    val st = scala.collection.mutable.Buffer.empty[LshDedup.CcRoundStat]
    val w = LshDedup.clusterWinners(pairs, stats = Some(st))
    assert(w.collect().forall(_.getLong(1) == 0L))
    assert(st.length >= 3, s"fixture must run several rounds: $st")
    val stored = sc.getPersistentRDDs.keys.filter(_ >= firstId).toSeq.sorted
    assert(stored.size == 1, s"persisted RDDs from the call: $stored")
  }
}
