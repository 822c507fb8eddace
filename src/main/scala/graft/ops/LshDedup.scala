package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D1 cross-document level — banded LSH self-join over 64-bit SimHash
  * signatures (SURVEY.md §2.7 "across 10^12 docs"; north_star: "flags
  * near-duplicate documents without shuffling full span payloads").
  *
  * Pipeline: project ONLY (doc_id, sig) — column pruning keeps payloads out
  * of the exchange — explode the signature into `bands` fixed-width band
  * keys, self-join on (band, band_bits), post-filter on true Hamming
  * distance, emit distinct candidate pairs (a < b).
  *
  * Why it scales: two docs within Hamming distance d share at least one of
  * b bands untouched when d < b (pigeonhole), so recall is exact for
  * d <= threshold when bands > threshold... strictly: with 8 bands of 8
  * bits, any pair with d <= 7 collides in >= 1 band, so threshold <= 7 has
  * perfect recall; the default threshold 6 qualifies. Join fan-out is
  * bounded by band-bucket sizes; a hot bucket (common boilerplate) is
  * handled by AQE skew-join splitting since the join is a plain equi-join.
  */
object LshDedup {

  val Bands = 8
  val BandBits = 8

  /** (doc_id, sig) -> distinct near-duplicate candidate pairs
    * (doc_a, doc_b, distance) with distance <= threshold and doc_a < doc_b.
    */
  def nearDupPairs(sigs: DataFrame, threshold: Int): DataFrame = {
    require(threshold >= 0, s"Hamming threshold must be >= 0, got $threshold")
    require(threshold < Bands, s"banded LSH with $Bands bands has exact recall only for threshold < $Bands")
    // Materialize the signature table ONCE (lazy localCheckpoint — no eager
    // job; first action fills the blocks): the join sides below otherwise
    // each re-evaluated the full upstream sig computation (scan + normalize
    // + simhash, the dominant per-row cost), and the join-key null filter
    // the planner pushes into each side's scan evaluated it a second time
    // per side (filter + project, no cross-operator CSE). The checkpoint
    // caches 16 bytes/doc (doc_id, sig) — scale-safe metadata.
    val snap = sigs.select(col("doc_id"), col("sig")).localCheckpoint(eager = false)
    // The band self-join runs over DISTINCT signatures, and doc pairs are
    // expanded afterwards (guide §8: decide on small rows, expand to the
    // output). With per-doc-unique sigs this is the same join one exchange
    // earlier; when identical-sig groups exist — exact duplicates, the
    // dominant real-corpus case — the former doc-level self-join did
    // |group|^2 comparisons PER SHARED BAND (x8) plus a distinct over the
    // duplicated clique pairs, where this shape pays |group|^2 exactly
    // once, in the output-sized expansion join (measured on the 10x
    // identical-replica probe: the doc-level band join was the dominant
    // cost at 58 s; see OPTIMIZATION_r06.md).
    val distinctSigs = snap.select(col("sig")).distinct()
    val banded = distinctSigs.select(
      col("sig"),
      explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("band_key",
        expr(s"shiftrightunsigned(sig, band * $BandBits)")
          .bitwiseAND(lit((1L << BandBits) - 1)))
    val a = banded.select(col("band"), col("band_key"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_key"), col("sig").as("sig_b"))
    // distinct unordered sig pairs within Hamming range (a pair is found
    // once per shared band — distinct BEFORE the doc expansion)
    val sigPairs = a.join(b, Seq("band", "band_key"))
      .filter(col("sig_a") < col("sig_b"))
      .filter(Exprs.hamming(col("sig_a"), col("sig_b")) <= threshold)
      .select(col("sig_a"), col("sig_b"),
        Exprs.hamming(col("sig_a"), col("sig_b")).as("distance"))
      .distinct()
    // cross-group doc pairs: every (x in sig_a's docs, y in sig_b's docs),
    // ordered by doc id; each {x, y} appears exactly once (one sig per doc,
    // one row per unordered sig pair)
    val cross = sigPairs
      .join(snap.select(col("sig").as("sig_a"), col("doc_id").as("da")), Seq("sig_a"))
      .join(snap.select(col("sig").as("sig_b"), col("doc_id").as("db")), Seq("sig_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("distance"))
    // within-group doc pairs: identical sigs share every band (distance 0)
    val x = snap.select(col("sig"), col("doc_id").as("doc_a"))
    val y = snap.select(col("sig"), col("doc_id").as("doc_b"))
    val within = x.join(y, Seq("sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).cast("int").as("distance"))
    // disjoint by construction (same sig vs different sigs) — no distinct
    cross.unionByName(within)
  }

  /** Per-doc whole-document signatures from assembled raw text. */
  def docSignatures(assembled: DataFrame, k: Int): DataFrame =
    assembled.select(col("doc_id"),
      Exprs.simhash64(Exprs.normCol(col("raw")), k).as("sig"))

  /** The deduped corpus — the end product a training-data user actually
    * wants (doc-level analogue of the reference's kept-chunks surface,
    * internal/dedupe/dedupe.go:260-311): keep each component's winner doc
    * (min doc_id) and every doc that belongs to no near-dup cluster at all,
    * annotated with `n_members` = how many docs the survivor absorbed
    * (1 for singletons). Closes the loop sigs -> pairs -> components ->
    * corpus.
    *
    * Scale shape: `winners` maps ONLY clustered docs (docs without an edge
    * never enter [[clusterWinners]]), so both joins below key on doc_id —
    * a left join to decide survival and a left join against the per-winner
    * component size aggregate. No payload ever enters the winner/size
    * exchanges (they carry (doc_id, winner) only); the doc text rides the
    * docs side of an equi-join, and at web scale the winners side is the
    * duplicate fraction of the corpus, typically broadcast-able after AQE
    * measures it.
    */
  def dedupedDocs(docs: DataFrame, winners: DataFrame): DataFrame = {
    val sizes = winners.groupBy(col("winner"))
      .agg(count(lit(1)).cast("long").as("n_members"))
      .withColumnRenamed("winner", "doc_id")
    docs.join(winners.select(col("doc_id"), col("winner")), Seq("doc_id"), "left")
      .filter(col("winner").isNull || col("winner") === col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
  }

  /** One round of [[clusterWinners]] as observed by the caller: how many
    * labels changed and how many (edge, changed-source) message rows the
    * round actually processed — the frontier shrinking round over round is
    * the scale story, so it is measured, not asserted.
    */
  final case class CcRoundStat(round: Int, changed: Long, processedEdges: Long)

  /** Winner selection: TRUE connected components — map every doc in a
    * near-dup cluster to the minimum doc_id in its component.
    *
    * Algorithm: FRONTIER-PRUNED min-label propagation with pointer jumping,
    * run to a verified fixpoint. Each round does
    *   (1) edge step:  msg(x)  = min over edges (y -> x) with y in DELTA
    *                   (only labels that CHANGED last round send messages);
    *                   w1(x) = least(prev(x), msg(x))
    *   (2) jump step:  for rows whose label changed this round OR whose
    *                   current pointer target changed this round,
    *                   winner(x) = least(w1(x), w1(w1(x)))  (path halving)
    * so label information still travels ~2^r hops after r rounds, but a
    * round's join cost is proportional to the FRONTIER (edges incident to
    * last round's changes), not to the full edge set: at web scale most
    * components are stars that converge in round 1, while a few deep chains
    * drive 20+ rounds — without the frontier every such round re-joined all
    * 10^12 edges for a vanishing number of live labels. The full edge set
    * is touched only as the persisted build-side scan of the delta join
    * (pre-partitioned on the message key `y`, so only the small delta side
    * ever shuffles); per-round processed-edge counts land in `stats`.
    *
    * Correctness argument (delta completeness): labels are monotone
    * non-increasing and every value a node ever takes is broadcast to its
    * neighbors exactly once (the round after it changes). A node's label is
    * therefore always least(own history, min over neighbors of ALL values
    * they ever held) = least(own, min of neighbors' CURRENT labels), i.e.
    * each pruned round is equivalent to a full edge step. Convergence is
    * DETECTED (a round that changes zero labels — so the previous round's
    * messages were all absorbed and no new ones exist), never assumed from
    * an iteration count: at that fixpoint L(x) <= L(y) across every edge
    * and by symmetry L(y) <= L(x), so L is constant per component, and
    * since labels only ever hold member ids that constant is the component
    * min. The jump step is pure acceleration — it reads only actual label
    * values of members, preserving both invariants. maxRounds is a runaway
    * bound, not a semantic knob; hitting it throws rather than silently
    * returning partial components.
    *
    * Durability: by default lineage is truncated with `localCheckpoint`,
    * whose blocks live on EXECUTORS — cheap and right for local mode, but
    * an executor lost mid-iteration takes blocks with it whose lineage no
    * longer exists, killing the whole job. Passing `checkpointDir` makes
    * each round durable as `<dir>/labels_r<N>` parquet (HDFS/S3-backed on a
    * real cluster): an executor loss costs a recompute from the last
    * durable round instead of the job. Round N's file is deleted as soon as
    * round N+1 is committed, so the directory holds at most two rounds; the
    * final round's file backs the RETURNED DataFrame and stays for the
    * caller to clean up with the job output. The SparkContext-global
    * checkpoint dir is never touched (the previous Dataset.checkpoint()
    * implementation silently re-pointed it on every call, clobbering any
    * application-configured dir — and leaked every round's files).
    */
  def clusterWinners(pairs: DataFrame, maxRounds: Int = 20,
      checkpointDir: Option[String] = None,
      stats: Option[scala.collection.mutable.Buffer[CcRoundStat]] = None): DataFrame = {
    val spark = pairs.sparkSession
    def ckpt(df: DataFrame, round: Int): DataFrame = checkpointDir match {
      case Some(d) =>
        val path = s"$d/labels_r$round"
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
        val back = spark.read.parquet(path)
        if (round >= 2) deletePath(spark, s"$d/labels_r${round - 2}")
        back
      case None =>
        // LAZY localCheckpoint: the same lineage truncation + internal-row
        // block caching as the former eager call, minus its dedicated job —
        // the round's single stats action below materializes the blocks, so
        // a round costs ONE job where the former localCheckpoint + count +
        // sum structure ran three. Blocks are reclaimed by the
        // ContextCleaner as each round's frame is dropped.
        df.localCheckpoint(eager = false)
    }
    // symmetric edge list, pre-partitioned on the message key: every round
    // joins edges with the delta on y, and the persisted hash partitioning
    // means only the (shrinking) delta side is ever exchanged
    val edges = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .union(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
      .repartition(col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round 0 = one full edge step: least(self, min neighbor). (An extra
    // pointer-halving jump here was tried in r6 and reverted: it cut zero
    // rounds at sf0.1 AND on the 10x probe — the convergence tail is the
    // late jump-staleness waves, not initial chain depth — so it was one
    // join of pure overhead.)
    var full = ckpt(
      edges.groupBy(col("x").as("doc_id"))
        .agg(least(min(col("y")), first(col("x"))).as("winner"))
        .withColumn("prev", lit(null).cast(pairs.schema("doc_a").dataType))
        .withColumn("n_msgs", lit(0L)),
      0)
    var delta = full.select(col("doc_id"), col("winner")) // everyone "changed"
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds,
        s"clusterWinners did not converge within $maxRounds rounds (component diameter > 2^$maxRounds?)")
      val labels = full.select(col("doc_id"), col("winner").as("prev"))
      // (1) messages from last round's changed labels only, along edges
      val msgs = edges
        .join(delta.withColumnRenamed("doc_id", "y"), Seq("y"))
        .groupBy(col("x").as("doc_id"))
        .agg(min(col("winner")).as("msg"), count(lit(1)).as("n_msgs"))
      // Lazily truncate upd once per round: the jump step below references
      // upd FIVE times (changed filter, stale semi-join, lookup side, and
      // the final join); unmaterialized, each reference re-evaluated the
      // labels⋈msgs join subtree within the round's job.
      val upd = labels.join(msgs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("msg"), col("prev"))).as("w1"),
          coalesce(col("n_msgs"), lit(0L)).as("n_msgs"))
        .localCheckpoint(eager = false)
      // (2) pointer jump for the live set: rows that changed this round,
      //     plus rows whose pointer TARGET changed this round (their
      //     w1(w1(x)) just dropped) — staleness never accumulates, and the
      //     jump joins are keyed with the small live side driving them
      val changedRows = upd.filter(col("w1") =!= col("prev"))
      val stale = upd.join(changedRows.select(col("doc_id").as("tgt")),
        upd("w1") === col("tgt"), "leftsemi")
      val live = changedRows.unionByName(stale).dropDuplicates("doc_id")
      val lookup = upd.select(col("doc_id").as("j"), col("w1").as("jw"))
      val jumped = live.join(lookup, live("w1") === lookup("j"), "left")
        .select(live("doc_id").as("doc_id"),
          least(live("w1"), coalesce(col("jw"), live("w1"))).as("jumpw"))
      val next = ckpt(
        upd.join(jumped, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("jumpw"), col("w1")).as("winner"),
            col("prev"), col("n_msgs")),
        round)
      // ONE action for both round statistics (formerly a count job PLUS a
      // sum job — two full passes over the checkpointed labels per round)
      val statRow = next.agg(
        coalesce(sum(when(col("winner") =!= col("prev"), 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(col("n_msgs")), lit(0L))).head
      val changed = statRow.getLong(0)
      val processed = statRow.getLong(1)
      stats.foreach(_ += CcRoundStat(round, changed, processed))
      delta = next.filter(col("winner") =!= col("prev")).select(col("doc_id"), col("winner"))
      full = next
      converged = changed == 0L
    }
    edges.unpersist(blocking = false)
    full.select(col("doc_id"), col("winner"))
  }

  /** Recursive delete through the Hadoop FileSystem of the path's scheme —
    * the checkpoint dir is documented as HDFS/S3-backed on a real cluster,
    * where java.io.File would be a silent no-op (delete() returning false)
    * and every round's parquet would accumulate instead of the promised
    * at-most-two.
    */
  private def deletePath(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true): Unit
  }
}
