package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** D1 cross-document level — banded LSH self-join over 64-bit SimHash
  * signatures (SURVEY.md §2.7 "across 10^12 docs"; north_star: "flags
  * near-duplicate documents without shuffling full span payloads").
  *
  * Pipeline: project ONLY (doc_id, sig) — column pruning keeps payloads out
  * of the exchange — explode the signature into `bands` fixed-width band
  * keys, self-join on (band, band_key), post-filter on true Hamming
  * distance, and keep a pair only in the lowest band it shares, so each
  * pair (a < b) is emitted once without a distinct ([[bandPairs]]).
  *
  * Why it scales: two docs within Hamming distance d share at least one of
  * b bands untouched when d < b (pigeonhole), so recall is exact for
  * d <= threshold when bands > threshold... strictly: with 8 bands of 8
  * bits, any pair with d <= 7 collides in >= 1 band, so threshold <= 7 has
  * perfect recall; the default threshold 6 qualifies. In [[nearDupPairs]]
  * join fan-out is bounded by band-bucket sizes; a hot bucket (common
  * boilerplate) is handled by AQE skew-join splitting since the band join
  * is a plain equi-join. ([[clusterWinners]] runs on per-partition hash
  * blocks of RDDs, outside AQE.)
  *
  * What keeps the text out of every exchange: the signature, pair and
  * component stages never select it, and [[clusterWinners]] returns its
  * labels with their measured size and row count as plan statistics, so
  * [[dedupedDocs]] broadcasts the winner side to the docs instead of
  * shuffling the docs to a sort-merge join (see there for the threshold).
  */
object LshDedup {

  val Bands = 8
  val BandBits = 8

  /** (doc_id, sig) -> near-duplicate pairs (doc_a, doc_b, distance), each
    * pair of rows with distance <= threshold exactly once, doc_a < doc_b.
    *
    * A null `doc_id` fails the first action with "null doc_id" (checked in
    * the projection that materializes `sigs`, so it costs no extra job); a
    * null `sig` pairs with nothing.
    *
    * Precondition, NOT checked (checking costs an aggregate over the whole
    * corpus): `sigs` holds one row per doc_id. A doc_id on several rows
    * can emit the same pair once per row, and a self-pair (d, d) when two
    * of its sigs are within the threshold. [[clusterWinners]] gives the
    * same components either way (repeated edges change none, self-pairs
    * add no edge), but pair counts and distances are then per row, not
    * per document.
    */
  def nearDupPairs(sigs: DataFrame, threshold: Int): DataFrame = {
    require(threshold >= 0, s"Hamming threshold must be >= 0, got $threshold")
    require(threshold < Bands, s"banded LSH with $Bands bands has exact recall only for threshold < $Bands")
    // Materialize the signature table ONCE: the join sides below otherwise
    // each re-evaluated the full upstream sig computation (scan + normalize
    // + simhash, the dominant per-row cost), and the join-key null filter
    // the planner pushes into each side's scan evaluated it a second time
    // per side (filter + project, no cross-operator CSE). It holds 16
    // bytes/doc (doc_id, sig) — scale-safe metadata. A null doc_id is
    // rejected here: least/greatest below would skip it and turn its pair
    // into a self-pair of the other doc.
    val snap = Bridge.reused(sigs.select(
      when(col("doc_id").isNull, raise_error(concat(
        lit("nearDupPairs: null doc_id (sig "), col("sig").cast("string"), lit(")"))))
        .otherwise(col("doc_id")).as("doc_id"),
      col("sig")))
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
    // unordered sig pairs within Hamming range, each once (in its lowest
    // shared band), so the join streams into the doc expansion
    val sigPairs = bandPairs(distinctSigs.select(col("sig").as("sig_a")), "sig_a",
      distinctSigs.select(col("sig").as("sig_b")), "sig_b", threshold,
      where = col("sig_a") < col("sig_b"))
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

  /** The band join: every (left row, right row) pair whose signatures in
    * `leftSig` and `rightSig` are within Hamming distance `threshold`, with
    * both rows' columns and the pair's `distance`. The one owner of the
    * (band, band_key) join behind [[nearDupPairs]],
    * [[Splits.incrementalNearDups]] and `StreamingScreen`.
    *
    * Recall is exact for threshold < [[Bands]]: such a pair agrees in at
    * least one band (pigeonhole). A pair that agrees in several bands is
    * kept only in the lowest of them, so each pair is returned once and no
    * caller needs a distinct; that test runs after the Hamming filter, on
    * the rows that survive it. `where` is a cheap pair condition checked
    * before the distance. A null signature joins nothing.
    */
  private[graft] def bandPairs(left: DataFrame, leftSig: String,
      right: DataFrame, rightSig: String, threshold: Int,
      where: Column = lit(true)): DataFrame = {
    val (a, b) = (col(leftSig), col(rightSig))
    bandedSigs(left, leftSig).join(bandedSigs(right, rightSig), Seq("band", "band_key"))
      .filter(where)
      .filter(Exprs.hamming(a, b) <= threshold)
      .filter(col("band") === lowestSharedBand(a, b))
      .drop("band", "band_key")
      .withColumn("distance", Exprs.hamming(a, b))
  }

  /** One row per (input row, band) carrying `band` and `band_key`, the
    * band's [[BandBits]]-bit slice of the 64-bit signature in `sigCol`.
    */
  private def bandedSigs(df: DataFrame, sigCol: String): DataFrame =
    df.withColumn("band", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("band_key", bandSlice(col(sigCol), col("band")))

  /** The [[BandBits]]-bit slice of `sig` in band `band`. */
  private def bandSlice(sig: Column, band: Column): Column =
    call_function("shiftrightunsigned", sig, band * BandBits).bitwiseAND(lit((1L << BandBits) - 1))

  /** The lowest band in which signatures `a` and `b` agree; null if none. */
  private def lowestSharedBand(a: Column, b: Column): Column =
    coalesce((0 until Bands).map(band =>
      when(bandSlice(a.bitwiseXOR(b), lit(band)) === 0, band)): _*)

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
    * component size aggregate. Neither the winner rows nor the size
    * aggregate carry payload. Whether the doc text is shuffled depends on
    * the planner's size estimate of the winners side: [[clusterWinners]]
    * reports its measured size, so while that side (and the size aggregate
    * derived from it) is under `spark.sql.autoBroadcastJoinThreshold`, both
    * joins are broadcast hash joins and the docs never leave their scan
    * partitions. Above the threshold (or for a `winners` frame of unknown
    * size) they are sort-merge joins that shuffle the docs by doc_id; the
    * output is the same either way.
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
    * near-dup cluster to the minimum doc_id in its component, where
    * "minimum" is Spark SQL's order for the id type (for strings UTF-8
    * binary order, which differs from `String.compareTo` on supplementary
    * characters). Returns (doc_id, winner) typed as the input ids, one row
    * per doc that has at least one edge.
    *
    * Preconditions, checked: doc_a and doc_b share one id type — string
    * (UTF8_BINARY collation), long or int; no id is null (rejected by the
    * same pass that builds the edges). A self-pair (doc_a == doc_b) adds no
    * edge, so a doc that only pairs with itself gets no row.
    *
    * Algorithm: FRONTIER-PRUNED min-label propagation with pointer jumping,
    * run to a verified fixpoint. Round 0 labels every doc with
    * least(self, min neighbor); each later round does
    *   (1) edge step:  msg(x)  = min over edges (y -> x) with y in DELTA
    *                   (only labels that CHANGED last round send messages);
    *                   w1(x) = least(prev(x), msg(x))
    *   (2) jump step:  for every x with w1(x) != x,
    *                   winner(x) = least(w1(x), w1(w1(x)))  (path halving)
    * so label information still travels ~2^r hops after r rounds, while the
    * edge step's cost is proportional to the FRONTIER (edges incident to
    * last round's changes), not to the full edge set: at web scale most
    * components are stars that converge in round 1, while a few deep chains
    * drive 20+ rounds. The jump step reads one label per non-root doc,
    * O(labels) per round like the labels-messages join; per-round
    * processed-edge counts land in `stats`.
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
    * Execution shape: the rounds run on RDDs that all share one
    * `HashPartitioner(spark.sql.shuffle.partitions)`, outside AQE. Each
    * partition holds ONE adjacency block (a hash map from message source to
    * its receivers, duplicate edges kept) and ONE label block (doc ->
    * (winner, prev, n_msgs)); the symmetric edges are partitioned once and
    * folded into their blocks, which stay persisted, and round 0 is computed
    * from the adjacency block inside its task. Every co-partitioned join is
    * a `zipPartitions` that looks rows up in the local block: the message
    * step walks the changed labels' edges and combines (min, count) per
    * receiver inside the sending task, and the update, jump-answer and
    * final-merge steps are lookups. Messages, jump requests and jump answers
    * cross partitions through `partitionBy` shuffles without an aggregator.
    * So no round builds one of Spark's size-tracked collections (the maps
    * behind a keyed RDD join or reduce, or a persisted partition of
    * records), whose size sampling re-walks the records each time the
    * collection grows by 10%: on small graphs that cost more than the
    * rounds' own work.
    * A round is ONE job with 3 shuffles (messages, jump requests, jump
    * answers); its single aggregate yields (changed, processedEdges) and
    * the labels' row count and id bytes. The returned frame carries those
    * two as its plan statistics (sizeInBytes, rowCount), so joins against
    * it are planned from a measured size, not from the 8 EiB default of a
    * frame over an RDD.
    * RDDs are forced here, against the "no RDD unless forced" default: a
    * DataFrame join cannot be told that both sides already share a
    * partitioner across loop iterations, so every round would re-shuffle
    * the full edge and label sets (and AQE may re-coalesce each side
    * differently).
    *
    * Memory: a task holds its partition's adjacency and label blocks in
    * hash maps, which do not spill (a keyed RDD join's maps could), so
    * `spark.sql.shuffle.partitions` must be large enough for one
    * partition's edges and labels to fit in a task's memory. Persisted
    * blocks are held deserialized, as persisted records are.
    *
    * Durability: each round's label blocks are persisted (MEMORY_AND_DISK)
    * with their lineage and the previous round's are released once the new
    * ones are filled, so one round is stored per call and a lost executor
    * costs a recompute from lineage.
    */
  def clusterWinners(pairs: DataFrame, maxRounds: Int = 20,
      stats: Option[scala.collection.mutable.Buffer[CcRoundStat]] = None): DataFrame = {
    val (idType, tb) = (pairs.schema("doc_a").dataType, pairs.schema("doc_b").dataType)
    require(idType == tb,
      s"clusterWinners: doc_a and doc_b must share one id type, got $idType and $tb")
    val spark = pairs.sparkSession
    // ids read as K straight from InternalRows; K's Ordering is Spark SQL's
    // for the id type (UTF8String compares UTF-8 bytes), and K is also the
    // InternalRow value the result frame carries.
    // `width` is the id's byte size in the plan-statistics estimate.
    def run[K: ClassTag: Ordering](id: (InternalRow, Int) => K, width: K => Int): DataFrame = {
      val least = implicitly[Ordering[K]].min(_: K, _: K)
      val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      // folds a message (w, n) into the receiver's (min, count)
      def combine(into: mutable.HashMap[K, (K, Long)], x: K, w: K, n: Long): Unit =
        into(x) = into.get(x).fold((w, n)) { case (mw, mn) => (least(mw, w), mn + n) }
      // symmetric edges: one block per partition from message source y to
      // its receivers x
      val adj = pairs.select(col("doc_a"), col("doc_b")).queryExecution.toRdd.flatMap { r =>
        def show(i: Int) = if (r.isNullAt(i)) "null" else id(r, i).toString
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"clusterWinners: null doc id in pair (${show(0)}, ${show(1)})")
        val (a, b) = (id(r, 0), id(r, 1))
        if (a == b) Nil else Seq(a -> b, b -> a)
      }.partitionBy(part).mapPartitions { it =>
        val ys = mutable.HashMap.empty[K, List[K]]
        it.foreach { case (y, x) => ys(y) = x :: ys.getOrElse(y, Nil) }
        Iterator.single(ys)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // round 0 = one full edge step, least(self, min neighbor); one label
      // block per partition of `part`
      var labels = adj.map(_.map { case (x, ys) =>
        x -> Label(ys.foldLeft(x)(least), x, 0L) }).persist(StorageLevel.MEMORY_AND_DISK)
      var round = 0
      var changed = -1L
      var (nRows, nBytes) = (0L, 0L)
      while (changed != 0L) {
        round += 1
        require(round <= maxRounds,
          s"clusterWinners did not converge within $maxRounds rounds (component diameter > 2^$maxRounds?)")
        val all = round == 1 // everyone "changed" in round 0
        // (1) messages from last round's changed labels only, along edges,
        //     combined per receiver in the sending task and again on arrival
        val msgs = adj.zipPartitions(labels) { (a, l) =>
          val (ys, out) = (a.next(), mutable.HashMap.empty[K, (K, Long)])
          l.next().foreach { case (y, Label(w, p, _)) =>
            if (all || w != p) ys(y).foreach(combine(out, _, w, 1L))
          }
          out.iterator
        }
        val upd = labels.zipPartitions(msgs.partitionBy(part)) { (l, m) =>
          val got = mutable.HashMap.empty[K, (K, Long)]
          m.foreach { case (x, (w, n)) => combine(got, x, w, n) }
          Iterator.single(l.next().map { case (x, Label(w, _, _)) =>
            x -> got.get(x).fold(Label(w, w, 0L)) { case (mw, n) => Label(least(w, mw), w, n) }
          })
        }
        // (2) pointer jump: each non-root x asks its target t = w1(x) for
        //     w1(t), and the answer is shuffled back to x
        val requests = upd.flatMap(_.iterator.collect { case (x, Label(w1, _, _)) if w1 != x => w1 -> x })
        val answers = upd.zipPartitions(requests.partitionBy(part)) { (u, r) =>
          val ws = u.next()
          r.flatMap { case (t, x) => ws.get(t).map(l => x -> l.w) }
        }
        val next = upd.zipPartitions(answers.partitionBy(part)) { (u, a) =>
          val ws = u.next() // this task's own block: `upd` is never stored
          a.foreach { case (x, j) => ws(x) = ws(x).copy(w = least(ws(x).w, j)) }
          Iterator.single(ws)
        }.persist(StorageLevel.MEMORY_AND_DISK)
        // ONE action for the round statistics and the result's size, by
        // Spark's row-size formula (8 bytes of row overhead plus the column
        // widths) with string ids at their measured UTF-8 length
        val (c, processed, k, b) = next.aggregate((0L, 0L, 0L, 0L))(
          (acc, ws) => ws.foldLeft(acc) { case ((c, e, k, b), (x, Label(w, p, n))) =>
            (if (w == p) c else c + 1, e + n, k + 1, b + 8 + width(x) + width(w)) },
          { case ((c1, e1, k1, b1), (c2, e2, k2, b2)) => (c1 + c2, e1 + e2, k1 + k2, b1 + b2) })
        stats.foreach(_ += CcRoundStat(round, c, processed))
        labels.unpersist(blocking = false) // `next` is filled: one round stays stored
        labels = next
        changed = c
        nRows = k
        nBytes = b
      }
      adj.unpersist(blocking = false)
      Bridge.internalRowFrame(spark,
        StructType(Seq("doc_id", "winner").map(StructField(_, idType, nullable = false))),
        labels.flatMap(_.iterator.map { case (x, l) => InternalRow(x, l.w) }),
        Some((BigInt(nBytes), BigInt(nRows))))
    }
    idType match {
      case StringType => // equals only the default UTF8_BINARY collation
        run[UTF8String](_.getUTF8String(_).clone(), _.numBytes)
      case LongType => run[Long](_.getLong(_), _ => 8)
      case IntegerType => run[Int](_.getInt(_), _ => 4)
      case t => throw new IllegalArgumentException(
        s"clusterWinners: doc ids must be string (UTF8_BINARY), long or int, got ${t.sql}")
    }
  }

  /** A doc's label in a [[clusterWinners]] round: its winner, its winner
    * when the round began, and the messages it received in the round.
    */
  private final case class Label[K](w: K, p: K, n: Long)
}
