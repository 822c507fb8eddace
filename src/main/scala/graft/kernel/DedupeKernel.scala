package graft.kernel

/** A dropped-chunk audit record (reference: internal/dedupe/dedupe.go:19-25). */
final case class DroppedChunk(
    chunkId: String,
    reason: String, // "exact_duplicate" | "near_duplicate"
    matchedChunkId: String,
    distance: Int,
    preview: String // <= 200 bytes + "..."
)

/** Dedup statistics (reference: internal/dedupe/dedupe.go:28-34). */
final case class DedupeStats(
    inputCount: Int,
    keptCount: Int,
    droppedCount: Int,
    exactDups: Int,
    nearDups: Int
)

final case class DedupeResult(
    kept: Vector[Chunk],
    dropped: Vector[DroppedChunk],
    stats: DedupeStats
)

/** Dedup configuration with reference defaults
  * (reference: internal/dedupe/dedupe.go:37-52).
  */
final case class DedupeConfig(
    method: String = "simhash",
    simHashK: Int = 5,
    simHashThreshold: Int = 6,
    window: Int = 250
) {

  /** Clamp to valid ranges (reference: internal/dedupe/dedupe.go:55-71):
    * K<=0 -> 5, threshold<0 -> 6, threshold>64 -> 64, window<0 -> 250
    * (window 0 stays 0 = "compare against all"), unknown method -> "simhash".
    */
  def validated: DedupeConfig = DedupeConfig(
    method = if (method == "exact" || method == "simhash" || method == "both") method else "simhash",
    simHashK = if (simHashK <= 0) 5 else simHashK,
    simHashThreshold =
      if (simHashThreshold < 0) 6 else if (simHashThreshold > 64) 64 else simHashThreshold,
    window = if (window < 0) 250 else window
  )
}

/** Pure sequential dedup kernel — the reference's semantics exactly
  * (reference: internal/dedupe/dedupe.go:74-359). This is both the test
  * oracle and the per-document engine run inside each document's own row
  * (graft.jobs.ExtractionJob; a document's greedy scan is inherently
  * order-dependent and must never be parallelized within the doc —
  * SURVEY.md §7.4.2).
  */
object DedupeKernel {

  /** Exact dedup by SHA1(norm), first occurrence wins; empty norm is always
    * kept un-hashed (reference: internal/dedupe/dedupe.go:74-117).
    */
  def exactHashDedupe(chunks: Seq[Chunk]): (Vector[Chunk], Vector[DroppedChunk]) = {
    val seen = scala.collection.mutable.HashMap.empty[String, String]
    val kept = Vector.newBuilder[Chunk]
    val dropped = Vector.newBuilder[DroppedChunk]
    for (chunk <- chunks) {
      if (chunk.norm.isEmpty) kept += chunk
      else {
        val hash = Hashing.sha1Hex(chunk.norm)
        seen.get(hash) match {
          case Some(existingId) =>
            dropped += DroppedChunk(
              chunk.id, "exact_duplicate", existingId, 0,
              TextKernel.byteTruncate(chunk.text, 200))
          case None =>
            seen(hash) = chunk.id
            kept += chunk
        }
      }
    }
    (kept.result(), dropped.result())
  }

  /** Greedy sliding-window SimHash dedup (reference:
    * internal/dedupe/dedupe.go:193-257). Signatures precomputed once; scan
    * in input order comparing against the last `window` KEPT chunks
    * (window 0 = all kept); match iff dist <= threshold, choosing the
    * earliest kept chunk with strictly-minimal distance; matched chunks are
    * dropped and never absorb later comparisons.
    */
  def simhashDedupe(chunks: Seq[Chunk], config: DedupeConfig): (Vector[Chunk], Vector[DroppedChunk]) = {
    if (chunks.isEmpty) return (Vector.empty, Vector.empty)
    val signatures = chunks.map(c => Hashing.simhash64(c.norm, config.simHashK))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    val keptSigs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dropped = Vector.newBuilder[DroppedChunk]
    val windowSize = if (config.window == 0) chunks.length else config.window

    var i = 0
    for (chunk <- chunks) {
      val sig = signatures(i)
      var matched = false
      var matchedChunkId = ""
      var minDistance = 65
      val windowStart = if (kept.length > windowSize) kept.length - windowSize else 0
      var j = windowStart
      while (j < kept.length) {
        val dist = Hashing.hammingDistance(sig, keptSigs(j))
        if (dist <= config.simHashThreshold && dist < minDistance) {
          matched = true
          matchedChunkId = kept(j).id
          minDistance = dist
        }
        j += 1
      }
      if (matched) {
        dropped += DroppedChunk(
          chunk.id, "near_duplicate", matchedChunkId, minDistance,
          TextKernel.byteTruncate(chunk.text, 200))
      } else {
        kept += chunk
        keptSigs += sig
      }
      i += 1
    }
    (kept.toVector, dropped.result())
  }

  /** Dispatcher (reference: internal/dedupe/dedupe.go:260-334):
    * "exact" = A1 only; "simhash" (and default) = exact pre-pass then
    * simhash on survivors; "both" = both run independently on the full
    * input, kept = intersection, dropped = union deduped by chunk id keeping
    * min distance. The reference's "both" dropped order is nondeterministic
    * (Go map iteration, dedupe.go:321-324) — we canonicalize by chunk id and
    * document the divergence.
    */
  def dedupe(chunks: Seq[Chunk], config0: DedupeConfig): DedupeResult = {
    val config = config0.validated
    if (chunks.isEmpty)
      return DedupeResult(Vector.empty, Vector.empty, DedupeStats(0, 0, 0, 0, 0))

    val (kept, dropped) = config.method match {
      case "exact" => exactHashDedupe(chunks)
      case "both" =>
        val (exactKept, exactDropped) = exactHashDedupe(chunks)
        val (simKept, simDropped) = simhashDedupe(chunks, config)
        val exactIds = exactKept.iterator.map(_.id).toSet
        val simIds = simKept.iterator.map(_.id).toSet
        val bothKept = chunks.iterator
          .filter(c => exactIds(c.id) && simIds(c.id)).toVector
        val byId = scala.collection.mutable.LinkedHashMap.empty[String, DroppedChunk]
        for (d <- exactDropped ++ simDropped) {
          byId.get(d.chunkId) match {
            case Some(existing) if d.distance >= existing.distance => ()
            case _ => byId(d.chunkId) = d
          }
        }
        (bothKept, byId.values.toVector.sortBy(_.chunkId))
      case _ => // "simhash"
        val (exactKept, exactDropped) = exactHashDedupe(chunks)
        val (simKept, simDropped) = simhashDedupe(exactKept, config)
        (simKept, exactDropped ++ simDropped)
    }

    val exactCount = dropped.count(_.reason == "exact_duplicate")
    val nearCount = dropped.count(_.reason == "near_duplicate")
    DedupeResult(
      kept, dropped,
      DedupeStats(chunks.length, kept.length, dropped.length, exactCount, nearCount))
  }
}
