package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import graft.kernel.{DedupeConfig, DedupeKernel, Hashing, TextKernel}

/** Order-insensitive content digest of a result: the row count and the
  * sums of the two 32-bit halves of each row's xxhash64. The aggregate runs
  * inside a timed pass (through `observe`), so a pass is checked without a
  * second execution; the oracle folds the same hash over its rows in plain
  * Scala.
  */
object Digest {
  type D = (Long, Long, Long)

  def columns(cols: Column*): Seq[Column] = {
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  val spanCols: Seq[Column] = columns(col("doc_id"), col("kind"), col("text"),
    col("media_ref"), col("order").cast("long"))

  val dedupedDocCols: Seq[Column] = columns(col("doc_id"), col("text"),
    col("n_members").cast("long"))

  def of(m: Map[String, Any]): D =
    (m("n").asInstanceOf[Long], m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])

  def of(df: DataFrame, cols: Seq[Column]): D = {
    val r = df.agg(cols.head, cols.tail: _*).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Spark's `xxhash64` of one row of non-null strings and longs (seed 42,
    * each column's hash seeding the next).
    */
  def rowHash(values: Any*): Long = values.foldLeft(42L) {
    case (h, s: String) =>
      val b = s.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    case (h, l: Long) => XXH64.hashLong(l, h)
    case (_, v) => throw new IllegalArgumentException(s"unhashed type: $v")
  }

  def fold(hashes: Iterator[Long]): D = {
    var (n, lo, hi) = (0L, 0L, 0L)
    hashes.foreach { h => n += 1; lo += h & 0xffffffffL; hi += h >>> 32 }
    (n, lo, hi)
  }
}

/** Expected results computed sequentially from the generated docs with the
  * pure kernel, never through the Spark operators under test.
  */
object Oracle {

  /** The OCR stand-in's output for a media span, as the library defines it. */
  def ocr(ref: String): String =
    s"Scanned page $ref recognized text payload with sufficient descriptive length for chunking."

  /** Span texts in offset order, media OCR-mapped, joined by blank lines. */
  def raw(d: Doc): String =
    d.spans.sortBy(_.offset)
      .map(s => if (s.kind == "media") ocr(s.mediaRef) else s.text)
      .mkString("\n\n")

  final case class DocResult(kept: Vector[String], chunks: Int, filtered: Int,
      exact: Int, near: Int)

  /** chunkText -> filterChrome -> DedupeKernel.dedupe for one doc. */
  def extract(d: Doc): DocResult = {
    val chunks = TextKernel.chunkText(raw(d), graft.ops.Corpus.MinChunkChars)
    val filtered = TextKernel.filterChrome(chunks, TextKernel.defaultChromePatterns,
      graft.ops.Corpus.ChromeMaxLength)
    val res = DedupeKernel.dedupe(filtered, DedupeConfig())
    DocResult(res.kept.map(_.text), chunks.length, filtered.length,
      res.stats.exactDups, res.stats.nearDups)
  }

  /** Digest of the expected (doc_id, kind, text, media_ref, order) rows. */
  def spanDigest(ds: Array[Doc], rs: Array[DocResult]): Digest.D =
    Digest.fold(ds.indices.iterator.flatMap { i =>
      rs(i).kept.iterator.zipWithIndex.map { case (t, o) =>
        Digest.rowHash(ds(i).id, "text", t, "", o.toLong)
      }
    })

  final case class NearDup(digest: Digest.D, pairs: Long, candidates: Long,
      clusteredDocs: Int, components: Int, distinctSigs: Int)

  /** Doc-level near-dup clusters by brute force: every pair of distinct
    * kernel SimHash signatures within `threshold` bits, then a plain
    * union-find. Recall is exact, so the banded join must match it.
    */
  def nearDup(ds: Array[Doc], k: Int, threshold: Int,
      bands: Int, bandBits: Int): NearDup = {
    val raws = Gen.parallel(ds.length)(i => raw(ds(i)))
    val sigs = Gen.parallel(ds.length)(i => Hashing.simhash64(TextKernel.normalize(raws(i)), k))
    val bySig = ds.indices.groupBy(sigs(_))
    val distinct = bySig.keys.toArray
    val parent = Array.tabulate(ds.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    var pairs = 0L
    bySig.values.foreach { g =>
      g.tail.foreach(union(g.head, _))
      pairs += g.size.toLong * (g.size - 1) / 2
    }
    // brute-force Hamming over distinct signatures, rows split over cores
    val hits = Gen.parallel(distinct.length) { i =>
      val a = distinct(i)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var j = i + 1
      while (j < distinct.length) {
        if (java.lang.Long.bitCount(a ^ distinct(j)) <= threshold) out += distinct(j)
        j += 1
      }
      out.toArray
    }
    distinct.indices.foreach { i =>
      val ga = bySig(distinct(i))
      hits(i).foreach { b =>
        val gb = bySig(b)
        union(ga.head, gb.head)
        pairs += ga.size.toLong * gb.size
      }
    }
    // band candidates: distinct-signature pairs sharing a band key, per band
    val mask = (1L << bandBits) - 1
    val candidates = (0 until bands).map { b =>
      distinct.groupBy(s => (s >>> (b * bandBits)) & mask).values
        .map(g => g.length.toLong * (g.length - 1) / 2).sum
    }.sum
    val comps = ds.indices.groupBy(find)
    val digest = Digest.fold(comps.valuesIterator.map { members =>
      val winner = members.minBy(ds(_).id)
      Digest.rowHash(ds(winner).id, raws(winner), members.size.toLong)
    })
    val clustered = comps.values.filter(_.size > 1)
    NearDup(digest, pairs, candidates, clustered.map(_.size).sum, clustered.size,
      distinct.length)
  }
}
