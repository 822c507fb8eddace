package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

final case class Span(kind: String, text: String, mediaRef: String, offset: Int)
final case class Doc(id: String, spans: Array[Span])

/** Seeded input generator. Every document is a pure function of
  * (workload, seed, doc index), so the same seed yields the same table on
  * any host, and docs can be generated in parallel.
  */
object Gen {

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType)))))))

  /** Fixed pseudo-word vocabulary with a Zipf(s) sampler over its ranks. */
  final class Vocab(size: Int, s: Double, seed: Long) {
    val words: Array[String] = {
      val r = new SplittableRandom(seed)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 2 + r.nextInt(9)
        seen += Array.fill(n)(('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  def vocab(spec: JsonNode): Vocab = {
    val v = spec.get("vocabulary")
    new Vocab(v.get("size").asInt, v.get("zipf_s").asDouble, v.get("seed").asLong)
  }

  private def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL ^ i)

  private def between(r: SplittableRandom, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

  private def paragraph(v: Vocab, r: SplittableRandom, wMin: Int, wMax: Int): String = {
    val n = between(r, wMin, wMax)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val w = v.word(r)
      if (i == 0) sb.append(w.capitalize) else sb.append(' ').append(w)
      i += 1
    }
    sb.append('.').toString
  }

  /** Replace one word of `p` with a vocabulary word that differs from it. */
  private def editOneWord(v: Vocab, r: SplittableRandom, p: String): String = {
    val ws = p.stripSuffix(".").split(' ')
    val i = r.nextInt(ws.length)
    var w = v.word(r)
    while (w.equalsIgnoreCase(ws(i))) w = v.word(r)
    ws(i) = if (i == 0) w.capitalize else w
    ws.mkString(" ") + "."
  }

  private def hex(r: SplittableRandom, n: Int): String =
    Array.fill(n)("0123456789abcdef".charAt(r.nextInt(16))).mkString

  private def mediaRef(r: SplittableRandom, docId: String): String =
    s"scan/$docId/${hex(r, 24)}.png"

  private val chromeLines = Array(
    "Battery 85% charging wifi signal weak and the search bar stays visible",
    "10:45 AM Back Forward Refresh Home Search Menu Settings Profile Tabs",
    "12 05 2024 wifi connected battery 40% charging notifications muted now",
    "Home Search Back Forward refresh page 3 of 12 battery low please charge")
  private val shortLines = Array("ok", "Page 12", "Fig. 3", "continued", "See above.")

  private def dupHeavyDoc(v: Vocab, g: JsonNode, seed: Long, i: Int): Doc = {
    val r = rng(seed, 1, i)
    val id = f"h$i%07d"
    val nPara =
      if (i == 0) g.get("huge_doc_paragraphs").asInt
      else {
        val x = math.exp(math.log(g.get("paragraphs_median").asDouble) +
          g.get("paragraphs_sigma").asDouble * r.nextGaussian())
        math.max(g.get("paragraphs_min").asInt,
          math.min(g.get("paragraphs_max").asInt, math.round(x).toInt))
      }
    val (wMin, wMax) = (g.get("words_min").asInt, g.get("words_max").asInt)
    val pMedia = g.get("media").asDouble
    val pChrome = pMedia + g.get("chrome").asDouble
    val pShort = pChrome + g.get("short").asDouble
    val pExact = pShort + g.get("exact_repeat").asDouble
    val pNear = pExact + g.get("near_repeat").asDouble
    val window = g.get("repeat_window").asInt
    val pSecond = g.get("second_paragraph").asDouble
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    def recent(): String = fresh(fresh.length - 1 - r.nextInt(math.min(window, fresh.length)))
    val spans = Array.tabulate(nPara) { off =>
      val u = r.nextDouble()
      if (u < pMedia) Span("media", "", mediaRef(r, id), off)
      else {
        val text =
          if (u < pChrome) chromeLines(r.nextInt(chromeLines.length))
          else if (u < pShort) shortLines(r.nextInt(shortLines.length))
          else if (u < pExact && fresh.nonEmpty) {
            // a third of the exact repeats differ only in case, which the
            // normalizer folds away before hashing
            val p = recent()
            if (r.nextInt(3) == 0) p.toUpperCase(java.util.Locale.ROOT) else p
          } else if (u < pNear && fresh.nonEmpty) editOneWord(v, r, recent())
          else {
            val p = paragraph(v, r, wMin, wMax)
            fresh += p
            if (r.nextDouble() < pSecond) {
              val q = paragraph(v, r, wMin, wMax)
              fresh += q
              p + "\n\n" + q
            } else p
          }
        Span("text", text, "", off)
      }
    }
    Doc(id, spans)
  }

  private def shortMediaDoc(v: Vocab, g: JsonNode, seed: Long, i: Int): Doc = {
    val r = rng(seed, 2, i)
    val id = f"m$i%07d"
    val n = between(r, g.get("spans_min").asInt, g.get("spans_max").asInt)
    val pMedia = g.get("media").asDouble
    val (wMin, wMax) = (g.get("words_min").asInt, g.get("words_max").asInt)
    Doc(id, Array.tabulate(n) { off =>
      if (r.nextDouble() < pMedia) Span("media", "", mediaRef(r, id), off)
      else Span("text", paragraph(v, r, wMin, wMax), "", off)
    })
  }

  /** Near-dup corpus: a seeded plan of clusters (a base doc plus exact
    * copies and one-word edits of it) and singletons, shuffled so that a
    * cluster's min doc_id is not always its base.
    */
  private def nearDupDocs(v: Vocab, g: JsonNode, seed: Long): Array[Doc] = {
    val n = g.get("docs").asInt
    val plan = rng(seed, 3, -1L)
    // (base index, variant number): variant 0 is the base itself
    val members = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val (cMin, cMax) = (g.get("cluster_min").asInt, g.get("cluster_max").asInt)
    // chance that a base starts a cluster, so that about `cluster_share` of
    // all docs end up in clusters of mean size m
    val share = g.get("cluster_share").asDouble
    val m = (cMin + cMax) / 2.0
    val pCluster = share / (m - share * (m - 1))
    var base = 0
    while (members.length < n) {
      val size = if (plan.nextDouble() < pCluster) between(plan, cMin, cMax) else 1
      (0 until size).foreach(k => members += ((base, k)))
      base += 1
    }
    val order = members.take(n).toArray
    var i = order.length - 1
    while (i > 0) { // Fisher-Yates with the plan stream
      val j = plan.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val (wMin, wMax) = (g.get("words_min").asInt, g.get("words_max").asInt)
    val (pMin, pMax) = (g.get("paragraphs_min").asInt, g.get("paragraphs_max").asInt)
    val pMedia = g.get("media").asDouble
    val pExact = g.get("exact_copy").asDouble
    parallel(order.length) { pos =>
      val (b, k) = order(pos)
      val id = f"n$pos%07d"
      val r = rng(seed, 4, b)
      val nPara = between(r, pMin, pMax)
      val paras = Array.fill(nPara)(paragraph(v, r, wMin, wMax))
      val media = if (r.nextDouble() < pMedia) Some(mediaRef(r, f"base$b%07d")) else None
      if (k > 0) {
        val e = rng(seed, 5, b.toLong << 8 | k)
        if (e.nextDouble() >= pExact) {
          val at = e.nextInt(paras.length)
          paras(at) = editOneWord(v, e, paras(at))
        }
      }
      val spans = paras.zipWithIndex.map { case (p, off) => Span("text", p, "", off) } ++
        media.map(m => Span("media", "", m, paras.length))
      Doc(id, spans)
    }
  }

  /** Map `f` over [0, n) on all cores, keeping index order. */
  def parallel[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  def docs(workload: String, spec: JsonNode, v: Vocab, seed: Long): Array[Doc] = {
    val g = spec.get("workloads").get(workload).get("generator")
    workload match {
      case "dup-heavy" => parallel(g.get("docs").asInt)(i => dupHeavyDoc(v, g, seed, i))
      case "short-media-commit" => parallel(g.get("docs").asInt)(i => shortMediaDoc(v, g, seed, i))
      case "near-dup-corpus" => nearDupDocs(v, g, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** Parquet files per input table: more than the cores of a small host,
    * so the scan is several splits, and the same on every workload so that
    * scan cost compares across them.
    */
  val Files = 8

  /** Write the docs table as [[Files]] parquet files, one per contiguous
    * slice of docs.
    */
  def write(spark: SparkSession, ds: Array[Doc], dir: String): Unit = {
    val rows = spark.sparkContext.parallelize(ds.toSeq, Files).map { d =>
      Row(d.id, d.spans.toSeq.map(s => Row(s.kind, s.text, s.mediaRef, s.offset)))
    }
    spark.createDataFrame(rows, Schema).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Order-sensitive SHA-256 over every doc's id and spans, in id order:
    * equal digests mean two runs read identical inputs.
    */
  def contentDigest(ds: Array[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ds.sortBy(_.id).foreach { d =>
      md.update(d.id.getBytes(UTF_8)); md.update(0: Byte)
      d.spans.foreach { s =>
        md.update(s"${s.kind}\u0001${s.text}\u0001${s.mediaRef}\u0001${s.offset}\u0002".getBytes(UTF_8))
      }
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def bytes(ds: Array[Doc]): Long =
    ds.iterator.flatMap(_.spans.iterator)
      .map(s => (s.text.getBytes(UTF_8).length + s.mediaRef.getBytes(UTF_8).length).toLong).sum
}
