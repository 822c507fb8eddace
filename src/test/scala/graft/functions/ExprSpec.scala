package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{Hashing, TextKernel}
import graft.ops.Exprs
import graft.SparkSpec

/** Native-expression vs kernel parity, including codegen and SQL paths. */
class ExprSpec extends AnyFunSuite with SparkSpec {

  private val samples = Seq(
    "", "ab", "abc", "hello world this is a simhash test string",
    "café über naïve — bytes not chars", "a" * 500,
    "the quick brown fox jumps over the lazy dog " * 10)

  test("SimHash64Expr == kernel simhash64 (DSL path, codegen on)") {
    import spark.implicits._
    val got = samples.toDF("s")
      .select(col("s"), Exprs.simhash64(col("s"), 5).as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- samples)
      assert(got(s) == Hashing.simhash64(s, 5), s"mismatch for '${s.take(30)}'")
  }

  test("fnv1a64 expression == kernel") {
    import spark.implicits._
    val got = samples.toDF("s")
      .select(col("s"), Exprs.fnv1a64(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- samples)
      assert(got(s) == Hashing.fnv1a64(s))
  }

  test("NormalizeExpr (fused) == regex-chain normalize, byte for byte") {
    import spark.implicits._
    // adversarial fixtures for the order-sensitive semantics: run collapse
    // happens BEFORE the char filter ("a . b" keeps TWO spaces), newline
    // runs vs space-separated newlines, CRLF (\r is filtered, not ws),
    // Unicode letters/digits, astral-plane letters, all-strippable input,
    // final sigma, the dotted capital I, NEL and NBSP (Go whitespace that
    // the filter drops)
    val fixtures = Seq(
      "", " ", "a . b", "a \t b", "a\t.\tb", "tab\there",
      "line1\r\nline2\r\rline3", "\n\n\nx\n\n", "\n \n", "\t\n\t",
      "MiXeD CaSe 123 !@#", "café ÜBER naïve", "७ ٣ ½ ⅔ Ⅸ", // Nd vs No/Nl
      "𝔘nicode astral 😀 emoji", "İstanbul ıı",
      "...---...", "  leading and trailing  ", "a  .  b",
      "ΟΔΟΣ ΣΑΣ", "İstanbul", "x\u0085y", "a\u00A0b") ++
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text").as[String].take(50)
    val rows = fixtures.toDF("s")
      .select(col("s"), Exprs.normCol(col("s")).as("fused"),
        graft.ops.SpecTwins.normColRegex(col("s")).as("chain"))
      .collect()
    for (r <- rows) {
      assert(r.getString(1) == r.getString(2),
        s"fused='${r.getString(1)}' chain='${r.getString(2)}'")
      assert(TextKernel.normalize(r.getString(0)) == r.getString(2),
        s"kernel='${TextKernel.normalize(r.getString(0))}' chain='${r.getString(2)}'")
    }
    // and on the full assembled corpus (every doc's raw text)
    val corpus = graft.ops.Corpus.assemble(
        graft.ops.Corpus.docsTable(spark, "/root/testdata/sf0.001"))
      .select(col("raw"), Exprs.normCol(col("raw")).as("fused"),
        graft.ops.SpecTwins.normColRegex(col("raw")).as("chain"))
      .filter(col("raw").isNotNull)
      .as[(String, String, String)].collect()
    assert(corpus.nonEmpty)
    for ((raw, fused, chain) <- corpus) {
      assert(fused == chain, "fused normalize must equal the regex chain corpus-wide")
      assert(TextKernel.normalize(raw) == chain,
        "kernel normalize must equal the regex chain corpus-wide")
    }
  }

  test("RollingHashExpr == interpreted HOF fold (code points, incl. astral plane)") {
    import spark.implicits._
    // the HOF folds ascii() over split(text, '') — one element per CODE
    // POINT, ascii returning the full code point (probed empirically on
    // 2/3/4-byte UTF-8). The native UTF-8 decode must agree everywhere:
    // ASCII, Latin-1 2-byte, CJK 3-byte, emoji 4-byte, empty, ws-only.
    val fixtures = Seq(
      "", " ", "abc", "aéß中😀b", "café ÜBER naïve", "७ ٣ ½ ⅔ Ⅸ",
      "𝔘nicode astral 😀 emoji", "\n\t\r mixed ws 　", "İstanbul ıı") ++
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text").as[String].take(50)
    val rows = fixtures.toDF("s")
      .select(Exprs.rollingHash(col("s")).as("native"),
        graft.ops.SpecTwins.rollingHashHof(col("s")).as("hof"))
      .collect()
    for (r <- rows)
      assert(r.getLong(0) == r.getLong(1), s"native=${r.getLong(0)} hof=${r.getLong(1)}")
  }

  test("RollingHashExpr degrades on malformed UTF-8 instead of crashing") {
    import org.apache.spark.unsafe.types.UTF8String
    // binary data read as string reaches the expression as raw bytes with
    // no validation (cast(binary as string) wraps, never checks) — truncated
    // leads, stray continuations and 0xF8+ leads must hash as single units,
    // not index past the buffer (the first cut threw
    // ArrayIndexOutOfBoundsException on exactly these)
    val malformed = Seq[Array[Byte]](
      Array(0xC3.toByte),                       // 2-byte lead, no continuation
      Array(0xE4.toByte, 0xB8.toByte),          // 3-byte lead, one short
      Array(0xF0.toByte, 0x9F.toByte),          // 4-byte lead, two short
      Array(0x80.toByte, 'a'.toByte),           // stray continuation byte
      Array(0xF9.toByte, 'a'.toByte, 'b'.toByte), // invalid 0xF8+ lead
      Array('a'.toByte, 0xC3.toByte))           // valid then truncated
    for (b <- malformed) {
      val h = graft.functions.RollingHashEval.eval(UTF8String.fromBytes(b))
      assert(h >= 0L, s"hash of ${b.mkString(",")} should be defined")
    }
    // and through the engine: a binary column cast to string
    import spark.implicits._
    val rows = malformed.toDF("b")
      .select(Exprs.rollingHash(col("b").cast("string")).as("h")).collect()
    assert(rows.length == malformed.size && rows.forall(_.getLong(0) >= 0L))
  }

  test("SQL registration via GraftExtensions") {
    import spark.implicits._
    // the shared session is built without the extensions conf (it applies
    // only at construction), so register on the live session
    GraftExtensions.register(spark)
    samples.toDF("s").createOrReplaceTempView("t")
    val rows = spark.sql(
        "SELECT s, simhash64(s, 5) AS sig, fnv1a64(s) AS h, graft_normalize(s) AS n, " +
          "rolling_hash(s) AS rh FROM t")
      .collect()
    for (r <- rows) {
      assert(r.getLong(1) == Hashing.simhash64(r.getString(0), 5))
      assert(r.getLong(2) == Hashing.fnv1a64(r.getString(0)))
      assert(r.getString(3) == graft.kernel.TextKernel.normalize(r.getString(0)))
      assert(r.getLong(4) == spark.range(1)
        .select(Exprs.rollingHash(org.apache.spark.sql.functions.lit(r.getString(0))))
        .head().getLong(0))
    }
    val dot = spark.sql(
      "SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(4 AS FLOAT), CAST(0.5 AS FLOAT)))").head().getDouble(0)
    assert(dot == 1.5 * 4 + 2 * 0.5, dot.toString)
  }

  test("LongDotExpr == interpreted aggregate(zip_with) fold (the semDedup kernel)") {
    import spark.implicits._
    val vecs = Seq(
      (Seq(0L, 0L, 0L), Seq(1L, 2L, 3L)),
      (Seq(1L, -2L, 3L), Seq(-4L, 5L, 6L)),
      (Seq(1000000L, 2000000L, -3000000L), Seq(7L, -11L, 13L)),
      (Seq.empty[Long], Seq.empty[Long]))
    val df = vecs.toDF("a", "b")
    val got = df.select(
      Exprs.longDot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) => x * y),
        lit(0L), (s: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) => s + v).as("hof"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // null column degrades to null, matching the HOF fold
    val nullRow = df.select(Exprs.longDot(lit(null).cast("array<bigint>"), col("b")))
      .head()
    assert(nullRow.isNullAt(0))
  }

  test("expression stays inside whole-stage codegen") {
    // a parquet-backed frame (local Seqs get constant-folded to a
    // LocalTableScan, which would bypass codegen entirely)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Exprs.simhash64(col("text"), 5).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in simple explain mode
    assert(plan.contains("*(1) Project [simhash64"), s"plan lost codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // and it actually executes through the generated code
    assert(df.count() == 500)
  }
}
