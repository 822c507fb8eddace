package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Exprs
import graft.SparkSpec

/** NormalizeLowerElision: the semantic property the rewrite rests on
  * (normalize(lower(x)) == normalize(x), pinned over adversarial fixtures
  * and generated unicode), the plan-level effect (the inner Lower is gone
  * from the optimized plan, identical results), and the counterexample
  * proving the tempting normalize∘normalize collapse must NOT be a rule.
  */
class GraftRulesSpec extends AnyFunSuite with SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def norm(s: String): String =
    NormalizeEval.eval(UTF8String.fromString(s)).toString
  private def low(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  // the İ full lowercase mapping (i + combining dot), ß (caseless under
  // lower), titlecase digraphs, fullwidth, Deseret (supplementary plane),
  // Greek incl. final sigma, every trim class, run-breaking punctuation
  private val fixtures = Seq(
    "", " ", "\n", " \n ", "İstanbul İİ", "STRASSE ß Straße",
    "a . b", "A\t\tB\n\n\nC", "  leading İ trailing  ",
    "ǅungla ǄǄ ǆ", "ＡＢＣ ｄｅｆ", "𐐀𐐨", "ΣΊΣΥΦΟΣ ΟΔΌΣ",
    "a  b   c\nx\n\ny", "123 !@# 456")

  private val charGen = Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n'),
    1 -> Gen.oneOf('İ', 'ß', 'Σ', 'ς', '.', ',', '—', 'Ⱥ', '̇'),
    1 -> Gen.oneOf('Ā', 'ǅ', 'Ａ', '日', '\uD801'))
  private val strGen = Gen.choose(0, 60).flatMap(n =>
    Gen.listOfN(n, charGen).map(_.mkString))

  private def inputs: Seq[String] =
    fixtures ++ (1L to 300L).map(s => sample(strGen, s))

  test("normalize(lower(x)) == normalize(x) — the rewrite's soundness") {
    for (s <- inputs)
      assert(norm(low(s)) == norm(s),
        s"diverges for ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}")
  }

  test("normalize is NOT idempotent — the rule we must never add") {
    // run collapse precedes the char filter, so a removed run-breaker
    // leaves two spaces a second pass would merge (NormalizeExpr scaladoc)
    assert(norm("a . b") == "a  b")
    assert(norm(norm("a . b")) == "a b")
  }

  test("rule elides the inner lower in the optimized plan, same result") {
    GraftExtensions.registerRules(spark)
    // Range (not a LocalRelation) so ConvertToLocalRelation cannot
    // pre-evaluate the projection away before the rule is observable
    val base = spark.range(3).select(
      concat(lit("  İstanbul .. A\t\tb \n\n"), col("id").cast("string"))
        .as("s"))
    val rewritten = base.select(
      Exprs.normCol(lower(lower(col("s")))).as("n"))
    val direct = base.select(Exprs.normCol(col("s")).as("n"))

    val lowers = rewritten.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Lower => l })
    assert(lowers.isEmpty, s"expected no Lower under graft_normalize: $lowers")

    assert(rewritten.collect().map(_.getString(0)).toSeq ==
      direct.collect().map(_.getString(0)).toSeq)
  }

  test("registerRules is idempotent") {
    GraftExtensions.registerRules(spark)
    GraftExtensions.registerRules(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ eq NormalizeLowerElision) == 1)
  }
}
