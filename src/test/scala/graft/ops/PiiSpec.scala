package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** PII scrub fixtures: detection counts, redaction output, and the
  * near-miss strings that must NOT match (the patterns promise identical
  * meaning under Java regex and RE2 — these pin the Java half; the DuckDB
  * oracle run pins the RE2 half on the same planted corpus).
  */
class PiiSpec extends AnyFunSuite with SparkSpec {

  private def scrub(text: String): (Long, Long, Long, String) = {
    import spark.implicits._
    val r = Pii.scrub(Seq((1L, text)).toDF("doc_id", "text")).collect()(0)
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
  }

  test("all three kinds detected and masked in place") {
    val (em, ip, ph, red) =
      scrub("mail a.b+c@ex-ample.org, call +44 123-4567, host 10.0.255.3 up")
    assert((em, ip, ph) == ((1L, 1L, 1L)))
    assert(red == "mail <EMAIL>, call <PHONE>, host <IP> up")
  }

  test("multiple occurrences all counted and replaced") {
    val (em, _, _, red) = scrub("x@y.io and z@w.dev")
    assert(em == 2L)
    assert(red == "<EMAIL> and <EMAIL>")
  }

  test("near misses stay untouched") {
    // >3-digit octet breaks \b..\b; no '+' prefix breaks phone; bare '@'
    // with one-letter TLD breaks email
    val (em, ip, ph, red) = scrub("v1234.5.6.7 is not an ip, 555 123-4567 no, a@b.c no")
    assert((em, ip, ph) == ((0L, 0L, 0L)))
    assert(red == "v1234.5.6.7 is not an ip, 555 123-4567 no, a@b.c no")
  }

  test("email at string boundaries and ip before newline") {
    val (em, ip, _, red) = scrub("a@b.co\n1.2.3.4")
    assert((em, ip) == ((1L, 1L)))
    assert(red == "<EMAIL>\n<IP>")
  }

  test("counts come from the ORIGINAL text, not the redacted one") {
    // the <IP> placeholder must not create or destroy later-phase matches
    val (_, ip, ph, red) = scrub("+1 555-0042 at 8.8.8.8")
    assert((ip, ph) == ((1L, 1L)))
    assert(red == "<PHONE> at <IP>")
  }
}
