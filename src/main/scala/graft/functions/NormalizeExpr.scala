package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.TextKernel

/** Static eval target for the fused N1 normalize (reference:
  * internal/text/text.go:37-64): the same single pass as
  * `TextKernel.normalize` after the built-in lower()'s own lowercase
  * (`UTF8String.toLowerCase`), so the expression can never diverge from
  * `lower` on case mapping. It replaces the 4-pass Column formulation
  * (`graft.ops.SpecTwins.normColRegex`, test-side); ExprSpec pins the
  * two byte for byte.
  */
object NormalizeEval {
  def eval(in: UTF8String): UTF8String =
    UTF8String.fromString(TextKernel.collapseFilterTrim(in.toLowerCase.toString))
}

/** Static eval target for the fused HTML visible-text extraction — the
  * byte-identical single-pass form of the Column chain that HtmlLayoutSpec
  * keeps as its reference
  *
  *   trim(regexp_replace(decodeEntities(regexp_replace(html, "<[^>]*>", " ")),
  *     "[ \t\r\n]+", " "))
  *
  * where decodeEntities is seven sequential regexp_replace passes
  * (&lt; &gt; &quot; &#39; &nbsp; &copy; &amp; — &amp; LAST). Equivalence
  * argument for the fusion (spec-pinned by HtmlLayoutSpec on the rendered
  * corpus plus adversarial fixtures):
  *   - tag strip: "<[^>]*>" matches a '<', any run of non-'>' chars, then
  *     '>'; a '<' with no closing '>' matches nothing and survives. The
  *     scanner mirrors exactly that (emit ' ' and skip through '>' iff a
  *     '>' exists, else emit the '<').
  *   - entity decode: the seven entities have pairwise-distinct spellings,
  *     no replacement output contains a later pattern's text, and the only
  *     replacement containing '&' (&amp; -> "&") is the LAST pass — so the
  *     sequential chain equals one first-match scan per '&' with no rescan
  *     of replacement output.
  *   - both rewrites only ever produce ' ' / fixed ASCII, so the final
  *     whitespace collapse + trim can run in the same emit loop (emit a
  *     single pending space on ws runs, suppressed at the start; trailing
  *     trim by construction).
  */
object HtmlVisibleTextEval {

  def eval(in: UTF8String): UTF8String = {
    val s = in.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingWs = false // a whitespace run is open (emitted lazily)
    def emit(c: Char): Unit = {
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') {
        if (sb.length > 0) pendingWs = true // leading ws never emits
      } else {
        if (pendingWs) { sb.append(' '); pendingWs = false }
        sb.append(c)
      }
    }
    def emitStr(r: String): Unit = { var k = 0; while (k < r.length) { emit(r.charAt(k)); k += 1 } }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        val close = s.indexOf('>', i + 1)
        if (close >= 0) { emit(' '); i = close + 1 }
        else { emit('<'); i += 1 }
      } else if (c == '&') {
        // first-match over the fixed entity set (pairwise-distinct spellings)
        if (s.startsWith("&lt;", i)) { emit('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { emit('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { emit('"'); i += 6 }
        else if (s.startsWith("&#39;", i)) { emit('\''); i += 5 }
        else if (s.startsWith("&nbsp;", i)) { emit(' '); i += 6 }
        else if (s.startsWith("&copy;", i)) { emitStr("(c)"); i += 6 }
        else if (s.startsWith("&amp;", i)) { emit('&'); i += 5 }
        else { emit('&'); i += 1 }
      } else { emit(c); i += 1 }
    }
    UTF8String.fromString(sb.toString) // pendingWs at end == trailing trim
  }
}

/** Html.visibleText as a native codegen expression: one scan, one
  * allocation — replaces ten regex passes per block on the q43/q44/q45
  * hot path. Byte-parity with the Column chain is spec-pinned
  * (HtmlLayoutSpec).
  */
case class HtmlVisibleTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_visible_text"

  override protected def nullSafeEval(input: Any): Any =
    HtmlVisibleTextEval.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlVisibleTextEval.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlVisibleTextExpr =
    copy(child = newChild)
}

/** N1 normalize as a native codegen expression: one static call per row,
  * one allocation, one character pass — replaces four regex passes + trim
  * on the chunker hot path (every chunk of every document is normalized
  * before chrome filtering and hashing).
  */
case class NormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NormalizeEval.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeEval.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeExpr =
    copy(child = newChild)
}
