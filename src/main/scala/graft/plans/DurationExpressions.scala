package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the duration codec (SURVEY.md §2.10
  * "showcase-grade option"): semantics identical to the composed Column
  * versions in graft.engine.Durations, the reference (property-checked and
  * fuzzed in PlansSpec), but evaluated by a hand-rolled char parser inside
  * whole-stage codegen — no regex, no intermediate arrays.
  *
  * Reference semantics: parse dispatch per
  * /root/reference/src/transform/f1_dataTransformer.py:11-64; truncating
  * HH:MM:SS:mmm format per f1_dataTransformer.py:67-79.
  */
case class ParseF1Duration(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_f1_duration"

  override def nullSafeEval(input: Any): Any =
    ParseF1Duration.parseBoxed(input.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("parsed")
      s"""
         |java.lang.Long $r = graft.plans.ParseF1Duration.parseBoxed($c.toString());
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ParseF1Duration =
    copy(child = newChild)
}

object ParseF1Duration {
  /** Total parser: the three encodings, sign-aware; anything else → null.
    * Exposed as a static for codegen.
    *
    * Width dispatch matches graft.engine.Durations.parseDurationToMillis
    * (leading group 1-7 digits — a longer digit run returns null rather than
    * overflowing parseLong/Long; see the leniency note there for why widths
    * are looser than the reference's exactly-2-digit regexes). So do the
    * blanks: Spark's `trim` strips only U+0020 (Java's `String.trim` strips
    * every char ≤ U+0020), and the regexes' `$` accepts one final line
    * terminator (`\r\n`, `\n`, `\r`, U+0085, U+2028, U+2029). NA tokens
    * hold letters, which the digit test rejects. */
  def parseBoxed(raw: String): java.lang.Long = {
    if (raw == null) return null
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    if (e > b) raw.charAt(e - 1) match {
      case '\n' => e -= (if (e - 2 >= b && raw.charAt(e - 2) == '\r') 2 else 1)
      case '\r' | '\u0085' | '\u2028' | '\u2029' => e -= 1
      case _ =>
    }
    val s = raw.substring(b, e)
    val sign = if (s.startsWith("-")) -1L else 1L
    // split remaining into digit-only groups on ':' (blank → one empty group)
    val parts = new scala.collection.mutable.ArrayBuffer[String](4)
    var start = if (sign < 0) 1 else 0
    var j = start
    while (j <= s.length) {
      if (j == s.length || s.charAt(j) == ':') {
        if (j == start) return null // empty group
        parts += s.substring(start, j)
        start = j + 1
      }
      j += 1
    }
    if (!parts.forall(_.forall(c => c >= '0' && c <= '9'))) return null
    // leading group is the only unbounded one; cap it so parseLong cannot
    // throw NumberFormatException (>19 digits) or overflow the ms arithmetic
    if (parts(0).length > 7) return null
    def L(p: String) = java.lang.Long.parseLong(p)
    parts.length match {
      case 3 =>
        val (p0, p1, p2) = (parts(0), parts(1), parts(2))
        if (p1.length >= 1 && p1.length <= 2 && p2.length == 3)
          sign * (L(p0) * 60000L + L(p1) * 1000L + L(p2))          // MM:SS:mmm
        else if (p1.length <= 2 && p2.length <= 2)
          sign * (L(p0) * 3600000L + L(p1) * 60000L + L(p2) * 1000L) // HH:MM:SS
        else null
      case 4 =>
        val (p0, p1, p2, p3) = (parts(0), parts(1), parts(2), parts(3))
        if (p1.length <= 2 && p2.length <= 2 && p3.length == 3)
          sign * (L(p0) * 3600000L + L(p1) * 60000L + L(p2) * 1000L + L(p3)) // HH:MM:SS:mmm
        else null
      case _ => null
    }
  }
}

/** millis-long → canonical `[-]HH:MM:SS:mmm` (truncating, days folded into
  * hours — the transformer's F7). Inverse of ParseF1Duration on its range. */
case class FormatF1Duration(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "format_f1_duration"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(FormatF1Duration.format(input.asInstanceOf[Long]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(" +
      s"graft.plans.FormatF1Duration.format($c));")

  override protected def withNewChildInternal(newChild: Expression): FormatF1Duration =
    copy(child = newChild)
}

object FormatF1Duration {
  def format(millis: Long): String = {
    val sign = if (millis < 0) "-" else ""
    val ms = math.abs(millis)
    f"$sign${ms / 3600000}%02d:${ms / 60000 % 60}%02d:${ms / 1000 % 60}%02d:${ms % 1000}%03d"
  }
}
