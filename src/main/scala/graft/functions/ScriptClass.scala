package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: dominant-script classification of a string
  * by Unicode codepoint ranges, in one fused pass — the custom expression
  * SURVEY.md §2.8 (X4) names for the reference's Korean-text domain (the
  * reference parses Hangul/Hanja dictionary files, `dag-knlp.py:85-111`).
  *
  * Classes and ranges (public Unicode block assignments):
  *  - `hangul`: syllables U+AC00–U+D7A3, jamo U+1100–U+11FF, compat jamo
  *    U+3130–U+318F, jamo ext A U+A960–U+A97F, jamo ext B U+D7B0–U+D7FF;
  *  - `hanja`: CJK unified ideographs U+4E00–U+9FFF, ext A U+3400–U+4DBF,
  *    compat ideographs U+F900–U+FAFF;
  *  - `latin`: ASCII A–Z / a–z;
  *  - `digit`: ASCII 0–9;
  *  - whitespace is ignored for dominance; everything else is `other`.
  *
  * Result is the class with the highest codepoint count; ties break by the
  * fixed priority hangul > hanja > latin > digit > other, and a string with
  * no countable codepoints (empty / all-whitespace) classifies as `und`.
  * The DuckDB oracle reproduces the exact same decision from per-class
  * `regexp_replace` counts and a CASE ladder in the same priority order.
  *
  * Iteration is by codepoint (surrogate-pair aware), so supplementary-plane
  * characters count once — matching codepoint-based SQL engines.
  *
  * Both eval and codegen call the same static [[ScriptClass.classify]], so
  * the interpreted and generated paths cannot diverge; the call compiles
  * into the whole-stage-codegen loop with no boxing (the pattern Spark's
  * own StaticInvoke-backed string builtins use).
  */
case class ScriptClass(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "script_class"

  protected override def nullSafeEval(input: Any): Any =
    ScriptClass.classify(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScriptClass.classify($c)")

  override protected def withNewChildInternal(newChild: Expression): ScriptClass =
    copy(child = newChild)
}

object ScriptClass extends SessionFunction {
  val name = "script_class"

  private val Hangul = UTF8String.fromString("hangul")
  private val Hanja = UTF8String.fromString("hanja")
  private val Latin = UTF8String.fromString("latin")
  private val Digit = UTF8String.fromString("digit")
  private val Other = UTF8String.fromString("other")
  private val Und = UTF8String.fromString("und")

  /** Single-pass dominant-script decision; called from both the
    * interpreted eval and the generated code. */
  def classify(input: UTF8String): UTF8String = {
    val s = input.toString
    var hangul = 0; var hanja = 0; var latin = 0; var digit = 0; var other = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 0xAC00 && cp <= 0xD7A3) || (cp >= 0x1100 && cp <= 0x11FF) ||
          (cp >= 0x3130 && cp <= 0x318F) || (cp >= 0xA960 && cp <= 0xA97F) ||
          (cp >= 0xD7B0 && cp <= 0xD7FF)) hangul += 1
      else if ((cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
               (cp >= 0xF900 && cp <= 0xFAFF)) hanja += 1
      else if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) latin += 1
      else if (cp >= '0' && cp <= '9') digit += 1
      else if (cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' ||
               cp == '\r' || cp == ' ') () // whitespace: ignored for dominance
      else other += 1
    }
    if (hangul == 0 && hanja == 0 && latin == 0 && digit == 0 && other == 0) Und
    else if (hangul >= hanja && hangul >= latin && hangul >= digit && hangul >= other) Hangul
    else if (hanja >= latin && hanja >= digit && hanja >= other) Hanja
    else if (latin >= digit && latin >= other) Latin
    else if (digit >= other) Digit
    else Other
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[ScriptClass].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$name expects 1 argument")
    ScriptClass(children.head)
  }
}
