package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization — the text
  * canonicalization stage every LLM ingest runs before tokenization and
  * dedup (the reference's corpus is Korean Wikipedia text,
  * `dag-knlp.py:122-152`, where the SAME Hangul syllable can arrive
  * precomposed U+AC00.. or as conjoining jamo U+1100.. — byte-different,
  * canonically equal). Without canonicalization, exact dedup
  * fingerprints, MinHash shingles, and token counts all treat canonical
  * equivalents as distinct content.
  *
  * Spark has no built-in normalizer, so this wraps
  * `java.text.Normalizer` (Unicode-standard NFC) as a codegen'd
  * expression: both the interpreted eval and the generated code call the
  * same static [[UnicodeNormalize.nfc]], which fast-paths the common
  * case (`Normalizer.isNormalized` — pure ASCII and already-composed
  * text never allocates). The DuckDB oracle is its `nfc_normalize()` —
  * both implement the same Unicode normalization form, so results match
  * byte-for-byte. */
case class UnicodeNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  protected override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.nfc(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize extends SessionFunction {
  val name = "nfc_normalize"

  /** NFC-normalize; already-normalized input (the overwhelming common
    * case — all ASCII, precomposed text) returns the input UTF8String
    * untouched, no allocation. Called from both the interpreted eval and
    * the generated code. */
  def nfc(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[UnicodeNormalize].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$name expects 1 argument")
    UnicodeNormalize(children.head)
  }
}
