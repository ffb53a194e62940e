package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ScriptClass

/** The custom Hangul/Hanja script-classification expression (SURVEY §2.8
  * X4): codepoint-range semantics, tie-break priority, codegen/eval
  * parity, and the registered SQL surface. */
class ScriptClassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cls(s: String): String =
    ScriptClass.classify(UTF8String.fromString(s)).toString

  test("pure-script strings classify by codepoint range") {
    assert(cls("한글만 있는 문장") == "hangul")      // Hangul syllables
    assert(cls("ᄀᄁᄂ") == "hangul")                  // jamo block U+1100
    assert(cls("漢字語彙") == "hanja")                // CJK unified
    assert(cls("㐀㐁") == "hanja")                    // CJK ext A
    assert(cls("plain latin text") == "latin")
    assert(cls("12345") == "digit")
    assert(cls("!?;::--") == "other")
  }

  test("dominance and priority tie-break: hangul > hanja > latin > digit > other") {
    assert(cls("한국어 text 95") == "latin")     // 4 latin beats 3 hangul: counts decide
    assert(cls("한글 한글 ab") == "hangul")      // 4 hangul beats 2 latin
    assert(cls("韓a1") == "hanja")               // 1-1-1 tie -> priority (hangul absent)
    assert(cls("한漢a1") == "hangul")            // 4-way tie -> hangul wins
    assert(cls("a1") == "latin")                 // tie latin/digit -> latin
  }

  test("empty and whitespace-only strings are 'und'; whitespace never dominates") {
    assert(cls("") == "und")
    assert(cls(" \t\n\r\f ") == "und")
    assert(cls("          a") == "latin") // 10 spaces ignored, 1 latin decides
  }

  test("surrogate pairs count one codepoint (supplementary plane -> other)") {
    // U+20000 (CJK ext B, outside our hanja ranges) is 2 chars / 1 codepoint
    assert(cls("𠀀") == "other")
    assert(cls("ab𠀀") == "latin") // 2 latin vs 1 other
  }

  test("codegen and interpreted paths agree with direct classify on mixed corpus") {
    import spark.implicits._
    val rows = Seq("한글 문서입니다", "漢字 mixed 한글", "english only doc",
      "123 456 789", "", "   ", "韓國語 공부 123", "𠀀𠀀 x")
    val df = rows.toDF("text")
    val viaSql = df.select(expr("script_class(text)")).as[String].collect()
    assert(viaSql.toSeq == rows.map(cls))
    // null stays null (UnaryExpression null-intolerant contract)
    val n = Seq[Option[String]](None).toDF("text")
      .select(expr("script_class(text)")).collect()
    assert(n.head.isNullAt(0))
  }

  test("scriptProfile: latin-dominant synthetic corpus, counts reconcile") {
    val p = graft.operators.TextAnalysis.scriptProfile(spark, TestSpark.sf)
    // the synthetic corpus is ASCII english-ish: every doc must be latin
    assert(p.select("script").distinct().collect().map(_.getString(0)).toSeq == Seq("latin"))
    assert(p.agg(sum("hangul_chars")).head().getLong(0) == 0L)
    assert(p.agg(sum("latin_chars")).head().getLong(0) > 0L)
  }
}
