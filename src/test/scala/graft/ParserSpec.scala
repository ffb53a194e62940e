package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** P1/P2/P3 parser semantics incl. the SURVEY Q1/Q2 decisions: overflow
  * tails rejoin with the original delimiter; under-arity lines are
  * filtered (the reference would crash, `dag-knlp.py:105`); non-ASCII
  * round-trips (the reference's force_ascii=False). */
class ParserSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parse(lines: Seq[String], names: Seq[String], delim: String = ":") =
    Pipeline.parseDelimited(lines.toDF("value"), names, delim)

  test("exact-arity line maps field-per-column") {
    val rows = parse(Seq("a:b:c"), Seq("x", "y", "z")).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "b", "c")))
  }

  test("overflow arity folds the tail into the last column, rejoined with the delimiter (Q1)") {
    val rows = parse(Seq("감:感:감정:감각"), Seq("korean", "hanja", "examples")).collect()
    assert(rows.head.getString(2) == "감정:감각")
  }

  test("under-arity line is filtered, not crashed (Q2)") {
    val rows = parse(Seq("only_one_field", "a:b:c"), Seq("x", "y", "z")).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "a")
  }

  test("two-field line for a three-column schema keeps an empty tail") {
    // arity k-1 < k fields: filtered by the size >= k guard
    val rows = parse(Seq("a:b"), Seq("x", "y", "z")).collect()
    assert(rows.isEmpty)
  }

  test("non-ASCII content round-trips (force_ascii=False parity)") {
    val rows = parse(Seq("600:5:지미 카터", "1234:42:위키백과:소개"),
      Seq("edit_id", "word_id", "korean")).collect()
    assert(rows.map(_.getString(2)).toSet == Set("지미 카터", "위키백과:소개"))
  }

  test("regex metacharacters in the delimiter are escaped") {
    val rows = parse(Seq("a|b|c"), Seq("x", "y", "z"), "|").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "b", "c")))
  }

  test("one limit-k split gives the old split/slice/rejoin rows on golden lines") {
    val lines = Seq("a:b:c", "a:b:c:d:e", "a:b:c:", "::x", "a:b", "감:感:감정:감각")
    // the formula the limit-k split replaced: split on the quoted
    // delimiter without a limit, keep k-1 fields, rejoin the rest
    val f = split(col("value"), java.util.regex.Pattern.quote(":"), -1)
    val old = lines.toDF("value").filter(size(f) >= 3)
      .select(element_at(f, 1), element_at(f, 2), array_join(slice(f, 3, 1 << 20), ":"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val got = rows(parse(lines, Seq("x", "y", "z")))
    assert(got == Seq(("a", "b", "c"), ("a", "b", "c:d:e"), ("a", "b", "c:"),
      ("", "", "x"), ("감", "感", "감정:감각")))
    assert(got == rows(old))
  }

  test("tuple parse fans one line out to N rows (P2, Generator shape)") {
    val line = "5,'en','Jimmy Carter'),(5,'ja','J C'),(9,'en','Mathematics'"
    val rows = Pipeline.parseTuples(Seq(line).toDF("value"),
      Seq("article_id", "language", "text")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSeq == Seq("5", "5", "9"))
    assert(rows.map(_.getString(2)).toSeq == Seq("'Jimmy Carter'", "'J C'", "'Mathematics'"))
  }

  test("tuple parse folds commas inside the payload into the tail") {
    val rows = Pipeline.parseTuples(Seq("1,'ko','a, b, c'").toDF("value"),
      Seq("article_id", "language", "text")).collect()
    assert(rows.head.getString(2) == "'a, b, c'")
  }
}
