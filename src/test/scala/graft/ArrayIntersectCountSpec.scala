package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom distinct-intersection-count expression (the exact-Jaccard
  * kernel of the dedup verify stage): semantics, duplicates, nulls, and
  * equivalence with Spark's built-in array_intersect on real data. */
class ArrayIntersectCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def inter(a: Seq[String], b: Seq[String]): Int = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(expr("array_intersect_count(a, b)")).head().getInt(0)
  }

  test("counts distinct common elements") {
    assert(inter(Seq("x", "y", "z"), Seq("y", "z", "q")) == 2)
    assert(inter(Seq("x"), Seq("x")) == 1)
    assert(inter(Seq("x"), Seq("y")) == 0)
    assert(inter(Seq.empty, Seq("x")) == 0)
    assert(inter(Seq.empty, Seq.empty) == 0)
  }

  test("duplicates count once; null elements ignored; null array yields null") {
    import spark.implicits._
    assert(inter(Seq("x", "x", "y"), Seq("x", "x", "x")) == 1)
    val r = spark.sql(
      "SELECT array_intersect_count(array('x', CAST(NULL AS STRING)), array('x', CAST(NULL AS STRING))) v")
    assert(r.head().getInt(0) == 1)
    val n = Seq((Seq("x"), Option.empty[Seq[String]]))
      .toDF("a", "b").select(expr("array_intersect_count(a, b)")).head()
    assert(n.isNullAt(0))
  }

  test("matches size(array_intersect) on the real token sets") {
    val sets = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), array_distinct(split(col("text"), " ", -1)).as("s"))
    val pairs = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .limit(5000)
      .select(col("a.s").as("sa"), col("b.s").as("sb"))
    val diff = pairs.filter(
      expr("array_intersect_count(sa, sb)") =!= size(array_intersect(col("sa"), col("sb"))))
    assert(diff.isEmpty)
  }
}
