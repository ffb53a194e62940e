package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom codegen'd Catalyst expression must agree with the built-in
  * higher-order-function formulation and be reachable from SQL. */
class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df = {
    import spark.implicits._
    Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),   // identical -> 1.0
      (Array(1.0, 0.0), Array(0.0, 1.0)),             // orthogonal -> 0.0
      (Array(1.0, 1.0), Array(-1.0, -1.0)),           // opposite -> -1.0
      (Array(0.3, -0.7, 0.2), Array(1.5, 0.4, -0.9))
    ).toDF("a", "b")
  }

  test("cosine_sim matches the zip_with/aggregate formulation") {
    val rows = df.select(
      expr("cosine_sim(a, b)").as("custom"),
      expr("""aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
             / (sqrt(aggregate(a, 0D, (acc, x) -> acc + x * x))
                * sqrt(aggregate(b, 0D, (acc, x) -> acc + x * x)))""").as("builtin"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    assert(math.abs(df.select(expr("cosine_sim(a, b)")).collect()(0).getDouble(0) - 1.0) < 1e-12)
  }

  test("registered through the session extensions (no manual register)") {
    // Sessions.build injects it, so a fresh expr parse works directly
    assert(spark.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s")
      .head().getDouble(0) == 1.0)
  }

  test("type check rejects non-double-array inputs") {
    val e = intercept[Exception] {
      df.select(expr("cosine_sim(a, 'nope')")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("null input yields null, zero vector yields NaN") {
    val r1 = df.limit(1).select(expr("cosine_sim(a, CAST(NULL AS ARRAY<DOUBLE>))")).head()
    assert(r1.isNullAt(0))
    val r2 = spark.sql("SELECT cosine_sim(array(0.0D, 0.0D), array(1.0D, 0.0D)) s").head()
    assert(r2.getDouble(0).isNaN)
  }
}
