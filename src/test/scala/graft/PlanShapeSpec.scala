package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE pins for the two queries whose r10 cost regressions shipped
  * silently because their specs pinned results only (VERDICT r10 #6): a
  * future rewrite that re-introduces the regressing shape goes red here
  * even if every value still matches the oracle.
  *
  * Also proves the bench cost gate itself trips on an injected warm
  * regression and stays silent on noise (VERDICT r10 #4). */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("ppJoin plan has no array-keyed aggregate and no per-doc global sort") {
    val qe = operators.PrefixJoin.ppJoin(spark, sf).queryExecution
    // r10's regression: groupBy("ts") shuffled the FULL array<string>
    // token set as the hash key — any aggregate keyed on an array column
    // is that shape coming back
    val arrayKeyedAggs = qe.optimizedPlan.collect {
      case a: Aggregate
        if a.groupingExpressions.exists(_.dataType.isInstanceOf[ArrayType]) => a
    }
    assert(arrayKeyedAggs.isEmpty,
      s"ppJoin aggregates on an array-typed key again:\n${arrayKeyedAggs.mkString("\n")}")
    // r10's second cost center: sort_array(collect_list(...)) re-ordered
    // every document's tokens inside the query; the global token order
    // now lives in the staged index build, never in the probe plan
    val planStr = qe.executedPlan.toString
    assert(!planStr.contains("sort_array"),
      "ppJoin re-sorts token arrays inside the probe plan")
    assert(qe.optimizedPlan.collect { case s: Sort => s }.isEmpty,
      "ppJoin has a logical global Sort (the probe needs none)")
  }

  test("sourceOverlapSketch plan has no wide aggregate") {
    val qe = operators.Dedup.sourceOverlapSketch(spark, sf).queryExecution
    // r10's regression: 128 independent min(...) aggregate expressions in
    // ONE Aggregate node — a whole-stage-codegen/JIT compile storm. The
    // store-fold shape needs at most a handful per node.
    val wide = qe.optimizedPlan.collect {
      case a: Aggregate =>
        a.aggregateExpressions
          .flatMap(_.collect { case ae: AggregateExpression => ae }).size
    }.filter(_ > 8)
    assert(wide.isEmpty,
      s"sourceOverlapSketch grew a wide aggregate again (agg-expr counts: $wide)")
  }

  test("fanOut spreads through one hash exchange on every column, never round-robin") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, sf)
    val parts = new AdaptiveSparkPlanHelper {}
      .collect(Tables.fanOut(docs).queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    assert(parts.size == 1, s"expected one exchange below the cutoff, got $parts")
    assert(!parts.exists(_.isInstanceOf[RoundRobinPartitioning]), parts)
    parts.head match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)).toSet == docs.columns.toSet)
      case other => fail(s"fanOut exchange is $other, not a hash partitioning")
    }
  }

  test("registry is 1:1 — every registered query has a DuckDB oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"queries without oracle: ${(q -- o).toSeq.sorted}; " +
        s"stale oracles: ${(o -- q).toSeq.sorted}")
  }

  test("bench warm-rerun cost gate trips on a real regression, not on noise") {
    // injected deliberate regression: warm rerun 3x prior, above floor
    assert(Bench.warmGateTrips(priorSec = 2.0, warmSec = 6.0))
    // boundary: exactly 2x does not trip (gate is strictly >)
    assert(!Bench.warmGateTrips(priorSec = 2.0, warmSec = 4.0))
    // sub-floor noise: a 0.1s -> 0.4s swing is suite noise, not a plan change
    assert(!Bench.warmGateTrips(priorSec = 0.1, warmSec = 0.4))
    // just above floor AND above factor: trips
    assert(Bench.warmGateTrips(priorSec = 0.26, warmSec = 0.6))
    // no prior (first appearance): never trips
    assert(!Bench.warmGateTrips(priorSec = -1.0, warmSec = 10.0))
    assert(!Bench.warmGateTrips(priorSec = 0.0, warmSec = 10.0))
  }
}
