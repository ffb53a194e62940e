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

  test("signature store build is one query: no aggregate, one exchange (the fanOut spread)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import operators.Dedup
    val sc = spark.sparkContext
    val storeDir = java.nio.file.Files.createTempDirectory(Artifacts.root, "sigstore-jobs")
    val group = s"sigstore-build-${System.nanoTime()}"
    sc.setJobGroup(group, "signature store build")
    try Dedup.writeSignatureStore(spark, sf, storeDir.toString)
    finally sc.clearJobGroup()
    // three jobs, none of them a second pass over the data: the documents
    // read's schema inference (a footer job), the spread's map stage (AQE
    // runs every shuffle stage as its own job) and the profile write. The
    // aggregate + checkpoint + two-table build ran six.
    val jobs = sc.statusTracker.getJobIdsForGroup(group).sorted
    val stages = jobs.map(j => j -> sc.statusTracker.getJobInfo(j).toSeq
      .flatMap(_.stageIds.toSeq).flatMap(s => sc.statusTracker.getStageInfo(s).toSeq.map(_.name)))
    assert(jobs.length == 3, s"store build ran ${jobs.length} jobs: ${stages.mkString("; ")}")
    // the build writes exactly this frame
    val plan = Dedup.signatureProfile(spark, sf, 1, Dedup.NumBands, Dedup.RowsPerBand)
      .queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case a: HashAggregateExec => a }.isEmpty,
      s"store build plans an aggregate:\n$plan")
    assert(helper.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1,
      s"store build plans other than the one fanOut exchange:\n$plan")
    // mh and sig_arr are two fields of one kernel call: projection
    // collapsing must not inline the call into each field
    val kernels = helper.collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case k: functions.MinHashBands => k })
    assert(kernels.size == 1, s"the kernel is planned ${kernels.size} times:\n$plan")
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
