package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.freshCatalog

/** CBO over CATALOG tables (the v2 twin of CboSpec): manifest-exact row
  * counts and footer-derived column bounds are free; `CALL system.analyze`
  * persists NDV so `JoinEstimation` can cost equi-joins — only then does
  * join reorder fire. The same bait as CboSpec: fact-first syntax,
  * dimension-first plan. */
class CboCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cboOn(ss: SparkSession): Unit = {
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    ss.conf.set("spark.sql.cbo.planStats.enabled", "true")
  }

  /** Star fixture: orders (fact, 3000) / customer (300) / nation (20). */
  private def seedStar(ss: SparkSession, c: String): (String, String, String) = {
    val (o, cu, n) = (s"$c.ns.orders", s"$c.ns.customer", s"$c.ns.nation")
    ss.sql(s"CREATE TABLE $n (n_nationkey BIGINT, n_name STRING)")
    ss.sql(s"INSERT INTO $n SELECT id, concat('nation_', CAST(id AS STRING)) FROM range(0, 20)")
    ss.sql(s"CREATE TABLE $cu (c_custkey BIGINT, c_nationkey BIGINT)")
    ss.sql(s"INSERT INTO $cu SELECT id, id % 20 FROM range(0, 300)")
    ss.sql(s"CREATE TABLE $o (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    ss.sql(s"INSERT INTO $o SELECT id, id % 300, CAST(id AS DOUBLE) / 7 FROM range(0, 3000)")
    (o, cu, n)
  }

  private def innermostJoinTables(plan: LogicalPlan): Set[String] = {
    val joins = plan.collect { case j: Join => j }
    joins.filter(j => j.children.forall(ch =>
      ch.collect { case jj: Join => jj }.isEmpty))
      .flatMap(_.collect { case r: DataSourceV2ScanRelation =>
        r.relation.identifier.map(_.name()) }.flatten)
      .toSet
  }

  private def bait(o: String, cu: String, n: String): String =
    s"""SELECT n_name, count(*) AS n_orders
        FROM $o JOIN $cu ON o_custkey = c_custkey
                JOIN $n ON c_nationkey = n_nationkey
        GROUP BY n_name"""

  test("manifest row counts + bounds reach EXPLAIN COST with no ANALYZE step") {
    val (ss, c) = freshCatalog("cbocat_free")
    cboOn(ss)
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) FROM range(0, 1000)")
    val txt = ss.sql(s"EXPLAIN COST SELECT * FROM $t").head().getString(0)
    assert("rowCount=([0-9.E+]+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble).contains(1000.0),
      s"expected manifest rowCount=1000 in EXPLAIN COST, got:\n$txt")
    // range selectivity from the FREE manifest bounds: a 10% id window
    // must estimate far below the table's 1000 rows
    val fTxt = ss.sql(s"EXPLAIN COST SELECT * FROM $t WHERE id < 100").head().getString(0)
    val counts = "rowCount=([0-9.E+]+)".r.findAllMatchIn(fTxt)
      .map(_.group(1).toDouble).toSeq
    assert(counts.exists(n => n > 0 && n <= 300),
      s"bounds-driven filter estimate should be ~100 (<=300), got $counts in:\n$fTxt")
  }

  test("join reorder on catalog tables: syntactic without CBO, dimension-first with") {
    // RED arm: CBO off — the syntactic fact-first order survives. If this
    // arm ever starts reordering, the green arm proves nothing.
    val (off, cOff) = freshCatalog("cbocat_off")
    val (o0, cu0, n0) = seedStar(off, cOff)
    val before = innermostJoinTables(off.sql(bait(o0, cu0, n0)).queryExecution.optimizedPlan)
    assert(before == Set("orders", "customer"),
      s"without CBO the syntactic order must survive; innermost = $before")

    // GREEN arm: CBO on — the FREE manifest statistics (exact row counts
    // + footer bounds on the join keys) are already enough for
    // JoinEstimation to cost the equi-joins, so the tiny dimension chain
    // builds first with NO ANALYZE step; CALL analyze then adds NDV and
    // the plan stays dimension-first.
    val (on, cOn) = freshCatalog("cbocat_on")
    val (o, cu, n) = seedStar(on, cOn)
    cboOn(on)
    val noAnalyze = innermostJoinTables(on.sql(bait(o, cu, n)).queryExecution.optimizedPlan)
    assert(noAnalyze == Set("customer", "nation"),
      s"manifest stats should reorder to customer x nation first; innermost = $noAnalyze")
    Seq("ns.orders", "ns.customer", "ns.nation").foreach(t =>
      on.sql(s"CALL $cOn.system.analyze(table => '$t')").collect())
    val after = innermostJoinTables(on.sql(bait(o, cu, n)).queryExecution.optimizedPlan)
    assert(after == Set("customer", "nation"),
      s"analyzed NDV keeps the dimension-first plan; innermost = $after")
    // and the reorder is semantics-preserving
    val rows = on.sql(bait(o, cu, n)).orderBy("n_name").collect()
    assert(rows.length == 20 && rows.map(_.getLong(1)).sum == 3000)
  }

  test("analyze returns per-column NDV within tolerance; strings carry lengths") {
    val (ss, c) = freshCatalog("cbocat_analyze")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 37 AS STRING)) FROM range(0, 5000)")
    val rows = ss.sql(s"CALL $c.system.analyze(table => 'ns.t')").collect()
      .map(r => r.getString(0) -> r).toMap
    val idNdv = rows("id").getLong(1)
    assert(math.abs(idNdv - 5000.0) / 5000.0 <= 0.15, s"id NDV $idNdv vs 5000")
    val grpNdv = rows("grp").getLong(1)
    assert(math.abs(grpNdv - 37.0) / 37.0 <= 0.15, s"grp NDV $grpNdv vs 37")
    assert(rows("grp").getLong(3) == 3L, "max_len of 'gNN' is 3")
    assert(rows("id").isNullAt(2) && rows("id").isNullAt(3),
      "non-string columns carry no length stats")
    // scan-reported column statistics: bounds exact from the manifest,
    // NDV from the analysis
    val rel = ss.table(t).queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r }.get
    val cs = rel.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (k, v) => k.fieldNames().mkString(".") -> v }
    assert(byName("id").min().get() == java.lang.Long.valueOf(0L))
    assert(byName("id").max().get() == java.lang.Long.valueOf(4999L))
    assert(byName("id").nullCount().getAsLong == 0L)
    assert(byName("id").distinctCount().getAsLong == idNdv)
    assert(byName("grp").maxLen().getAsLong == 3L)
    assert(!byName("grp").min().isPresent, "string bounds stay out of CBO range stats")
  }

  test("MOR tombstones suppress null counts but keep exact live rowCount") {
    val (ss, c) = freshCatalog("cbocat_mor")
    cboOn(ss)
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 500)")
    ss.sql(s"DELETE FROM $t WHERE id < 50")
    val txt = ss.sql(s"EXPLAIN COST SELECT * FROM $t").head().getString(0)
    assert("rowCount=([0-9.E+]+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble).contains(450.0),
      s"expected live rowCount=450 under MOR, got:\n$txt")
    val rel = ss.table(t).queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r }.get
    val cs = rel.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val id = cs.asScala.map { case (k, v) => k.fieldNames().mkString(".") -> v }.get("id")
    assert(id.forall(!_.nullCount().isPresent),
      "null counts must not be served under deletion vectors (tombstoned rows may hide nulls)")
  }
}
