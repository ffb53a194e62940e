package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.SkipRecorder
import graft.TestSpark.freshCatalog

/** Aggregate + limit pushdown from manifest stats (VERDICT r15 #1/#8,
  * catalog/AggPush.scala + SkippingScanBuilder):
  *
  *  - a bare COUNT(*)/COUNT(col)/MIN/MAX on a catalog table folds from
  *    the manifest's per-file footer stats into a LocalScan — the plan
  *    is a LocalTableScan, ZERO data files read;
  *  - any surviving predicate, a GROUP BY, DISTINCT, an unprovable
  *    column (missing null counts, float/double NaN hazard), or
  *    deletion vectors under MIN/MAX fall back to the ordinary scan —
  *    conservative, never wrong;
  *  - a bare LIMIT k truncates the planned FILE LIST to a prefix
  *    covering k live rows (net of deletion-vector tombstones).
  */
class AggPushdownSpec extends AnyFunSuite {
  private def planOf(ss: SparkSession, sql: String): String =
    ss.sql(sql).queryExecution.executedPlan.toString

  test("bare COUNT/MIN/MAX fold to a LocalTableScan; values exact") {
    val (ss, c) = freshCatalog("ap_basic")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, s STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, id * 0.5, concat('k', CAST(id AS STRING)) " +
      "FROM range(0, 500)")
    ss.sql(s"INSERT INTO $t SELECT id, id * 0.5, NULL FROM range(500, 800)")
    SkipRecorder.clear(s"$t#agg")
    val q = s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx, count(s) AS ns, " +
      s"max(s) AS mxs FROM $t"
    val plan = planOf(ss, q)
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected a manifest-folded LocalTableScan, got:\n$plan")
    assert(SkipRecorder.lastFor(s"$t#agg").exists(_._1 == 0)) // zero files kept
    val r = ss.sql(q).head()
    assert(r.getLong(0) == 800 && r.getLong(1) == 0 && r.getLong(2) == 799)
    assert(r.getLong(3) == 500)
    assert(r.getString(4) == "k99") // byte-order max of k0..k499
  }

  test("fallbacks: predicate, GROUP BY, DISTINCT, SUM, float bounds") {
    val (ss, c) = freshCatalog("ap_fall")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, f FLOAT)")
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS FLOAT) FROM range(0, 100)")
    // a WHERE stays post-scan on file sources, so Spark never attempts
    // the aggregate pushdown — plan scans, result exact
    val p1 = planOf(ss, s"SELECT count(*) FROM $t WHERE id < 10")
    assert(p1.contains("BatchScan") && !p1.contains("LocalTableScan"), p1)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id < 10").head().getLong(0) == 10)
    // GROUP BY keys are not enumerable from bounds
    assert(planOf(ss, s"SELECT id % 2, count(*) FROM $t GROUP BY 1").contains("BatchScan"))
    // DISTINCT / SUM are not derivable from footer stats
    assert(planOf(ss, s"SELECT count(DISTINCT id) FROM $t").contains("BatchScan"))
    assert(planOf(ss, s"SELECT sum(id) FROM $t").contains("BatchScan"))
    // float/double MIN/MAX are NaN-hazardous — never folded...
    assert(planOf(ss, s"SELECT max(f) FROM $t").contains("BatchScan"))
    // ...but COUNT(*) alone still folds on the same table
    assert(planOf(ss, s"SELECT count(*) FROM $t").contains("LocalTableScan"))
  }

  test("deletion vectors: COUNT(*) folds net of tombstones; MIN/MAX fall back") {
    val (ss, c) = freshCatalog("ap_dv")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 300)")
    ss.sql(s"DELETE FROM $t WHERE id % 3 = 0") // vectors, no file moves
    val pc = planOf(ss, s"SELECT count(*) FROM $t")
    assert(pc.contains("LocalTableScan"), pc)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 200)
    // a vector may have deleted the extreme row — bounds must not fold
    val pm = planOf(ss, s"SELECT max(id) FROM $t")
    assert(pm.contains("BatchScan") && !pm.contains("LocalTableScan"), pm)
    assert(ss.sql(s"SELECT max(id) FROM $t").head().getLong(0) == 299)
    // COUNT(col) needs null accounting a vector can invalidate — falls back
    assert(planOf(ss, s"SELECT count(v) FROM $t").contains("BatchScan"))
  }

  test("all-null column folds MIN to NULL; time travel folds under its own manifest") {
    val (ss, c) = freshCatalog("ap_null")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, s STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, NULL FROM range(0, 50)")
    val p = planOf(ss, s"SELECT min(s) AS mn, count(s) AS n FROM $t")
    assert(p.contains("LocalTableScan"), p)
    val r = ss.sql(s"SELECT min(s) AS mn, count(s) AS n FROM $t").head()
    assert(r.isNullAt(0) && r.getLong(1) == 0L)
    val v1 = graft.catalog.Manifests.latestVersion(ss, t)
    ss.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(50, 60)")
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $v1").head().getLong(0) == 50)
    assert(planOf(ss, s"SELECT count(*) FROM $t VERSION AS OF $v1")
      .contains("LocalTableScan"))
    assert(ss.sql(s"SELECT count(s) FROM $t").head().getLong(0) == 10)
  }

  test("folds survive RENAME and int->bigint WIDEN: id-keyed stats keep answering") {
    val (ss, c) = freshCatalog("ap_evolve")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id INT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT CAST(id AS INT), id FROM range(0, 120)")
    // rename: stats are keyed by FIELD ID, so the old files' bounds
    // still fold under the NEW name — before r16 a rename silenced
    // every manifest stat for pre-rename files
    ss.sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    val p1 = planOf(ss, s"SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM $t")
    assert(p1.contains("LocalTableScan"), p1)
    val r1 = ss.sql(s"SELECT min(doc_id), max(doc_id) FROM $t").head()
    assert(r1.getInt(0) == 0 && r1.getInt(1) == 119)
    // widen: same id, stats strings decode under the wider type, the
    // fold now returns LongType values from int-era files
    ss.sql(s"ALTER TABLE $t ALTER COLUMN doc_id TYPE BIGINT")
    val p2 = planOf(ss, s"SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM $t")
    assert(p2.contains("LocalTableScan"), p2)
    val r2 = ss.sql(s"SELECT min(doc_id), max(doc_id) FROM $t").head()
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 119L)
    // and a DROP+ADD of another column never lets old stats answer:
    // the reborn column's MIN must be NULL-backed, not the retired
    // column's bounds — so the fold REFUSES (no stats for the new id)
    ss.sql(s"ALTER TABLE $t DROP COLUMN v")
    ss.sql(s"ALTER TABLE $t ADD COLUMN v BIGINT")
    assert(planOf(ss, s"SELECT min(v) FROM $t").contains("BatchScan"))
    assert(ss.sql(s"SELECT min(v) FROM $t").head().isNullAt(0))
  }

  test("bare LIMIT k plans a manifest prefix, not the whole file list") {
    val (ss, c) = freshCatalog("ap_limit")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    (0 until 4).foreach(i =>
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id, id " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    SkipRecorder.clear(s"$t#limit")
    val got = ss.sql(s"SELECT * FROM $t LIMIT 5").collect()
    assert(got.length == 5)
    // each INSERT writes 8 files whatever the host's core count, so the
    // manifest holds 32 small files; the prefix must cover 5 rows with a
    // HANDFUL of them, never the whole listing
    val rec = SkipRecorder.lastFor(s"$t#limit")
    assert(rec.exists { case (kept, total) => kept <= 4 && total > 16 },
      s"expected a tiny file prefix of a large manifest, got $rec")
    // a limit above the row count keeps everything and returns all rows
    assert(ss.sql(s"SELECT * FROM $t LIMIT 100000").collect().length == 400)
    // LIMIT under a WHERE never truncates the file list (filters stay
    // post-scan, so Spark does not push the limit at all)
    SkipRecorder.clear(s"$t#limit")
    assert(ss.sql(s"SELECT * FROM $t WHERE id % 2 = 0 LIMIT 5").collect().length == 5)
    assert(SkipRecorder.lastFor(s"$t#limit").isEmpty)
  }
}
