package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.freshCatalog

/** Incrementally-maintained materialized views (`CALL system.create_mv`
  * / `refresh_mv`): affected-key recompute driven by the change feed.
  * The invariant every test pins one way or another: after ANY refresh,
  * the MV equals the full recompute of its definition against the
  * source's current snapshot — incrementality changes the COST, never
  * the answer. */
class MvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** MV content == full recompute, compared exactly both directions. */
  private def assertMatchesRecompute(ss: SparkSession, mv: String, recomputeSql: String): Unit = {
    val got = ss.table(mv)
    val want = ss.sql(recomputeSql)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"MV diverged from recompute:\nMV:\n${got.collect().mkString("\n")}\n" +
        s"recompute:\n${want.collect().mkString("\n")}")
  }

  test("incremental refresh equals full recompute across insert/update/delete/merge") {
    val (ss, c) = freshCatalog("mv_basic")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT) PARTITIONED BY (grp)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 7 AS STRING)), id * 10 " +
      "FROM range(0, 1000)")
    val cr = ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count,total:sum(v),hi:max(v),lo:min(v),mean:avg(v)')").head()
    assert(cr.getString(0) == "ns.mv" && cr.getLong(2) == 7)
    val mv = s"$c.ns.mv"
    val rec = s"SELECT grp, count(*) AS n, sum(v) AS total, max(v) AS hi, " +
      s"min(v) AS lo, avg(v) AS mean FROM $t GROUP BY grp"
    assertMatchesRecompute(ss, mv, rec)

    // churn: update one group, delete part of another, merge in new rows
    ss.sql(s"UPDATE $t SET v = v + 1 WHERE grp = 'g3'")
    ss.sql(s"DELETE FROM $t WHERE grp = 'g5' AND id % 2 = 0")
    ss.sql(s"MERGE INTO $t t USING (SELECT id, concat('g', CAST(id % 11 AS STRING)) AS grp, " +
      s"id AS v FROM range(995, 1040)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "incremental", s"expected incremental, got ${r.getString(2)}")
    assert(r.getLong(3) > 0 && r.getLong(4) > 0)
    assertMatchesRecompute(ss, mv, rec)
    // no cached plans leak out of the refresh (the r11 Dedup lesson)
    assert(ss.sparkContext.getPersistentRDDs.isEmpty,
      "refresh must unpersist its churn-sized intermediates")
  }

  test("min/max stay right when the extreme row is deleted (the delta-math trap)") {
    val (ss, c) = freshCatalog("mv_minmax")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t VALUES (1,'a',10),(2,'a',99),(3,'b',5)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'hi:max(v),lo:min(v)')")
    // delete a's maximum: subtraction can't maintain max; recompute must
    ss.sql(s"DELETE FROM $t WHERE id = 2")
    ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')")
    val a = ss.sql(s"SELECT hi, lo FROM $c.ns.mv WHERE grp = 'a'").head()
    assert(a.getLong(0) == 10 && a.getLong(1) == 10)
  }

  test("a group whose rows all vanish is deleted from the MV") {
    val (ss, c) = freshCatalog("mv_vanish")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 3 AS STRING)) FROM range(0, 30)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")
    ss.sql(s"DELETE FROM $t WHERE grp = 'g1'")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "incremental" && r.getLong(5) == 1,
      s"expected one vanished key, got $r")
    assert(ss.table(s"$c.ns.mv").count() == 2)
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.mv WHERE grp = 'g1'").head().getLong(0) == 0)
  }

  test("refresh with no source commits is a noop; layout-only commits just advance") {
    val (ss, c) = freshCatalog("mv_noop")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, 'g' FROM range(0, 10)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")
    val mvVersionBefore = graft.catalog.Manifests.latestVersion(ss, s"$c.ns.mv")
    val r1 = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r1.getString(2) == "noop")
    // OPTIMIZE on the source is dataChange=false: refresh advances the
    // watermark without touching the MV
    ss.sql(s"INSERT INTO $t SELECT id, 'g' FROM range(10, 20)")
    ss.sql(s"CALL $c.system.compact(table => 'ns.src', target_files => 1)")
    val r2 = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r2.getString(2) == "incremental" && r2.getLong(3) == 1)
    val r3 = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r3.getString(2) == "noop")
    assert(graft.catalog.Manifests.latestVersion(ss, s"$c.ns.mv") == mvVersionBefore + 1)
  }

  test("force_full repairs a suspect MV even when the watermark says noop") {
    val (ss, c) = freshCatalog("mv_force")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 3 AS STRING)) FROM range(0, 30)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")
    // corrupt the MV directly (the operational scenario force_full exists
    // for); the watermark is current, so a plain refresh noops past it
    ss.sql(s"UPDATE $c.ns.mv SET n = 0 WHERE grp = 'g1'")
    val plain = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(plain.getString(2) == "noop")
    assert(ss.sql(s"SELECT n FROM $c.ns.mv WHERE grp = 'g1'").head().getLong(0) == 0)
    // force_full must NOT be short-circuited by the up-to-date watermark
    val forced = ss.sql(
      s"CALL $c.system.refresh_mv(view => 'ns.mv', force_full => true)").head()
    assert(forced.getString(2) == "full_forced", forced.getString(2))
    assert(ss.sql(s"SELECT n FROM $c.ns.mv WHERE grp = 'g1'").head().getLong(0) == 10)
  }

  test("concurrent refreshes serialize; the watermark never regresses") {
    val (ss, c) = freshCatalog("mv_race")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 5 AS STRING)), id FROM range(0, 100)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count,total:sum(v)')")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 5 AS STRING)), id FROM range(100, 140)")
    // two refreshes racing from separate threads: the lock serializes
    // them, so both succeed and the MV equals the recompute afterwards
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 2).map(_ => Future {
      ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head().getString(2)
    })
    val modes = Await.result(Future.sequence(fs), 120.seconds)
    assert(modes.forall(m => m == "incremental" || m == "noop"), modes.toString)
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, count(*) AS n, sum(v) AS total FROM $t GROUP BY grp")
    assert(graft.catalog.Mv.watermarkOf(ss, s"$c.ns.mv") ==
      graft.catalog.Manifests.latestVersion(ss, t))
  }

  test("expired feed falls back to a full recompute, loudly, still correct") {
    val (ss, c) = freshCatalog("mv_fallback")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 5 AS STRING)), id FROM range(0, 100)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count,total:sum(v)')")
    ss.sql(s"UPDATE $t SET v = 0 WHERE grp = 'g2'")
    ss.sql(s"INSERT INTO $t VALUES (1000, 'g9', 7)")
    // expire everything but the newest manifest: the watermark's parent
    // chain is gone, so the change feed is unreconstructable
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.src', keep_last => 1)")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "full_fallback", s"expected full_fallback, got $r")
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, count(*) AS n, sum(v) AS total FROM $t GROUP BY grp")
  }

  test("a targeted source commit refreshes via a PRUNED scan on a clustered source") {
    val (ss, c) = freshCatalog("mv_prune")
    val t = s"$c.ns.src"
    // clustered by grp => each file covers few groups; the affected-key
    // recompute's IN predicate must prune the file list. AQE would
    // coalesce this tiny write into ONE file and leave nothing to prune —
    // at real scale each range partition is a full file, so pin that
    // shape here.
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT) PARTITIONED BY (grp)")
    ss.sql(s"INSERT INTO $t SELECT id, " +
      "concat('g', lpad(CAST(id % 16 AS STRING), 2, '0')), id FROM range(0, 4000)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count,total:sum(v)')")
    ss.sql(s"UPDATE $t SET v = v + 1 WHERE grp = 'g03'")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "incremental" && r.getLong(3) == 1, s"got $r")
    // the recompute scanned the source AT the pinned version; its skipping
    // decision is recorded under the version-suffixed table name
    val srcV = graft.catalog.Manifests.latestVersion(ss, t)
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(s"$t@v$srcV").getOrElse(
      fail(s"no skipping decision recorded for $t@v$srcV"))
    assert(total > 1 && kept < total,
      s"affected-key recompute should scan a strict subset ($kept of $total)")
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, count(*) AS n, sum(v) AS total FROM $t GROUP BY grp")
  }

  test("multi-key MV takes the join path and still matches the recompute") {
    val (ss, c) = freshCatalog("mv_multikey")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, sub BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 4 AS STRING)), id % 3, id " +
      "FROM range(0, 500)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp,sub', aggs => 'n:count,total:sum(v)')")
    ss.sql(s"DELETE FROM $t WHERE grp = 'g1' AND sub = 2")
    ss.sql(s"UPDATE $t SET v = -v WHERE grp = 'g0' AND sub = 0")
    ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')")
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, sub, count(*) AS n, sum(v) AS total FROM $t GROUP BY grp, sub")
  }

  test("refresh is idempotent: replaying after a watermark rollback converges") {
    val (ss, c) = freshCatalog("mv_replay")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 3 AS STRING)) FROM range(0, 60)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")
    ss.sql(s"DELETE FROM $t WHERE grp = 'g0'")
    ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')")
    val snapshot = ss.table(s"$c.ns.mv").collect().toSet
    // simulate the crash window: merge committed, watermark bump lost
    val wm = graft.catalog.Mv.watermarkOf(ss, s"$c.ns.mv")
    graft.catalog.Mv.resetWatermark(ss, s"$c.ns.mv", wm - 1)
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "incremental")
    assert(ss.table(s"$c.ns.mv").collect().toSet == snapshot,
      "replayed refresh must converge to the same MV state")
  }

  test("an expired window never fakes a noop: expired churn forces the full fallback") {
    // the code-review r13 trap: a data-changing commit EXPIRES out of
    // history and only a dataChange=false survivor remains in the
    // watermark window — concluding "layout-only" from survivors would
    // silently advance the watermark past real churn
    val (ss, c) = freshCatalog("mv_expired_noop")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 10)")            // v1
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")                                 // wm = 1
    ss.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(10, 30)")           // v2: churn
    ss.sql(s"CALL $c.system.compact(table => 'ns.src', target_files => 1)") // v3: layout
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.src', keep_last => 1)")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "full_fallback",
      s"expired churn must force the full fallback, got $r")
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, count(*) AS n FROM $t GROUP BY grp")
  }

  test("hostile string keys (quotes, backslashes) never inline; refresh stays exact") {
    val (ss, c) = freshCatalog("mv_hostile")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING)")
    ss.sql(s"""INSERT INTO $t VALUES (1, "o'brien"), (2, 'a\\\\b'), (3, 'plain'), (4, "o'brien")""")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count')")
    ss.sql(s"""DELETE FROM $t WHERE id = 4""")
    ss.sql(s"INSERT INTO $t VALUES (5, 'plain')")
    ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')")
    assertMatchesRecompute(ss, s"$c.ns.mv",
      s"SELECT grp, count(*) AS n FROM $t GROUP BY grp")
  }

  test("MVs chain: an MV over an MV refreshes transitively, each hop incremental") {
    // an MV is an ordinary catalog table whose MERGE commits feed the
    // change feed, so a second MV can source the first — refresh
    // upstream-first and every hop is affected-key incremental
    val (ss, c) = freshCatalog("mv_chain")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, sub STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 6 AS STRING)), " +
      "concat('s', CAST(id % 2 AS STRING)), id FROM range(0, 600)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv1', source => 'ns.src', " +
      "keys => 'grp,sub', aggs => 'n:count,total:sum(v)')")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv2', source => 'ns.mv1', " +
      "keys => 'sub', aggs => 'groups:count,grand:sum(total)')")
    ss.sql(s"UPDATE $t SET v = v + 1000 WHERE grp = 'g2'")
    val r1 = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv1')").head()
    val r2 = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv2')").head()
    assert(r1.getString(2) == "incremental" && r2.getString(2) == "incremental",
      s"both hops incremental, got $r1 / $r2")
    assertMatchesRecompute(ss, s"$c.ns.mv2",
      s"""SELECT sub, count(*) AS groups, sum(total) AS grand FROM
          (SELECT grp, sub, count(*) AS n, sum(v) AS total FROM $t GROUP BY grp, sub)
          GROUP BY sub""")
  }

  test("a WHERE-filtered MV is exact under rows entering and leaving the filter") {
    val (ss, c) = freshCatalog("mv_where")
    val t = s"$c.ns.src"
    ss.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('g', CAST(id % 5 AS STRING)), id " +
      "FROM range(0, 500)")
    ss.sql(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:count,total:sum(v)', where => 'v >= 250')")
    val rec = s"SELECT grp, count(*) AS n, sum(v) AS total FROM $t WHERE v >= 250 GROUP BY grp"
    assertMatchesRecompute(ss, s"$c.ns.mv", rec)
    // churn crossing the threshold BOTH ways: rows 200..249 enter
    // (+100), rows 250..299 leave (-100); plus a delete inside the set
    ss.sql(s"UPDATE $t SET v = v + 100 WHERE id BETWEEN 200 AND 249")
    ss.sql(s"UPDATE $t SET v = v - 100 WHERE id BETWEEN 250 AND 299")
    ss.sql(s"DELETE FROM $t WHERE id BETWEEN 400 AND 420")
    val r = ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')").head()
    assert(r.getString(2) == "incremental", r.getString(2))
    assertMatchesRecompute(ss, s"$c.ns.mv", rec)
    // a group whose surviving rows ALL leave the filter vanishes
    ss.sql(s"UPDATE $t SET v = 0 WHERE grp = 'g1'")
    ss.sql(s"CALL $c.system.refresh_mv(view => 'ns.mv')")
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.mv WHERE grp = 'g1'").head().getLong(0) == 0)
    assertMatchesRecompute(ss, s"$c.ns.mv", rec)
  }

  test("where-clause guards: subqueries, nondeterminism, bad references refuse at CREATE") {
    val (ss, c) = freshCatalog("mv_where_guards")
    ss.sql(s"CREATE TABLE $c.ns.src (id BIGINT, grp STRING, v BIGINT)")
    ss.sql(s"CREATE TABLE $c.ns.other (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.src VALUES (1, 'a', 10)")
    val e1 = intercept[Exception](ss.sql(
      s"CALL $c.system.create_mv(view => 'ns.m1', source => 'ns.src', keys => 'grp', " +
        s"aggs => 'n:count', where => 'id IN (SELECT id FROM $c.ns.other)')"))
    assert(e1.getMessage.contains("subquery"), e1.getMessage)
    val e2 = intercept[Exception](ss.sql(
      s"CALL $c.system.create_mv(view => 'ns.m2', source => 'ns.src', keys => 'grp', " +
        "aggs => 'n:count', where => 'rand() < 0.5')"))
    assert(e2.getMessage.contains("nondeterministic"), e2.getMessage)
    val e3 = intercept[Exception](ss.sql(
      s"CALL $c.system.create_mv(view => 'ns.m3', source => 'ns.src', keys => 'grp', " +
        "aggs => 'n:count', where => 'no_such_col > 0')"))
    assert(e3.getMessage.toLowerCase.contains("no_such_col"), e3.getMessage)
    val e4 = intercept[Exception](ss.sql(
      s"CALL $c.system.create_mv(view => 'ns.m4', source => 'ns.src JOIN ns.other', " +
        "keys => 'grp', aggs => 'n:count')"))
    assert(e4.getMessage.contains("join"), e4.getMessage)
    // none of the refused views half-materialized
    assert(ss.sql(s"SHOW TABLES IN $c.ns").collect()
      .map(_.getString(1)).toSet == Set("src", "other"))
  }

  test("create_mv validates the definition at CREATE time") {
    val (ss, c) = freshCatalog("mv_validate")
    ss.sql(s"CREATE TABLE $c.ns.src (id BIGINT, grp STRING)")
    def failing(call: String): String =
      intercept[Exception](ss.sql(call).collect()).getMessage
    assert(failing(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'nope', aggs => 'n:count')").contains("not in"))
    assert(failing(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'n:median(id)')").contains("unsupported aggregate"))
    assert(failing(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.src', " +
      "keys => 'grp', aggs => 'grp:count')").contains("collides"))
    assert(failing(s"CALL $c.system.create_mv(view => 'ns.mv', source => 'ns.missing', " +
      "keys => 'grp', aggs => 'n:count')").contains("no such source"))
    // refresh of a non-MV table refuses with a pointer to create_mv
    assert(failing(s"CALL $c.system.refresh_mv(view => 'ns.src')")
      .contains("not a materialized view"))
  }
}
