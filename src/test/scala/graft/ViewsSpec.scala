package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.GraftCatalog
import graft.TestSpark.freshCatalog

/** Persistent SQL views on the graft catalog: CREATE/DROP/SHOW VIEW as
  * plain statements (parser-intercepted — Spark 4.1 refuses v2 view DDL
  * before custom resolution rules run), reads resolved by rule, stored
  * definition context honored, cycles refused at create time, and —
  * the scale pin — filter pushdown and file skipping surviving THROUGH
  * a view. */
class ViewsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("create / select / show / drop lifecycle") {
    val (ss, c) = freshCatalog("vw_life")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT, grp STRING)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, concat('g', CAST(id % 3 AS STRING)) FROM range(0, 30)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT grp, count(*) AS n FROM $c.ns.t GROUP BY grp")
    assert(ss.sql(s"SELECT * FROM $c.ns.v ORDER BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("g0", 10L), ("g1", 10L), ("g2", 10L)))
    // SHOW VIEWS lists it with the standard (namespace, viewName, isTemporary) shape
    val shown = ss.sql(s"SHOW VIEWS IN $c.ns").collect()
    assert(shown.map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq ==
      Seq(("ns", "v", false)))
    assert(ss.sql(s"SHOW VIEWS IN $c.ns LIKE 'nope*'").isEmpty)
    ss.sql(s"DROP VIEW $c.ns.v")
    assert(ss.sql(s"SHOW VIEWS IN $c.ns").isEmpty)
    val e = intercept[Exception](ss.sql(s"SELECT * FROM $c.ns.v").collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    ss.sql(s"DROP VIEW IF EXISTS $c.ns.v") // no-throw
    assert(intercept[Exception](ss.sql(s"DROP VIEW $c.ns.v")).getMessage
      .toLowerCase.contains("view"))
  }

  test("a view is always-current: it reflects later row-level commits") {
    val (ss, c) = freshCatalog("vw_live")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, id FROM range(0, 100)")
    ss.sql(s"CREATE VIEW $c.ns.total AS SELECT sum(v) AS s FROM $c.ns.t")
    val before = ss.sql(s"SELECT s FROM $c.ns.total").head().getLong(0)
    ss.sql(s"UPDATE $c.ns.t SET v = 0 WHERE id < 50")
    ss.sql(s"DELETE FROM $c.ns.t WHERE id >= 90")
    val after = ss.sql(s"SELECT s FROM $c.ns.total").head().getLong(0)
    assert(before == (0L until 100).sum)
    assert(after == (50L until 90).sum)
    // a view body may PIN a version: time travel text round-trips
    ss.sql(s"CREATE VIEW $c.ns.frozen AS SELECT sum(v) AS s FROM $c.ns.t VERSION AS OF 1")
    assert(ss.sql(s"SELECT s FROM $c.ns.frozen").head().getLong(0) == before)
  }

  test("views on views resolve layer by layer; cycles are refused at create") {
    val (ss, c) = freshCatalog("vw_stack")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 10)")
    ss.sql(s"CREATE VIEW $c.ns.v1 AS SELECT id * 2 AS d FROM $c.ns.t")
    ss.sql(s"CREATE VIEW $c.ns.v2 AS SELECT sum(d) AS s FROM $c.ns.v1 WHERE d >= 10")
    assert(ss.sql(s"SELECT s FROM $c.ns.v2").head().getLong(0) == (10 to 18 by 2).sum)
    // v1 -> v2 -> v1 would loop forever in the resolver: refused NOW
    val e = intercept[Exception](
      ss.sql(s"CREATE OR REPLACE VIEW $c.ns.v1 AS SELECT s AS d FROM $c.ns.v2"))
    assert(e.getMessage.contains("cyclic"))
    // and the original definition survived the refused replace
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.v1").head().getLong(0) == 10)
  }

  test("stored definition context: bare names keep meaning what they meant") {
    val (ss, c) = freshCatalog("vw_ctx")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 7)")
    // create with a BARE table name under the graft catalog as current
    val mgr = ss.sessionState.catalogManager
    mgr.setCurrentCatalog(c)
    try {
      ss.sql(s"CREATE VIEW ns.v AS SELECT count(*) AS n FROM ns.t")
    } finally mgr.setCurrentCatalog("spark_catalog")
    // read from a DIFFERENT context: the stored context qualifies ns.t
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 7)
  }

  test("a persistent view must not capture a session temp view; DDL on temp names passes through") {
    val (ss, c) = freshCatalog("vw_temp_guard")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql("CREATE TEMPORARY VIEW staging AS SELECT 99 AS id")
    try {
      // create-time refusal: the body resolves NOW but would break (or
      // silently rebind) at read time once qualified to the stored context
      val e = intercept[Exception](
        ss.sql(s"CREATE VIEW $c.ns.v AS SELECT id FROM staging"))
      assert(e.getMessage.contains("temporary view"), e.getMessage)
      // DROP VIEW on the temp name under a graft current catalog must
      // reach Spark's temp-view handling, not the graft store
      val mgr = ss.sessionState.catalogManager
      mgr.setCurrentCatalog(c)
      try ss.sql("DROP VIEW staging") finally mgr.setCurrentCatalog("spark_catalog")
      assert(!ss.catalog.tableExists("staging"))
    } finally ss.catalog.dropTempView("staging")
  }

  test("bare SHOW VIEWS under a graft current catalog lists the current namespace") {
    val (ss, c) = freshCatalog("vw_bare_show")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT id FROM $c.ns.t")
    val mgr = ss.sessionState.catalogManager
    mgr.setCurrentCatalog(c)
    mgr.setCurrentNamespace(Array("ns"))
    try {
      val shown = ss.sql("SHOW VIEWS").collect()
      assert(shown.map(_.getString(1)).toSeq == Seq("v"), shown.mkString(","))
    } finally mgr.setCurrentCatalog("spark_catalog")
  }

  test("SHOW VIEWS IN a NON-graft catalog passes through even when current catalog is graft") {
    val (ss, c) = freshCatalog("vw_other_cat")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT id FROM $c.ns.t")
    val mgr = ss.sessionState.catalogManager
    mgr.setCurrentCatalog(c)
    try {
      // spark_catalog is registered and not graft: the statement must
      // reach Spark's own handling (session-catalog views, here none),
      // NOT be read as graft namespace `spark_catalog.default`
      val shown = ss.sql("SHOW VIEWS IN spark_catalog.default").collect()
      assert(shown.forall(_.getString(1) != "v"), shown.mkString(","))
    } finally mgr.setCurrentCatalog("spark_catalog")
  }

  test("a view body's own CTE may shadow a same-named temp view (not a capture)") {
    val (ss, c) = freshCatalog("vw_cte_shadow")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 4)")
    ss.sql("CREATE TEMPORARY VIEW shadowed AS SELECT 99 AS id")
    try {
      // `shadowed` inside the body is the CTE, not the temp view — the
      // read path substitutes CTEs first, so create must not refuse it
      ss.sql(s"CREATE VIEW $c.ns.v AS WITH shadowed AS " +
        s"(SELECT id FROM $c.ns.t WHERE id >= 2) SELECT count(*) AS n FROM shadowed")
      assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 2)
      // a genuine capture OUTSIDE any CTE is still refused
      val e = intercept[Exception](
        ss.sql(s"CREATE VIEW $c.ns.v2 AS SELECT id FROM shadowed"))
      assert(e.getMessage.contains("temporary view"), e.getMessage)
    } finally ss.catalog.dropTempView("shadowed")
  }

  test("CREATE OR REPLACE swaps the definition atomically (view.json never vanishes)") {
    val (ss, c) = freshCatalog("vw_atomic_replace")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 6)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT count(*) AS n FROM $c.ns.t")
    val root = ss.conf.get(s"spark.sql.catalog.$c.root")
    val viewJson = java.nio.file.Paths.get(root, "ns", "v", "view.json")
    // poll the store file from a racing thread across many replaces: the
    // atomic swap means it must exist at EVERY observation
    @volatile var missing = false
    @volatile var stop = false
    val watcher = new Thread(() => {
      while (!stop) { if (!java.nio.file.Files.exists(viewJson)) missing = true }
    })
    watcher.start()
    try {
      (1 to 20).foreach { i =>
        ss.sql(s"CREATE OR REPLACE VIEW $c.ns.v AS " +
          s"SELECT count(*) + $i AS n FROM $c.ns.t")
      }
    } finally { stop = true; watcher.join() }
    assert(!missing, "view.json vanished mid-replace (drop-then-create window)")
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 26)
  }

  test("temp views shadow catalog views on bare names; CTE names are not qualified") {
    val (ss, c) = freshCatalog("vw_shadow")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 5)")
    ss.sql(s"CREATE VIEW $c.ns.v AS WITH x AS (SELECT id FROM $c.ns.t WHERE id > 2) " +
      "SELECT count(*) AS n FROM x")
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 2)
    // a temp view named like the catalog view: bare name resolves to temp
    ss.sql(s"CREATE TEMPORARY VIEW v AS SELECT 42 AS n")
    assert(ss.sql("SELECT n FROM v").head().getInt(0) == 42)
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 2)
    ss.catalog.dropTempView("v")
  }

  test("file skipping survives THROUGH a view (the 100 TB reason views are free)") {
    val (ss, c) = freshCatalog("vw_skip")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val t = s"$c.ns.ev"
    ss.sql(s"CREATE TABLE $t (id BIGINT, bucket BIGINT) PARTITIONED BY (bucket)")
    ss.sql(s"INSERT INTO $t SELECT id, id % 16 FROM range(0, 4000)")
    ss.sql(s"CREATE VIEW $c.ns.ev_clean AS SELECT id, bucket FROM $t WHERE id IS NOT NULL")
    val n = ss.sql(s"SELECT count(*) FROM $c.ns.ev_clean WHERE bucket = 3").head().getLong(0)
    assert(n == 250)
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).getOrElse(
      fail(s"no skipping decision recorded for $t"))
    assert(total > 1 && kept < total,
      s"a selective predicate through the view must prune files ($kept of $total)")
  }

  test("subquery expressions resolve views too") {
    val (ss, c) = freshCatalog("vw_subq")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 20)")
    ss.sql(s"CREATE VIEW $c.ns.big AS SELECT id FROM $c.ns.t WHERE id >= 15")
    val n = ss.sql(
      s"SELECT count(*) FROM $c.ns.t WHERE id IN (SELECT id FROM $c.ns.big)").head().getLong(0)
    assert(n == 5)
  }

  test("DDL guard rails: replace, IF NOT EXISTS, collisions, column lists") {
    val (ss, c) = freshCatalog("vw_guard")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 4)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT count(*) AS n FROM $c.ns.t")
    // plain CREATE on an existing view refuses; OR REPLACE swaps the def
    assert(intercept[Exception](
      ss.sql(s"CREATE VIEW $c.ns.v AS SELECT 1 AS n")).getMessage.toLowerCase
      .contains("already exists"))
    ss.sql(s"CREATE VIEW IF NOT EXISTS $c.ns.v AS SELECT 1 AS n") // silent keep
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 4)
    ss.sql(s"CREATE OR REPLACE VIEW $c.ns.v AS SELECT count(*) * 10 AS n FROM $c.ns.t")
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 40)
    // a view cannot take a table's name and vice versa
    assert(intercept[Exception](
      ss.sql(s"CREATE VIEW $c.ns.t AS SELECT 1 AS x")).getMessage.contains("TABLE"))
    assert(intercept[Exception](
      ss.sql(s"CREATE TABLE $c.ns.v (id BIGINT)")).getMessage.contains("VIEW"))
    // bad body fails at CREATE time, not first read
    assert(intercept[Exception](
      ss.sql(s"CREATE VIEW $c.ns.bad AS SELECT nope FROM $c.ns.t")).getMessage
      .contains("UNRESOLVED_COLUMN"))
    // column lists are refused with a pointer to the supported spelling
    assert(intercept[Exception](
      ss.sql(s"CREATE VIEW $c.ns.cols (a) AS SELECT id FROM $c.ns.t")).getMessage
      .contains("column list"))
  }

  test("ALTER VIEW ... AS redefines in place, keeping comment-free metadata intact") {
    val (ss, c) = freshCatalog("vw_alter")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(0, 10)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT count(*) AS n FROM $c.ns.t")
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 10)
    ss.sql(s"ALTER VIEW $c.ns.v AS SELECT count(*) * 2 AS n FROM $c.ns.t")
    assert(ss.sql(s"SELECT n FROM $c.ns.v").head().getLong(0) == 20)
    // missing view refuses; cyclic redefinition refuses
    assert(intercept[Exception](
      ss.sql(s"ALTER VIEW $c.ns.missing AS SELECT 1 AS x")).getMessage
      .toLowerCase.contains("view"))
    ss.sql(s"CREATE VIEW $c.ns.w AS SELECT n FROM $c.ns.v")
    assert(intercept[Exception](
      ss.sql(s"ALTER VIEW $c.ns.v AS SELECT n FROM $c.ns.w")).getMessage
      .contains("cyclic"))
  }

  test("the ViewCatalog connector API serves the same store") {
    val (ss, c) = freshCatalog("vw_api")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    ss.sql(s"CREATE VIEW $c.ns.v AS SELECT id FROM $c.ns.t")
    val cat = ss.sessionState.catalogManager.catalog(c).asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    val v = cat.loadView(Identifier.of(Array("ns"), "v"))
    assert(v.query().contains("SELECT id FROM"))
    assert(v.schema().fieldNames.toSeq == Seq("id"))
    assert(cat.listViews("ns").map(_.name()).toSeq == Seq("v"))
    cat.renameView(Identifier.of(Array("ns"), "v"), Identifier.of(Array("ns"), "v2"))
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.v2").head().getLong(0) == 0)
    assert(!cat.viewExists(Identifier.of(Array("ns"), "v")))
  }
}
