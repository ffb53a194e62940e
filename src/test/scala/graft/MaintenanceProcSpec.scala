package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.GraftCatalog

/** The storage-maintenance procedure pair added on top of expire/compact:
  * RESTORE (rollback as a new commit, history preserved) and
  * remove_orphans (reclaim files no manifest references, with the age
  * guard for in-flight staged writes). */
class MaintenanceProcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): (SparkSession, String, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-mntspec-$name-")
    root.toFile.deleteOnExit()
    val ss = spark.newSession()
    ss.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (ss, name, root)
  }

  test("restore rolls content back as a NEW commit; history stays addressable") {
    val (ss, c, _) = freshCatalog("mnt_restore")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 100)")      // v1
    ss.sql(s"INSERT OVERWRITE $t SELECT id FROM range(0, 3)")   // v2: the bad deploy
    val r = ss.sql(s"CALL $c.system.restore(table => 'ns.t', version => 1)").head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 3)                // restored_to=1, new_version=3
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 100)
    // forensics: the bad version is STILL there, as is the pre-restore one
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 3)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 100)
    // restoring an expired version refuses loudly
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 2)")
    val e = intercept[Exception](
      ss.sql(s"CALL $c.system.restore(table => 'ns.t', version => 1)").collect())
    assert(e.getMessage.contains("not in history"))
  }

  test("remove_orphans reclaims unreferenced files but respects the age guard") {
    val (ss, c, root) = freshCatalog("mnt_orphan")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    val dataDir = root.resolve("ns").resolve("t").resolve("data")
    // simulate a crashed write: a staged file no manifest references
    val staged = java.nio.file.Files.createDirectories(dataDir.resolve("c-crashed"))
    val orphan = staged.resolve("part-zombie.parquet")
    java.nio.file.Files.writeString(orphan, "not really parquet")
    // age guard: a FRESH orphan survives a guarded pass
    val kept = ss.sql(s"CALL $c.system.remove_orphans(table => 'ns.t', " +
      "older_than_minutes => 10)").head()
    assert(java.nio.file.Files.exists(orphan), "fresh staged file must survive the guard")
    assert(kept.getInt(1) == 0)
    // guard disabled: the orphan goes, committed files stay
    val swept = ss.sql(s"CALL $c.system.remove_orphans(table => 'ns.t', " +
      "older_than_minutes => 0)").head()
    assert(swept.getInt(1) == 1 && !java.nio.file.Files.exists(orphan))
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 10)
    // time travel is untouched — only unreferenced files were deleted
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 10)
  }

  test("remove_orphans keeps branch-only files (they ARE referenced)") {
    val (ss, c, _) = freshCatalog("mnt_orphan_br")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"INSERT INTO $t.branch_wap SELECT id FROM range(100, 110)")
    val r = ss.sql(s"CALL $c.system.remove_orphans(table => 'ns.t', " +
      "older_than_minutes => 0)").head()
    assert(r.getInt(1) == 0, "branch-referenced files are not orphans")
    assert(ss.sql(s"SELECT count(*) FROM $t.branch_wap").head().getLong(0) == 20)
  }

  test("zorder OPTIMIZE: lossless layout-only rewrite, both dims prune the file list") {
    val (ss, c, _) = freshCatalog("mnt_zorder")
    val t = s"$c.ns.ev"
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ss.sql(s"CREATE TABLE $t (id BIGINT, u BIGINT, ts TIMESTAMP)")
    // two independent uniform dimensions, deliberately scattered
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id, " +
      "(id * 7919) % 1000 AS u, timestamp_micros(1700000000000000 + (id * 104729) % 100000000 * 1000) AS ts " +
      "FROM range(0, 20000)")
    val r = ss.sql(s"CALL $c.system.compact(table => 'ns.ev', target_files => 32, " +
      "zorder_by => 'u,ts')").head()
    assert(r.getLong(2) == 20000L)
    // lossless, and layout-only: streams must see dataChange = false
    assert(ss.sql(s"SELECT count(*), sum(u) FROM $t").head().toSeq ==
      Seq(20000L, (0L until 20000L).map(i => (i * 7919) % 1000).sum))
    // a narrow band on EITHER dimension scans a strict subset of files
    ss.sql(s"SELECT count(*) FROM $t WHERE u BETWEEN 100 AND 160").collect()
    val (uk, ut) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(uk >= 1 && uk < ut, s"u-band kept $uk of $ut")
    ss.sql(s"SELECT count(*) FROM $t WHERE ts >= TIMESTAMP'2023-11-15 00:00:00' " +
      "AND ts < TIMESTAMP'2023-11-15 04:00:00'").collect()
    val (tk, tt) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(tk >= 1 && tk < tt, s"ts-band kept $tk of $tt")
  }

  test("tags pin versions through expire; untag releases them; names are guarded") {
    val (ss, c, _) = freshCatalog("mnt_tag")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 100)")              // v1
    ss.sql(s"CALL $c.system.tag(table => 'ns.t', tag => 'rel')")        // pins v1
    ss.sql(s"INSERT INTO $t SELECT id FROM range(100, 200)")            // v2
    ss.sql(s"INSERT INTO $t SELECT id FROM range(200, 300)")            // v3
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    // the tagged v1 survived a keep_last=1 sweep; v2 did not
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 'rel'").head().getLong(0) == 100)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 100)
    intercept[Exception] { ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").collect() }
    // name guards: immutable, non-numeric, branch-collision-free
    intercept[Exception] {
      ss.sql(s"CALL $c.system.tag(table => 'ns.t', tag => 'rel')")
    }
    intercept[Exception] {
      ss.sql(s"CALL $c.system.tag(table => 'ns.t', tag => '7')")
    }
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    intercept[Exception] {
      ss.sql(s"CALL $c.system.tag(table => 'ns.t', tag => 'wap')")
    }
    // untag releases the pin: the next sweep reclaims v1
    ss.sql(s"CALL $c.system.drop_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"CALL $c.system.untag(table => 'ns.t', tag => 'rel')")
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    intercept[Exception] { ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 'rel'").collect() }
    intercept[Exception] { ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect() }
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 300)
  }

  test("set_clustering evolves the write layout without touching existing files") {
    val (ss, c, _) = freshCatalog("mnt_evolve")
    val t = s"$c.ns.t"
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(4) */ id, id FROM range(0, 4000)")
    val vBefore = graft.catalog.Manifests.latestVersion(ss, t)
    val filesBefore = graft.catalog.Manifests.files(ss, t, vBefore)
    ss.sql(s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => 'id')")
    // metadata-only: no new version, no file moved
    assert(graft.catalog.Manifests.latestVersion(ss, t) == vBefore)
    assert(graft.catalog.Manifests.files(ss, t, vBefore) == filesBefore)
    // the NEXT write range-clusters: a narrow probe after a full
    // re-ingest scans a strict subset
    ss.sql(s"INSERT OVERWRITE $t SELECT /*+ REPARTITION(4) */ id, id FROM range(0, 4000)")
    ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 300").collect()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept >= 1 && kept < total, s"evolved layout kept $kept of $total")
    // validation: unknown column, wrong type for hours(), '' clears
    intercept[Exception] {
      ss.sql(s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => 'nope')")
    }
    intercept[Exception] {
      ss.sql(s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => 'hours(id)')")
    }
    ss.sql(s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => '')")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4000)
  }

  test("listProcedures, loadProcedure and the unknown-name error name one procedure set") {
    val (_, c, root) = freshCatalog("mnt_procs")
    val cat = new GraftCatalog
    cat.initialize(c, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root.toString)))
    val sys = Array("system")
    val expected = Set("expire_versions", "compact", "create_branch", "publish_branch",
      "drop_branch", "rebase_branch", "restore", "remove_orphans", "history", "tag",
      "untag", "set_clustering", "create_mv", "refresh_mv", "analyze", "eq_upsert")
    val listed = cat.listProcedures(sys).map(_.name()).toSeq
    assert(listed.distinct == listed && listed.toSet == expected, s"listed: $listed")
    expected.foreach(n =>
      assert(cat.loadProcedure(Identifier.of(sys, n)).name() == n, s"loadProcedure($n)"))
    val e = intercept[UnsupportedOperationException](
      cat.loadProcedure(Identifier.of(sys, "no_such_proc")))
    val available = "\\(available: (.*)\\)$".r.findFirstMatchIn(e.getMessage)
      .map(_.group(1).split(", ").toSeq)
    assert(available.contains(listed), e.getMessage)
  }

  test("zorder OPTIMIZE validates its arguments") {
    val (ss, c, _) = freshCatalog("mnt_zorder_ddl")
    val t = s"$c.ns.ev"
    ss.sql(s"CREATE TABLE $t (id BIGINT, s STRING)")
    ss.sql(s"INSERT INTO $t VALUES (1, 'a')")
    intercept[Exception] { // one column is just sort_by
      ss.sql(s"CALL $c.system.compact(table => 'ns.ev', target_files => 2, zorder_by => 'id')")
    }
    intercept[Exception] { // mutually exclusive strategies
      ss.sql(s"CALL $c.system.compact(table => 'ns.ev', target_files => 2, " +
        "sort_by => 'id', zorder_by => 'id,s')")
    }
    intercept[Exception] { // rank bucketing needs an ordered numeric domain
      ss.sql(s"CALL $c.system.compact(table => 'ns.ev', target_files => 2, zorder_by => 'id,s')")
    }
  }
}
