package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.freshCatalog

/** WAP (write-audit-publish) branches on the versioned catalog: zero-copy
  * fork, write isolation both ways, fast-forward publish, diverged-main
  * refusal, orphan-file cleanup on drop, and retention interplay (expire
  * must not delete files a live branch still reads). */
class BranchSpec extends AnyFunSuite {
  private def seed(ss: SparkSession, t: String): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, x DOUBLE)") // v0
    ss.sql(s"INSERT INTO $t VALUES (1,'a',0.5),(2,'b',1.5),(3,'c',2.5),(4,'d',3.5)") // v1
  }

  private def ids(ss: SparkSession, t: String): Seq[Long] =
    ss.sql(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0)).toSeq

  test("create_branch forks a zero-copy view equal to main") {
    val (ss, c) = freshCatalog("br_fork")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 2L, 3L, 4L))
    // fork is metadata-only: no new data files were written
    val r = ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap2')")
      .collect().head
    assert(r.getString(0) == "created" && r.getString(1) == "wap2" && r.getInt(2) == 1)
  }

  test("branch writes are isolated from main, and main writes from the branch") {
    val (ss, c) = freshCatalog("br_iso")
    val t = s"$c.ns.t"
    val bt = s"$t.branch_wap"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"DELETE FROM $bt WHERE id = 1")
    ss.sql(s"INSERT INTO $bt VALUES (9,'z',9.0)")
    ss.sql(s"UPDATE $bt SET v = 'B' WHERE id = 2")
    assert(ids(ss, t) == Seq(1L, 2L, 3L, 4L), "main must not see staged writes")
    assert(ids(ss, bt) == Seq(2L, 3L, 4L, 9L))
    assert(ss.sql(s"SELECT v FROM $bt WHERE id = 2").head().getString(0) == "B")
    assert(ss.sql(s"SELECT v FROM $t WHERE id = 2").head().getString(0) == "b")
  }

  test("publish_branch fast-forwards main atomically and removes the branch") {
    val (ss, c) = freshCatalog("br_pub")
    val t = s"$c.ns.t"
    val bt = s"$t.branch_wap"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"DELETE FROM $bt WHERE id = 1")
    ss.sql(s"INSERT INTO $bt VALUES (9,'z',9.0)")
    val r = ss.sql(s"CALL $c.system.publish_branch(table => 'ns.t', branch => 'wap')")
      .collect().head
    assert(r.getString(0) == "published" && r.getInt(3) == 2, "two staged commits published")
    assert(ids(ss, t) == Seq(2L, 3L, 4L, 9L))
    // time travel reaches THROUGH the published chain: the staged commits
    // are ordinary versions of main now
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 4)
    val gone = intercept[Exception](ss.sql(s"SELECT * FROM $bt").collect())
    assert(gone.getMessage.toLowerCase.contains("table or view not found") ||
      gone.getMessage.contains("branch_wap"))
  }

  test("publish refuses when main advanced since the fork") {
    val (ss, c) = freshCatalog("br_conflict")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"INSERT INTO $t.branch_wap VALUES (9,'z',9.0)")
    ss.sql(s"INSERT INTO $t VALUES (10,'m',1.0)") // main moves
    val e = intercept[Exception](
      ss.sql(s"CALL $c.system.publish_branch(table => 'ns.t', branch => 'wap')"))
    assert(e.getMessage.contains("main advanced"))
    // the staged chain is still intact for re-staging decisions
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 2L, 3L, 4L, 9L))
    assert(ids(ss, t) == Seq(1L, 2L, 3L, 4L, 10L))
  }

  test("rebase_branch replays staged commits atop an advanced main; publish then lands") {
    val (ss, c) = freshCatalog("br_rebase")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    // staged curation: delete id=2, append id=9
    ss.sql(s"DELETE FROM $t.branch_wap WHERE id = 2")
    ss.sql(s"INSERT INTO $t.branch_wap VALUES (9,'z',9.0)")
    // concurrent ingest on main (disjoint files — never a conflict)
    ss.sql(s"INSERT INTO $t VALUES (10,'m',1.0)")
    intercept[Exception](
      ss.sql(s"CALL $c.system.publish_branch(table => 'ns.t', branch => 'wap')"))
    val r = ss.sql(s"CALL $c.system.rebase_branch(table => 'ns.t', branch => 'wap')").head()
    assert(r.getString(0) == "rebased" && r.getInt(3) == 2, r.toString) // 2 staged commits
    // the rebased branch view shows staged decisions + the new ingest
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 3L, 4L, 9L, 10L))
    ss.sql(s"CALL $c.system.publish_branch(table => 'ns.t', branch => 'wap')")
    assert(ids(ss, t) == Seq(1L, 3L, 4L, 9L, 10L))
  }

  test("rebase refuses when main rewrote a file the staging also touched") {
    val (ss, c) = freshCatalog("br_rebase_conflict")
    val t = s"$c.ns.t"
    // ONE data file holding every row, so both sides must rewrite it
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, x DOUBLE)")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, 'a', 0.5 FROM range(1, 5)")
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"DELETE FROM $t.branch_wap WHERE id = 2")
    ss.sql(s"UPDATE $t SET x = x + 1 WHERE id = 3")
    val e = intercept[Exception](
      ss.sql(s"CALL $c.system.rebase_branch(table => 'ns.t', branch => 'wap')"))
    assert(e.getMessage.contains("re-stage"), e.getMessage)
    // refused loudly, branch untouched: staged view unchanged
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 3L, 4L))
  }

  test("rebase refuses when deletion vectors diverge on a shared file") {
    val (ss, c) = freshCatalog("br_rebase_dv")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, x DOUBLE) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, 'a', 0.5 FROM range(1, 5)")
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    // both sides tombstone rows of the SAME data file
    ss.sql(s"DELETE FROM $t.branch_wap WHERE id = 2")
    ss.sql(s"DELETE FROM $t WHERE id = 3")
    val e = intercept[Exception](
      ss.sql(s"CALL $c.system.rebase_branch(table => 'ns.t', branch => 'wap')"))
    assert(e.getMessage.contains("re-stage"), e.getMessage)
    // a staged takedown must never silently vanish: branch still shows it
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 3L, 4L))
  }

  test("drop_branch deletes only branch-private files; main keeps reading") {
    val (ss, c) = freshCatalog("br_drop")
    val root = TestSpark.catalogRoot(ss, c)
    val t = s"$c.ns.t"
    seed(ss, t)
    def dataFiles(): Long = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
    }
    val before = dataFiles()
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"INSERT INTO $t.branch_wap VALUES (9,'z',9.0)")
    ss.sql(s"UPDATE $t.branch_wap SET x = 0 WHERE id = 1")
    assert(dataFiles() > before, "staging wrote branch-private files")
    val r = ss.sql(s"CALL $c.system.drop_branch(table => 'ns.t', branch => 'wap')")
      .collect().head
    assert(r.getString(0) == "dropped" && r.getInt(3) > 0)
    assert(dataFiles() == before, "orphaned staging files are reclaimed")
    assert(ids(ss, t) == Seq(1L, 2L, 3L, 4L))
  }

  test("expire_versions keeps files a live branch still reads") {
    val (ss, c) = freshCatalog("br_expire")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    // main rewrites everything twice, so v1's files are main-dead
    ss.sql(s"INSERT OVERWRITE $t VALUES (100,'m',0.0)") // v2
    ss.sql(s"INSERT OVERWRITE $t VALUES (200,'n',0.0)") // v3
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    // the branch forked at v1 must still read the original snapshot
    assert(ids(ss, s"$t.branch_wap") == Seq(1L, 2L, 3L, 4L))
    assert(ids(ss, t) == Seq(200L))
  }

  test("VERSION AS OF 'branch' reads the branch head (Iceberg's branch-read idiom)") {
    val (ss, c) = freshCatalog("br_vasof")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"INSERT INTO $t.branch_wap VALUES (9,'z',9.0)")
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 'wap'").head().getLong(0) == 5)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4)
    val e = intercept[Exception](
      ss.sql(s"SELECT * FROM $t VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("neither a version number, a branch, nor a tag"))
  }

  test("a branch view refuses streaming reads and unknown branches refuse loudly") {
    val (ss, c) = freshCatalog("br_stream")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    val e = intercept[Exception] {
      val q = ss.readStream.table(s"$t.branch_wap").writeStream
        .format("noop").option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(Artifacts.root, "br-ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("WAP branch view") ||
      Option(e.getCause).exists(_.getMessage.contains("WAP branch view")))
    val miss = intercept[Exception](ss.sql(s"SELECT * FROM $t.branch_nope").collect())
    assert(miss.getMessage.toLowerCase.contains("not found") ||
      miss.getMessage.contains("branch_nope"))
  }
}
