package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.ChangeFeed
import graft.TestSpark.freshCatalog

/** Change-data-feed reconstruction from the COW manifests: per-commit
  * classification (insert / delete / update pre+post), no-op silence,
  * compaction invisibility, the no-key multiset path, the expired-parent
  * refusal, and the REPLAY invariant — applying the feed to the starting
  * snapshot reproduces the ending snapshot, which is the property that
  * makes a CDC feed trustworthy for downstream incremental consumers. */
class ChangeFeedSpec extends AnyFunSuite {
  private def seed(ss: SparkSession, t: String): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, x DOUBLE)") // v0
    ss.sql(s"INSERT INTO $t VALUES (1,'a',0.5),(2,'b',1.5),(3,'c',2.5),(4,'d',3.5)") // v1
  }

  private def feed(ss: SparkSession, t: String, from: Int, to: Int,
                   keys: Seq[String] = Seq("id")): DataFrame =
    ChangeFeed.tableChanges(ss, t, from, to, keys)

  private def rows(df: DataFrame): Set[(Long, String, Double, String, Int)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getString(3), r.getInt(4))).toSet

  test("insert commit surfaces every appended row as insert") {
    val (ss, c) = freshCatalog("cdf_ins")
    val t = s"$c.ns.t"
    seed(ss, t)
    assert(rows(feed(ss, t, 1, 1)) == Set(
      (1L, "a", 0.5, "insert", 1), (2L, "b", 1.5, "insert", 1),
      (3L, "c", 2.5, "insert", 1), (4L, "d", 3.5, "insert", 1)))
  }

  test("UPDATE yields pre/post pairs for changed rows; a no-op UPDATE is silent") {
    val (ss, c) = freshCatalog("cdf_upd")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"UPDATE $t SET x = x * 2 WHERE id <= 2") // v2: rows 1,2 change
    ss.sql(s"UPDATE $t SET x = x WHERE id = 3")      // v3: rewrite, zero net change
    assert(rows(feed(ss, t, 2, 3)) == Set(
      (1L, "a", 0.5, "update_preimage", 2), (1L, "a", 1.0, "update_postimage", 2),
      (2L, "b", 1.5, "update_preimage", 2), (2L, "b", 3.0, "update_postimage", 2)))
  }

  test("DELETE yields deletes; MERGE yields update pairs plus inserts") {
    val (ss, c) = freshCatalog("cdf_mrg")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id = 4") // v2
    ss.sql("CREATE OR REPLACE TEMP VIEW cdf_mrg_delta AS " +
      "SELECT * FROM VALUES (2,'B',9.0),(9,'z',0.0) AS s(id, v, x)")
    ss.sql(s"""MERGE INTO $t t USING cdf_mrg_delta s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.v = s.v, t.x = s.x
               WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)""") // v3
    assert(rows(feed(ss, t, 2, 3)) == Set(
      (4L, "d", 3.5, "delete", 2),
      (2L, "b", 1.5, "update_preimage", 3), (2L, "B", 9.0, "update_postimage", 3),
      (9L, "z", 0.0, "insert", 3)))
  }

  test("compaction commits contribute nothing (dataChange=false)") {
    val (ss, c) = freshCatalog("cdf_cmp")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"INSERT INTO $t VALUES (5,'e',4.5)") // v2
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)") // v3, layout only
    val f = feed(ss, t, 1, 3)
    assert(f.where("_commit_version = 3").count() == 0)
    assert(f.count() == 5) // 4 inserts at v1 + 1 at v2
  }

  test("no-key path reports the multiset delta as insert/delete") {
    val (ss, c) = freshCatalog("cdf_nok")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"UPDATE $t SET v = 'Z' WHERE id = 1") // v2
    val f = feed(ss, t, 2, 2, keys = Nil)
    assert(rows(f) == Set(
      (1L, "a", 0.5, "delete", 2), (1L, "Z", 0.5, "insert", 2)))
  }

  test("expired parent version refuses loudly instead of mis-reporting") {
    val (ss, c) = freshCatalog("cdf_exp")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"INSERT INTO $t VALUES (5,'e',4.5)") // v2
    ss.sql(s"INSERT INTO $t VALUES (6,'f',5.5)") // v3
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 2)")
    val e = intercept[IllegalArgumentException](feed(ss, t, 2, 3).collect())
    assert(e.getMessage.contains("expired"))
    // the feed over surviving parents still works
    assert(feed(ss, t, 3, 3).count() == 1)
  }

  test("branch suffix: the feed over a live branch is the pre-publish audit") {
    val (ss, c) = freshCatalog("cdf_br")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"UPDATE $t.branch_wap SET v = 'A' WHERE id = 1") // branch v2
    ss.sql(s"INSERT INTO $t.branch_wap VALUES (9,'z',9.0)")  // branch v3
    assert(rows(feed(ss, s"$t.branch_wap", 2, 3)) == Set(
      (1L, "a", 0.5, "update_preimage", 2), (1L, "A", 0.5, "update_postimage", 2),
      (9L, "z", 9.0, "insert", 3)))
    // main's feed is untouched by the staging
    assert(feed(ss, t, 1, 1).count() == 4)
  }

  test("replay invariant: snapshot(from-1) + feed == snapshot(to)") {
    val (ss, c) = freshCatalog("cdf_rpl")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"UPDATE $t SET x = x + 10 WHERE id % 2 = 0")
    ss.sql(s"DELETE FROM $t WHERE id = 3")
    ss.sql("CREATE OR REPLACE TEMP VIEW cdf_rpl_delta AS " +
      "SELECT * FROM VALUES (1,'A',7.0),(8,'h',8.0) AS s(id, v, x)")
    ss.sql(s"""MERGE INTO $t t USING cdf_rpl_delta s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.v = s.v, t.x = s.x
               WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)""")
    val f = feed(ss, t, 1, 4).cache()
    try {
      val dataCols = Seq("id", "v", "x").map(org.apache.spark.sql.functions.col)
      val removedByFeed = f.where("_change_type IN ('delete','update_preimage')")
        .select(dataCols: _*)
      val addedByFeed = f.where("_change_type IN ('insert','update_postimage')")
        .select(dataCols: _*)
      // start = snapshot before `from` = empty (v0); replayed end state:
      val replayed = addedByFeed.exceptAll(removedByFeed)
      val end = ss.sql(s"SELECT id, v, x FROM $t VERSION AS OF 4")
      assert(replayed.exceptAll(end).isEmpty && end.exceptAll(replayed).isEmpty)
    } finally f.unpersist()
  }

  // ---- the feed as a STREAM (.changes suffix, round 13) ----

  private def drainChanges(ss: SparkSession, t: String, out: String,
                           options: Map[String, String] = Map.empty): Unit = {
    var r = ss.readStream.option("key_cols", "id")
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.table(s"$t.changes")
      .writeStream
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
  }

  test("streamed feed equals the batch feed across a COW rewrite; compaction invisible") {
    val (ss, c) = freshCatalog("cdf_stream")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"UPDATE $t SET x = x + 10 WHERE id <= 2") // v2: COW rewrite
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)") // v3: layout only
    ss.sql(s"DELETE FROM $t WHERE id = 4") // v4
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-cdfspec-stream-").toString
    drainChanges(ss, t, out, Map("starting_version" -> "0",
      "max_versions_per_trigger" -> "1"))
    val streamed = ss.read.parquet(s"$out/result")
    val batch = feed(ss, t, 1, 4)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed feed differs from the batch feed")
    // the compaction commit contributed zero rows
    assert(streamed.where("_commit_version = 3").count() == 0)
  }

  test("a resumed changes stream emits only commits after its checkpointed offset") {
    val (ss, c) = freshCatalog("cdf_resume")
    val t = s"$c.ns.t"
    seed(ss, t)
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-cdfspec-resume-").toString
    drainChanges(ss, t, out, Map("starting_version" -> "0"))
    val first = ss.read.parquet(s"$out/result").count()
    assert(first == 4) // v1's four inserts
    ss.sql(s"UPDATE $t SET x = 0 WHERE id = 1") // v2 after the checkpoint
    drainChanges(ss, t, out)
    val all = ss.read.parquet(s"$out/result")
    assert(all.count() == 6, "resume re-emitted or dropped commits") // +pre/post pair
    assert(rows(all.where("_commit_version = 2")) ==
      Set((1L, "a", 0.5, "update_preimage", 2), (1L, "a", 0.0, "update_postimage", 2)))
    // default starting point for a FRESH stream is the current latest:
    // nothing to emit until the next commit
    val out2 = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-cdfspec-fresh-").toString
    drainChanges(ss, t, out2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out2/result")) ||
      ss.read.parquet(s"$out2/result").isEmpty)
  }
}
