package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{ChangeFeed, Manifests}

/** MERGE-ON-READ deletion vectors (`TBLPROPERTIES
  * ('write.row_level.mode'='merge-on-read')`): row-level verbs commit
  * per-row deltas — tombstone blobs + appended inserts — instead of
  * rewriting files. The contracts pinned here, in the order a production
  * table hits them: delta commits move NO data files; reads mask; a
  * tombstoned row stays dead through every later path (COW rewrite,
  * compaction, CDF, streaming opening snapshot); no-op verbs commit
  * nothing; maintenance reclaims blobs exactly like data files; and the
  * MOR/COW twin tables converge to identical content under an identical
  * verb sequence — the equivalence that makes the mode a pure
  * performance knob, never a semantics one. */
class MorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def seedMor(ss: SparkSession, t: String, rows: Int = 3000): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    (0 until 3).foreach { k =>
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(2) */ id, id * 10 AS v " +
        s"FROM range(${k * rows / 3}, ${(k + 1) * rows / 3})")
    }
  }

  test("MOR DELETE is a pure delta: zero data files move, reads mask, time travel intact") {
    val (ss, c) = freshCatalog("mor_del")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id = 1500")
    val (prev, removed, added, inherited) = Manifests.commitFileDiff(ss, t, 4)
    assert(removed == 0 && added == 0 && inherited == prev,
      s"MOR DELETE moved files: removed=$removed added=$added")
    val dvs = Manifests.dvInfo(ss, t, 4)
    assert(dvs.size == 1 && dvs.head._2._2 == 1L, s"expected one 1-row vector, got $dvs")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2999)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id = 1500").head().getLong(0) == 0)
    // pre-delta version still reads the full file (its manifest has no vector)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 3").head().getLong(0) == 3000)
    assert(Manifests.dvInfo(ss, t, 3).isEmpty)
  }

  test("repeat deletes merge blobs; a no-op verb commits NOTHING") {
    val (ss, c) = freshCatalog("mor_merge_blob")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id = 10")
    ss.sql(s"DELETE FROM $t WHERE id = 11") // likely the same file: union blob
    val v = Manifests.latestVersion(ss, t)
    val totalTombstones = Manifests.dvInfo(ss, t, v).values.map(_._2).sum
    assert(totalTombstones == 2L)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id IN (10, 11)").head().getLong(0) == 0)
    // deleting an already-deleted row produces zero deltas -> no commit
    ss.sql(s"DELETE FROM $t WHERE id = 10")
    assert(Manifests.latestVersion(ss, t) == v,
      "a no-op MOR DELETE must not mint a version")
  }

  test("MOR and COW twins converge to identical content under the same verb sequence") {
    val (ss, c) = freshCatalog("mor_twin")
    val mor = s"$c.ns.m"
    val cow = s"$c.ns.c"
    seedMor(ss, mor)
    ss.sql(s"CREATE TABLE $cow (id BIGINT, v BIGINT)")
    (0 until 3).foreach { k =>
      ss.sql(s"INSERT INTO $cow SELECT /*+ REPARTITION(2) */ id, id * 10 AS v " +
        s"FROM range(${k * 1000}, ${(k + 1) * 1000})")
    }
    ss.sql("CREATE OR REPLACE TEMP VIEW mor_twin_src AS " +
      "SELECT id, id * 100 AS v FROM range(2990, 3010)")
    Seq(mor, cow).foreach { t =>
      ss.sql(s"DELETE FROM $t WHERE id % 97 = 0")
      ss.sql(s"UPDATE $t SET v = v + 7 WHERE id >= 500 AND id < 600")
      ss.sql(s"MERGE INTO $t USING mor_twin_src s ON $t.id = s.id " +
        "WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET v = s.v " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    }
    val morRows = ss.sql(s"SELECT id, v FROM $mor ORDER BY id").collect().toSeq
    val cowRows = ss.sql(s"SELECT id, v FROM $cow ORDER BY id").collect().toSeq
    assert(morRows == cowRows, "MOR and COW twins diverged")
    // and the MOR side never removed a file while doing it
    val removedTotals = (4 to Manifests.latestVersion(ss, mor))
      .map(v => Manifests.commitFileDiff(ss, mor, v)._2).sum
    assert(removedTotals == 0, "MOR verbs must not remove data files")
  }

  test("MERGE NOT MATCHED BY SOURCE deletes as deltas too") {
    val (ss, c) = freshCatalog("mor_nmbs")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    ss.sql("CREATE OR REPLACE TEMP VIEW mor_nmbs_src AS SELECT id FROM range(0, 200)")
    ss.sql(s"MERGE INTO $t USING mor_nmbs_src s ON $t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.commitFileDiff(ss, t, v)._2 == 0)
    assert(ss.sql(s"SELECT count(*), max(id) FROM $t").head().toSeq == Seq(200L, 199L))
  }

  test("scans stay VECTORIZED with deletion vectors in scope (masked columnar remap)") {
    val (ss, c) = freshCatalog("mor_vec")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id % 100 = 7")
    // deletion vectors exist...
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.dvInfo(ss, t, v).nonEmpty, "expected live deletion vectors")
    // ...and the analytical scan still reads columnar: ColumnarToRow above
    // the BatchScan means every partition (vectored files included) kept
    // the vectorized parquet reader — the r13 read-side tax is gone
    val q = ss.sql(s"SELECT sum(v) AS s, count(*) AS n FROM $t")
    // collect() (not head(), which plans a separate LIMIT query) executes
    // THIS queryExecution, so the adaptive plan below is the final one
    val row = q.collect()(0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"DV'd scan fell off the vectorized path:\n${plan.take(2500)}")
    val expect = (0L until 3000L).filterNot(_ % 100 == 7)
    assert(row.getLong(1) == expect.size && row.getLong(0) == expect.map(_ * 10).sum)
    // _pos/_file stay exact through the columnar path too
    val probe = ss.sql(s"SELECT _file, _pos, id FROM $t WHERE id IN (6, 8, 107)")
      .collect().map(_.getLong(2)).sorted
    assert(probe.toSeq == Seq(6L, 8L))
  }

  test("a COW rewrite of a vectored file materializes, never resurrects") {
    val (ss, c) = freshCatalog("mor_resurrect")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id = 100")
    // switch the table to copy-on-write and rewrite everything
    ss.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.row_level.mode'='copy-on-write')")
    ss.sql(s"UPDATE $t SET v = v + 1")
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.dvInfo(ss, t, v).isEmpty, "rewrite must drop the vector entries")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id = 100").head().getLong(0) == 0,
      "COW rewrite resurrected a tombstoned row")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2999)
  }

  test("min_tombstone_ratio compacts ONLY rotted files; light vectors inherit") {
    val (ss, c) = freshCatalog("mor_ratio")
    val t = s"$c.ns.t"
    seedMor(ss, t) // ids 0..2999 in 6 files (3 appends x 2 partitions)
    // rot one slice heavily (first third: >= 30% tombstoned) and another
    // lightly (last third: ~1%)
    ss.sql(s"DELETE FROM $t WHERE id < 1000 AND id % 3 > 0")
    ss.sql(s"DELETE FROM $t WHERE id >= 2000 AND id % 97 = 0")
    val v0 = Manifests.latestVersion(ss, t)
    val dv0 = Manifests.dvInfo(ss, t, v0)
    val files0 = Manifests.files(ss, t, v0)
    val heavy = files0.filter(f => dv0.get(f).exists(_._2 > 100)).toSet
    val light = files0.filter(f => dv0.get(f).exists(d => d._2 > 0 && d._2 <= 100)).toSet
    assert(heavy.nonEmpty && light.nonEmpty, s"fixture rot split failed: $dv0")
    val before = ss.sql(s"SELECT id, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val posBefore = ss.sql(s"SELECT _file, _pos, id FROM $t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2, " +
      "min_tombstone_ratio => 0.2)").head()
    val v1 = Manifests.latestVersion(ss, t)
    val files1 = Manifests.files(ss, t, v1)
    val dv1 = Manifests.dvInfo(ss, t, v1)
    // exactly the over-threshold files left the manifest; the rest
    // inherited WITH their vectors
    assert((files0.toSet -- files1).toSet == heavy,
      s"replaced ${files0.toSet -- files1}, wanted $heavy")
    assert(light.subsetOf(files1.toSet))
    assert(dv1.keySet == light, s"inherited vectors should be exactly $light, got ${dv1.keySet}")
    // content identical; inherited files' _pos addresses unmoved
    val after = ss.sql(s"SELECT id, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.toSeq == before.toSeq)
    val posAfter = ss.sql(s"SELECT _file, _pos, id FROM $t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val inheritedBefore = posBefore.filter(p => files1.contains(p._1))
    assert(inheritedBefore.subsetOf(posAfter),
      "inherited files' row addresses must be untouched by a selective compact")
    // a second pass under the same threshold is a no-op (nothing rotted)
    val r2 = ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2, " +
      "min_tombstone_ratio => 0.2)").head()
    assert(r2.getInt(0) == r2.getInt(1) && Manifests.latestVersion(ss, t) == v1)
  }

  test("compaction materializes vectors: fresh files, no entries, live rows only") {
    val (ss, c) = freshCatalog("mor_compact")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    ss.sql(s"DELETE FROM $t WHERE id < 50")
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2)")
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.dvInfo(ss, t, v).isEmpty)
    assert(Manifests.files(ss, t, v).size <= 2)
    assert(ss.sql(s"SELECT count(*), min(id) FROM $t").head().toSeq == Seq(2950L, 50L))
  }

  test("_pos is the stable physical address: a tombstoned position disappears, others hold") {
    val (ss, c) = freshCatalog("mor_pos")
    val t = s"$c.ns.t"
    seedMor(ss, t)
    val target = ss.sql(s"SELECT _file, _pos FROM $t WHERE id = 1500").head()
    val (f, p) = (target.getString(0), target.getLong(1))
    ss.sql(s"DELETE FROM $t WHERE id = 1500")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE _file = '$f' AND _pos = $p")
      .head().getLong(0) == 0)
    // every other row of that file keeps the address it had pre-delete
    val before = ss.sql(
      s"SELECT id, _pos FROM $t VERSION AS OF 3 WHERE _file = '$f' AND id <> 1500")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = ss.sql(s"SELECT id, _pos FROM $t WHERE _file = '$f'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "surviving rows changed physical address")
  }

  test("the version-tail stream refuses rowdelta commits but masks the opening snapshot") {
    val (ss, c) = freshCatalog("mor_stream")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    ss.sql(s"DELETE FROM $t WHERE id < 30")
    // a stream born AFTER the delta opens with the masked snapshot
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "mor_stream_out")
    val q = ss.readStream.table(t).writeStream
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = ss.read.parquet(s"$out/data").count()
    assert(got == 270, s"opening snapshot must mask tombstones; got $got")
    // a stream holding an offset BEFORE a rowdelta commit fails loudly
    val out2 = java.nio.file.Files.createTempDirectory(Artifacts.root, "mor_stream_fail")
    val q2 = ss.readStream.table(t).writeStream
      .format("parquet").option("path", s"$out2/data")
      .option("checkpointLocation", s"$out2/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    ss.sql(s"DELETE FROM $t WHERE id = 40")
    val q3 = ss.readStream.table(t).writeStream
      .format("parquet").option("path", s"$out2/data")
      .option("checkpointLocation", s"$out2/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.awaitTermination(120000); q3.processAllAvailable()
    }
    assert(failed.getMessage.contains("deletion vectors") ||
      Option(failed.getCause).exists(_.getMessage.contains("deletion vectors")))
  }

  test("CDF reconstructs rowdelta commits: deletes at grown positions, update pairs by key") {
    val (ss, c) = freshCatalog("mor_cdf")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    ss.sql(s"DELETE FROM $t WHERE id = 7")                       // v4: 1 delete
    ss.sql(s"UPDATE $t SET v = 0 WHERE id >= 20 AND id < 25")    // v5: 5 update pairs
    val feed = ChangeFeed.tableChanges(ss, t, 4, 5, keyCols = Seq("id"))
      .groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(feed == Map(
      (4, "delete") -> 1L,
      (5, "update_preimage") -> 5L, (5, "update_postimage") -> 5L), s"got $feed")
    // the deleted row's content is the pre-image
    val del = ChangeFeed.tableChanges(ss, t, 4, 4).head()
    assert(del.getLong(0) == 7L && del.getLong(1) == 70L)
  }

  test("expire_versions and remove_orphans reclaim vector blobs like data files") {
    val (ss, c) = freshCatalog("mor_reclaim")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    val fileOf5 = ss.sql(s"SELECT _file FROM $t WHERE id = 5").head().getString(0)
    ss.sql(s"DELETE FROM $t WHERE id = 5")   // v4: blob A
    // the second delete must hit id 5's own file, so that B replaces A;
    // the round-robin seed can put any other id in a different file
    val sameFileId = ss.sql(s"SELECT min(id) FROM $t WHERE _file = '$fileOf5'").head().getLong(0)
    ss.sql(s"DELETE FROM $t WHERE id = $sameFileId")   // v5: blob B (superset), A now only in v4
    val dir = Manifests.tableDir(ss, t)
    val blobA = dir.resolve(Manifests.dvInfo(ss, t, 4).head._2._1)
    val blobB = dir.resolve(Manifests.dvInfo(ss, t, 5).values
      .map(_._1).toSeq.sorted.head)
    assert(java.nio.file.Files.exists(blobA) && java.nio.file.Files.exists(blobB))
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    assert(!java.nio.file.Files.exists(blobA), "expired version's blob must be reclaimed")
    assert(java.nio.file.Files.exists(blobB), "live blob must survive expire")
    // an unreferenced stray blob is an orphan; the live one is not
    val stray = dir.resolve("data/dv-stray.dv")
    graft.catalog.Dv.write(new org.apache.hadoop.fs.Path(stray.toUri),
      Array(1L, 2L), ss.sessionState.newHadoopConf())
    java.nio.file.Files.setLastModifiedTime(stray,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 86400000L))
    ss.sql(s"CALL $c.system.remove_orphans(table => 'ns.t', older_than_minutes => 60)")
    assert(!java.nio.file.Files.exists(stray) && java.nio.file.Files.exists(blobB))
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 298)
  }

  test("the .changes STREAM serves rowdelta commits batch-for-batch equal to the batch feed") {
    val (ss, c) = freshCatalog("mor_cdf_stream")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    ss.sql(s"DELETE FROM $t WHERE id = 7")
    ss.sql(s"UPDATE $t SET v = 1 WHERE id >= 20 AND id < 25")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "mor_cdf_stream")
    val q = ss.readStream
      .option("starting_version", "0")
      .option("key_cols", "id")
      .option("max_versions_per_trigger", "1")
      .table(s"$t.changes")
      .writeStream
      .option("checkpointLocation", s"$out/chk")
      .option("path", s"$out/data")
      .format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = ss.read.parquet(s"$out/data")
      .groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = ChangeFeed.tableChanges(ss, t, 1, 5, keyCols = Seq("id"))
      .groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed((4, "delete")) == 1L && streamed((5, "update_preimage")) == 5L)
  }

  test("MOR verbs work on a WAP branch; publish carries the tombstones to main") {
    val (ss, c) = freshCatalog("mor_wap")
    val t = s"$c.ns.t"
    seedMor(ss, t, rows = 300)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'audit')")
    ss.sql(s"DELETE FROM $t.branch_audit WHERE id < 30")
    // the delta landed on the branch chain only, as a delta
    assert(ss.sql(s"SELECT count(*) FROM $t.branch_audit").head().getLong(0) == 270)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 300)
    val bv = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'").head().getLong(0)
    assert(bv == 270)
    ss.sql(s"CALL $c.system.publish_branch(table => 'ns.t', branch => 'audit')")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 270)
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.dvInfo(ss, t, v).values.map(_._2).sum == 30L)
    assert(Manifests.commitFileDiff(ss, t, v)._2 == 0, "branch MOR delta must not move files")
  }

  test("TBLPROPERTIES are validated, persisted, and surfaced; shadowed addr columns refuse MOR") {
    val (ss, c) = freshCatalog("mor_props")
    intercept[Exception] {
      ss.sql(s"CREATE TABLE $c.ns.bad (id BIGINT) " +
        "TBLPROPERTIES ('write.row_level.mode'='sideways')")
    }
    ss.sql(s"CREATE TABLE $c.ns.p (id BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read', 'owner.team'='graft')")
    val props = ss.sql(s"SHOW TBLPROPERTIES $c.ns.p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.row_level.mode").contains("merge-on-read"))
    assert(props.get("owner.team").contains("graft"))
    intercept[Exception] {
      ss.sql(s"ALTER TABLE $c.ns.p SET TBLPROPERTIES ('write.row_level.mode'='nope')")
    }
    // a schema owning `_pos` shadows the row-id metadata column: the verbs
    // silently stay on the always-correct COW path
    ss.sql(s"CREATE TABLE $c.ns.sh (id BIGINT, _pos BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $c.ns.sh SELECT id, id FROM range(0, 100)")
    ss.sql(s"DELETE FROM $c.ns.sh WHERE id = 5")
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.sh").head().getLong(0) == 99)
    assert(Manifests.dvInfo(ss, s"$c.ns.sh",
      Manifests.latestVersion(ss, s"$c.ns.sh")).isEmpty)
  }
}
