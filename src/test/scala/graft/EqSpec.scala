package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Manifests, SkipRecorder}
import graft.TestSpark.freshCatalog

/** EQUALITY DELETES (catalog/Eq.scala, VERDICT r15 #2): keyed upsert as
  * insert files + one key-valued tombstone blob — zero fact-file reads
  * on the write path; readers mask by key under the strictly-older
  * sequence rule; `CALL system.compact` materializes tombstones away.
  * Everything that cannot see them refuses loudly. */
class EqSpec extends AnyFunSuite {
  test("upsert replaces older rows by key, zero scans of the target during the write") {
    val (ss, c) = freshCatalog("eq_basic")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100)")
    import ss.implicits._
    // batch: update ids 0..19 (v = id * 100), insert ids 100..109
    ((0L until 20L) ++ (100L until 110L)).map(i => (i, i * 100)).toDF("id", "v")
      .createOrReplaceTempView("eq_batch")
    SkipRecorder.clear(t)
    SkipRecorder.clear(s"$t#mor")
    SkipRecorder.clear(s"$t#cow")
    val r = ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', " +
      "source => 'eq_batch', key => 'id')").head()
    assert(r.getLong(1) == 30 && r.getLong(2) == 30, r.toString) // rows, keys
    // the write planned NO scan of the target (no pushdown recorded)
    assert(SkipRecorder.lastFor(t).isEmpty &&
      SkipRecorder.lastFor(s"$t#mor").isEmpty && SkipRecorder.lastFor(s"$t#cow").isEmpty)
    // ... and the commit removed no files (pure append + tombstone)
    val latest = Manifests.latestVersion(ss, t)
    assert(Manifests.commitFileDiff(ss, t, latest)._2 == 0)
    assert(Manifests.opOf(ss, t, latest) == "equpsert")
    // content: 0..19 replaced, 20..99 untouched, 100..109 new
    val got = ss.sql(s"SELECT count(*), sum(v) FROM $t").head()
    val expect = (0L until 20L).map(_ * 100).sum + (20L until 100L).sum +
      (100L until 110L).map(_ * 100).sum
    assert(got.getLong(0) == 110 && got.getLong(1) == expect)
    // the key column is read for masking even when the query prunes it off
    assert(ss.sql(s"SELECT sum(v) FROM $t WHERE v >= 0").head().getLong(0) == expect)
    // plan serves affected files through the eq-masked route
    assert(ss.sql(s"SELECT v FROM $t").queryExecution.executedPlan.toString
      .contains("eq-masked scan"))
  }

  test("sequence rule: a re-inserted key survives later tombstones of OTHER keys; time travel") {
    val (ss, c) = freshCatalog("eq_seq")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")
    val v1 = Manifests.latestVersion(ss, t)
    import ss.implicits._
    Seq((3L, 300L)).toDF("id", "v").createOrReplaceTempView("b1")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'b1', key => 'id')")
    Seq((5L, 500L)).toDF("id", "v").createOrReplaceTempView("b2")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'b2', key => 'id')")
    // b1's re-inserted id=3 is NOT masked by b2's tombstone (seq rule);
    // the original id=3 and id=5 rows are
    val rows = ss.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(rows(3L) == 300L && rows(5L) == 500L && rows.size == 10)
    // ordinary appends AFTER an upsert stamp their sequence: new rows of
    // a tombstoned key survive
    ss.sql(s"INSERT INTO $t VALUES (3, 333)")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id = 3").head().getLong(0) == 2)
    // time travel to the pre-upsert version: original content
    assert(ss.sql(s"SELECT sum(v) FROM $t VERSION AS OF $v1").head().getLong(0) ==
      (0L until 10L).sum)
  }

  test("compact materializes tombstones away and restores the fast paths") {
    val (ss, c) = freshCatalog("eq_compact")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 200)")
    import ss.implicits._
    (0L until 50L).map(i => (i, i + 1000)).toDF("id", "v")
      .createOrReplaceTempView("eqc_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqc_b', key => 'id')")
    // while tombstones are live: no aggregate fold, no limit prune
    val p = ss.sql(s"SELECT count(*) FROM $t").queryExecution.executedPlan.toString
    assert(!p.contains("LocalTableScan"), p)
    val expect = (0L until 50L).map(_ + 1000).sum + (50L until 200L).sum
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == expect)
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2)")
    val latest = Manifests.latestVersion(ss, t)
    assert(Manifests.eqInfo(ss, t, latest).isEmpty)
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == expect)
    // folds return once the tombstones are materialized
    assert(ss.sql(s"SELECT count(*) FROM $t").queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 200)
  }

  test("coexistence: deletion vectors + equality tombstones mask together") {
    val (ss, c) = freshCatalog("eq_dv")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100)")
    ss.sql(s"DELETE FROM $t WHERE id >= 90") // deletion vectors
    import ss.implicits._
    (0L until 10L).map(i => (i, i + 5000)).toDF("id", "v")
      .createOrReplaceTempView("eqdv_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqdv_b', key => 'id')")
    val expect = (0L until 10L).map(_ + 5000).sum + (10L until 90L).sum
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq == Seq(90L, expect))
    // compact clears BOTH flavors
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2)")
    val latest = Manifests.latestVersion(ss, t)
    assert(Manifests.eqInfo(ss, t, latest).isEmpty &&
      Manifests.dvInfo(ss, t, latest).isEmpty)
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq == Seq(90L, expect))
  }

  test("string keys work end-to-end") {
    val (ss, c) = freshCatalog("eq_str")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (k STRING, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT concat('k', CAST(id AS STRING)), id FROM range(0, 50)")
    import ss.implicits._
    Seq(("k7", 700L), ("k8", 800L), ("new", 1L)).toDF("k", "v")
      .createOrReplaceTempView("eqs_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqs_b', key => 'k')")
    val got = ss.sql(s"SELECT count(*), sum(v) FROM $t").head()
    val expect = (0L until 50L).sum - 7 - 8 + 700 + 800 + 1
    assert(got.getLong(0) == 51 && got.getLong(1) == expect)
  }

  test("guards: verbs/streams/CDF/selective-compact refuse; bad batches refuse") {
    val (ss, c) = freshCatalog("eq_guard")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 30)")
    import ss.implicits._
    // null and duplicate keys refuse BEFORE any commit
    Seq((Some(1L), 1L), (None, 2L)).toDF("id", "v").createOrReplaceTempView("eqg_null")
    val eNull = intercept[Exception](ss.sql(
      s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqg_null', key => 'id')"))
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    Seq((1L, 1L), (1L, 2L)).toDF("id", "v").createOrReplaceTempView("eqg_dup")
    val eDup = intercept[Exception](ss.sql(
      s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqg_dup', key => 'id')"))
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
    assert(Manifests.opOf(ss, t, Manifests.latestVersion(ss, t)) == "append")
    // a real upsert, then the refusal surface
    Seq((1L, 100L)).toDF("id", "v").createOrReplaceTempView("eqg_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqg_b', key => 'id')")
    val eDel = intercept[Exception](ss.sql(s"DELETE FROM $t WHERE id = 2"))
    assert(eDel.getMessage.contains("equality"), eDel.getMessage)
    val eUpd = intercept[Exception](ss.sql(s"UPDATE $t SET v = 0 WHERE id = 2"))
    assert(eUpd.getMessage.contains("equality"), eUpd.getMessage)
    val eStream = intercept[Exception](
      ss.readStream.table(t).writeStream
        .format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(Artifacts.root, "eqg-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination())
    assert(eStream.getMessage != null, "streaming read must refuse")
    val eSel = intercept[Exception](ss.sql(
      s"CALL $c.system.compact(table => 'ns.t', target_files => 2, min_tombstone_ratio => 0.1)"))
    assert(eSel.getMessage.contains("equality"), eSel.getMessage)
    val eKey = intercept[Exception](ss.sql(
      s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqg_b', key => 'v')"))
    assert(eKey.getMessage.contains("keyed by"), eKey.getMessage)
    // renaming or dropping the LIVE tombstone key would brick reads
    // (EqRef resolves it by name) — refused until a compact
    val eRen = intercept[Exception](ss.sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id"))
    assert(eRen.getMessage.contains("key column of live"), eRen.getMessage)
    val eDrp = intercept[Exception](ss.sql(s"ALTER TABLE $t DROP COLUMN id"))
    assert(eDrp.getMessage.contains("key column of live"), eDrp.getMessage)
    // content still exact after all the refusals
    val expect = (0L until 30L).sum - 1 + 100
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == expect)
    // ... and after a compact the rename is legal again
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    assert(ss.sql(s"SELECT sum(v) FROM $t WHERE doc_id >= 0").head().getLong(0) == expect)
  }

  test("a mid-stream upsert fails the append tail instead of splitting the key's images") {
    val (ss, c) = freshCatalog("eq_stream")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 20)")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "eqstream-out")
    val ckpt = java.nio.file.Files.createTempDirectory(Artifacts.root, "eqstream-ckpt")
    def drain(): Unit = {
      val q = ss.readStream.table(t).writeStream
        .format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // opening snapshot — no tombstones yet, legal
    import ss.implicits._
    Seq((1L, 100L)).toDF("id", "v").createOrReplaceTempView("eqs_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqs_b', key => 'id')")
    // the tail would emit ONLY the insert file and never retract the
    // stale image of id=1 — the source must refuse the commit
    val e = intercept[Exception](drain())
    assert(e.getMessage != null &&
      (e.getMessage.contains("equality") || Option(e.getCause).exists(
        _.getMessage.contains("equality"))), s"got: ${e.getMessage}")
  }

  test("tombstone blobs are referenced files: retention pins them, expiry reclaims them") {
    val (ss, c) = freshCatalog("eq_gc")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 60)")
    import ss.implicits._
    Seq((1L, 100L)).toDF("id", "v").createOrReplaceTempView("eqgc_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.t', source => 'eqgc_b', key => 'id')")
    val dir = Manifests.tableDir(ss, t)
    val latest = Manifests.latestVersion(ss, t)
    val blob = Manifests.eqInfo(ss, t, latest).head._1
    assert(java.nio.file.Files.exists(dir.resolve(blob)))
    val expect = (0L until 60L).sum - 1 + 100
    // retention + orphan sweep while the tombstone is LIVE: pinned
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    ss.sql(s"CALL $c.system.remove_orphans(table => 'ns.t', older_than_minutes => 0)")
    assert(java.nio.file.Files.exists(dir.resolve(blob)),
      "a live tombstone blob must survive retention + orphan sweeps")
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == expect)
    // compact materializes it away; once the pre-compact manifests
    // expire, the dead blob is reclaimed from disk
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)")
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    assert(!java.nio.file.Files.exists(dir.resolve(blob)),
      "an expired generation's tombstone blob must be reclaimed")
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == expect)
  }

  test("bucketed tables upsert bucket-pure; compact restores the shuffle-free join") {
    val (ss, c) = freshCatalog("eq_bkt")
    val t = s"$c.ns.b"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"CREATE TABLE $c.ns.dim (id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 200)")
    ss.sql(s"INSERT INTO $c.ns.dim SELECT id, id * 10 FROM range(0, 200)")
    import ss.implicits._
    (0L until 40L).map(i => (i, i + 7000)).toDF("id", "v")
      .createOrReplaceTempView("eqb_b")
    ss.sql(s"CALL $c.system.eq_upsert(table => 'ns.b', source => 'eqb_b', key => 'id')")
    // the upsert's insert files are bucket-pure with recorded ids
    import graft.catalog.GraftBucket
    val latest = Manifests.latestVersion(ss, t)
    val buckets = Manifests.bucketIds(ss, t, latest)
    assert(buckets.nonEmpty && buckets.values.forall(_.isDefined),
      s"eq-upsert files must record bucket ids: $buckets")
    val byFile = ss.sql(s"SELECT id FROM $t").collect().map(_.getLong(0))
      .groupBy(GraftBucket.bucketOfLong(_, 4))
    assert(byFile.keys.size > 1) // sanity: multiple buckets in play
    // content exact while tombstones are live
    val expect = (0L until 40L).map(_ + 7000).sum + (40L until 200L).sum
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq == Seq(200L, expect))
    // compact materializes; the co-bucketed join is Exchange-free again
    ss.sql(s"CALL $c.system.compact(table => 'ns.b', target_files => 4)")
    assert(Manifests.eqInfo(ss, t, Manifests.latestVersion(ss, t)).isEmpty)
    val j = ss.sql(s"SELECT /*+ SHUFFLE_MERGE(b) */ b.id, b.v, d.w " +
      s"FROM $t b JOIN $c.ns.dim d ON b.id = d.id")
    assert("Exchange (hash|range)partitioning".r
      .findAllIn(j.queryExecution.executedPlan.toString).isEmpty,
      "post-compact join must be the shuffle-free SPJ")
    assert(j.count() == 200)
    val sumJoined = j.selectExpr("sum(v)").head().getLong(0)
    assert(sumJoined == expect)
  }
}
