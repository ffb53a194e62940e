package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.freshCatalog

/** The snapshot-versioned DSv2 catalog: SQL verbs, copy-on-write
  * semantics, time-travel immutability, commit atomicity/conflicts, and
  * the two plan-shape contracts (pushdown on plain reads; NO row-level
  * filter pushdown, which would silently drop copy-over rows — the bug
  * the smoke run caught). */
class CatalogSpec extends AnyFunSuite {
  private def seed(ss: SparkSession, t: String): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, x DOUBLE)")
    ss.sql(s"INSERT INTO $t VALUES (1,'a',0.5),(2,'b',1.5),(3,'c',2.5),(4,'d',3.5)")
  }

  test("verb chain: UPDATE/DELETE/MERGE preserve untouched rows (COW, not filter-scan)") {
    val (ss, c) = freshCatalog("cat_verbs")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"UPDATE $t SET x = x * 2 WHERE id <= 2")
    // the copy-over rows 3,4 must survive the rewrite
    assert(ss.sql(s"SELECT id, x FROM $t ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 3.0), (3L, 2.5), (4L, 3.5)))
    ss.sql(s"DELETE FROM $t WHERE id = 3")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    ss.sql("CREATE OR REPLACE TEMP VIEW cat_verbs_delta AS " +
      "SELECT * FROM VALUES (2,'B',9.0),(9,'z',0.0) AS s(id, v, x)")
    ss.sql(s"""MERGE INTO $t t USING cat_verbs_delta s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.v = s.v, t.x = s.x
               WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)""")
    assert(ss.sql(s"SELECT id, v FROM $t ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "z")))
  }

  test("time travel: every historical version stays readable and unchanged") {
    val (ss, c) = freshCatalog("cat_tt")
    val t = s"$c.ns.t"
    seed(ss, t) // v1 = 4 rows
    ss.sql(s"INSERT INTO $t VALUES (5,'e',4.5)") // v2 = 5 rows
    ss.sql(s"DELETE FROM $t WHERE id >= 4") // v3 = 3 rows
    ss.sql(s"INSERT OVERWRITE $t VALUES (100,'zz',0.0)") // v4 = 1 row
    assert((1 to 4).map(v =>
      ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $v").head().getLong(0)) ==
      Seq(4L, 5L, 3L, 1L))
    // v1's CONTENT is bit-for-bit the original (files immutable, manifest kept)
    assert(ss.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // TIMESTAMP AS OF now() resolves to the latest version
    assert(ss.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF current_timestamp()")
      .head().getLong(0) == 1)
    // a time-travel view is read-only
    val e = intercept[Exception](
      ss.sql(s"DELETE FROM (SELECT * FROM $t VERSION AS OF 1)"))
    assert(e != null)
  }

  test("plain reads keep parquet pushdown; row-level scans refuse it") {
    val (ss, c) = freshCatalog("cat_plan")
    val t = s"$c.ns.t"
    seed(ss, t)
    val planned = ss.sql(s"SELECT id FROM $t WHERE id > 2")
      .queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,2)]"),
      s"plain read lost parquet filter pushdown:\n$planned")
    assert(planned.contains("ReadSchema: struct<id:bigint>"),
      s"plain read lost column pruning:\n$planned")
    // the row-level (COW) scan must NOT push the verb's condition into
    // the parquet scan: it would drop non-matching rows of the rewritten
    // group. UPDATE's plan scans with no pushed data filters.
    val upd = ss.sql(s"EXPLAIN UPDATE $t SET x = 0 WHERE id = 1")
      .head().getString(0)
    assert(!upd.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1)]")
      && !upd.contains("PushedFilters: [EqualTo(id,1)"),
      s"row-level scan pushed the rewrite condition into parquet:\n$upd")
  }

  test("commit conflict: a racing writer fails instead of clobbering") {
    val (ss, c) = freshCatalog("cat_race")
    val t = s"$c.ns.t"
    seed(ss, t)
    // two appends racing from two threads against one table: both may
    // succeed (serialized by the commit lock) but the version chain must
    // record BOTH commits — no lost update
    val threads = (0 until 2).map { i =>
      new Thread(() => ss.sql(s"INSERT INTO $t VALUES (${100 + i},'r',0.0)"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 6)
    // version chain advanced twice past the seed's v1
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 3").head().getLong(0) == 6)
  }

  test("catalog surface: list, drop, rename, duplicate-create rejection") {
    val (ss, c) = freshCatalog("cat_surface")
    seed(ss, s"$c.ns.a")
    ss.sql(s"CREATE TABLE $c.ns.b (id BIGINT)")
    assert(ss.sql(s"SHOW TABLES IN $c.ns").collect()
      .map(_.getString(1)).toSet == Set("a", "b"))
    intercept[Exception](ss.sql(s"CREATE TABLE $c.ns.a (id BIGINT)"))
    // the RENAME target identifier is resolved within the same catalog
    ss.sql(s"ALTER TABLE $c.ns.b RENAME TO ns.b2")
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.b2").head().getLong(0) == 0)
    ss.sql(s"DROP TABLE $c.ns.b2")
    assert(ss.sql(s"SHOW TABLES IN $c.ns").collect()
      .map(_.getString(1)).toSet == Set("a"))
  }

  test("CALL system.expire_versions reclaims dead files, keeps live versions readable") {
    val (ss, c) = freshCatalog("cat_expire")
    val t = s"$c.ns.t"
    seed(ss, t) // v1
    ss.sql(s"INSERT OVERWRITE $t VALUES (10,'x',0.0)") // v2: v1's files now dead-if-expired
    ss.sql(s"INSERT INTO $t VALUES (11,'y',1.0)") // v3 inherits v2's files
    val before = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0)
    assert(before == 4)
    val res = ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 2)")
      .collect()
    assert(res.length == 1)
    val r = res.head
    // v0 (create) and v1 expired; v2,v3 kept; v1's seed files deleted
    assert(r.getInt(0) == 2, s"expired_versions = ${r.getInt(0)}")
    assert(r.getInt(1) == 2, s"kept_versions = ${r.getInt(1)}")
    assert(r.getInt(2) > 0, s"deleted_files = ${r.getInt(2)}")
    // kept versions unaffected, same version numbers
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 1)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
    // the expired version is gone
    intercept[Exception](ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect())
    // expiring everything but the latest still leaves the table readable
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
  }

  test("ALTER TABLE ADD COLUMN: old files null-fill, new writes carry it, non-additive rejected") {
    val (ss, c) = freshCatalog("cat_evolve")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    // pre-evolution files read the new column as null
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE tag IS NULL").head().getLong(0) == 4)
    ss.sql(s"INSERT INTO $t VALUES (5,'e',4.5,'new')")
    assert(ss.sql(s"SELECT tag FROM $t WHERE id = 5").head().getString(0) == "new")
    // the evolved column is UPDATEable across old rows (COW backfill)
    ss.sql(s"UPDATE $t SET tag = 'back' WHERE id <= 2")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE tag = 'back'").head().getLong(0) == 2)
    // RENAME/DROP are metadata commits since r14 (field ids — RenameSpec
    // owns them); the DESTRUCTIVE change, a type rewrite, stays refused
    intercept[Exception](ss.sql(s"ALTER TABLE $t ALTER COLUMN tag TYPE BIGINT"))
    ss.sql(s"ALTER TABLE $t RENAME COLUMN tag TO label")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE label = 'back'").head().getLong(0) == 2)
  }

  test("manifest data skipping: selective scans touch a strict file subset, losslessly") {
    val (ss, c) = freshCatalog("cat_skip")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    // four range-disjoint commits -> four+ files with disjoint id bounds
    (0 until 4).foreach { i =>
      ss.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val rows = ss.sql(s"SELECT id FROM $t WHERE id BETWEEN 150 AND 249 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == (150L to 249L), "pruned scan lost rows")
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get
    assert(total >= 4, s"expected >=4 files in the manifest, saw $total")
    assert(kept < total, s"no files were skipped (kept=$kept total=$total)")
    assert(kept >= 1, "pruned to zero files yet returned rows?")
    // point lookup prunes harder than the range
    ss.sql(s"SELECT v FROM $t WHERE id = 7").collect()
    val (kept2, total2) = graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get
    assert(kept2 <= kept && total2 == total)
    // a predicate outside every file's bounds prunes EVERYTHING and
    // still answers correctly (empty relation with the right schema)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id > 10000").head().getLong(0) == 0)
    assert(graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get._1 == 0)
    // strings skip too (UTF-8 byte order on both sides)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = 'v42'").head().getLong(0) == 1)
    // IS NULL on an all-non-null column prunes everything
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v IS NULL").head().getLong(0) == 0)
    assert(graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get._1 == 0)
  }

  test("skipping stays conservative: OR reach, IN lists, nulls, unknown shapes") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import graft.catalog.{FileStats, SkipEval}
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val idAttr = AttributeReference("id", LongType)()
    val vAttr = AttributeReference("v", StringType)()
    val st = FileStats(100, Map("id" -> "10", "v" -> "a"),
      Map("id" -> "20", "v" -> "m"), Map("id" -> 0L, "v" -> 5L))
    def lit(l: Long) = Literal(l, LongType)
    assert(!SkipEval.mightMatch(schema, st, EqualTo(idAttr, lit(21))))
    assert(SkipEval.mightMatch(schema, st, EqualTo(idAttr, lit(20))))
    assert(!SkipEval.mightMatch(schema, st, GreaterThan(idAttr, lit(20))))
    assert(SkipEval.mightMatch(schema, st, GreaterThanOrEqual(idAttr, lit(20))))
    assert(!SkipEval.mightMatch(schema, st, LessThan(idAttr, lit(10))))
    // literal-on-the-left flips the comparison, not the answer
    assert(!SkipEval.mightMatch(schema, st, GreaterThan(lit(10), idAttr)))
    assert(SkipEval.mightMatch(schema, st, GreaterThan(lit(11), idAttr)))
    // OR keeps the file if EITHER side might match
    assert(SkipEval.mightMatch(schema, st,
      Or(EqualTo(idAttr, lit(5)), EqualTo(idAttr, lit(15)))))
    assert(!SkipEval.mightMatch(schema, st,
      Or(EqualTo(idAttr, lit(5)), EqualTo(idAttr, lit(25)))))
    // IN = any member in bounds
    assert(SkipEval.mightMatch(schema, st, In(idAttr, Seq(lit(3), lit(12)))))
    assert(!SkipEval.mightMatch(schema, st, In(idAttr, Seq(lit(3), lit(99)))))
    // nulls: the column HAS nulls, so IS NULL must keep; IS NOT NULL too
    assert(SkipEval.mightMatch(schema, st, IsNull(vAttr)))
    assert(SkipEval.mightMatch(schema, st, IsNotNull(vAttr)))
    assert(!SkipEval.mightMatch(schema, st, IsNull(idAttr)))
    // unknown shapes never prune
    assert(SkipEval.mightMatch(schema, st,
      EqualTo(Abs(idAttr), lit(999))))
    // a zero-row file matches nothing
    assert(!SkipEval.mightMatch(schema, FileStats(0, Map.empty, Map.empty, Map.empty),
      IsNotNull(idAttr)))
    // missing stats keep the file
    assert(SkipEval.mightMatch(schema, FileStats(10, Map.empty, Map.empty, Map.empty),
      EqualTo(idAttr, lit(999))))
  }

  test("row-level (COW) scans bypass skipping: the verb's condition must not drop groups") {
    val (ss, c) = freshCatalog("cat_skipcow")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, x DOUBLE)")
    (0 until 3).foreach { i =>
      ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(${i * 10}, ${i * 10 + 10})")
    }
    // the group is the whole table: an UPDATE touching one file's range
    // must still rewrite (and keep) the other files' rows
    ss.sql(s"UPDATE $t SET x = -1.0 WHERE id = 5")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 30)
    assert(ss.sql(s"SELECT x FROM $t WHERE id = 25").head().getDouble(0) == 25.0)
    assert(ss.sql(s"SELECT x FROM $t WHERE id = 5").head().getDouble(0) == -1.0)
  }

  test("CALL system.compact bin-packs the manifest; time travel still reads the old layout") {
    val (ss, c) = freshCatalog("cat_compact")
    val t = s"$c.ns.t"
    (0 until 4).foreach { i =>
      if (i == 0) ss.sql(s"CREATE TABLE $t (id BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT id FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val r = ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)").head()
    assert(r.getInt(0) > 1, s"files_before = ${r.getInt(0)}")
    assert(r.getInt(1) == 1, s"files_after = ${r.getInt(1)}")
    assert(r.getLong(2) == 40L, s"rows = ${r.getLong(2)}")
    // rows and content unchanged at the new head
    assert(ss.sql(s"SELECT count(*), sum(id) FROM $t").head().toSeq == Seq(40L, 780L))
    // pre-compact version still readable (its files were not deleted)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 4").head().getLong(0) == 40)
    // compacting an already-compact table is a no-op (no new version)
    val r2 = ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)").head()
    assert(r2.getInt(0) == 1 && r2.getInt(1) == 1)
    assert(intercept[Exception](
      ss.sql(s"SELECT 1 FROM $t VERSION AS OF 6").collect()) != null)
    // compact + expire is the OPTIMIZE->VACUUM pairing: expiring the
    // pre-compact manifests reclaims the small files
    val e = ss.sql(s"CALL $c.system.expire_versions(table => 'ns.t', keep_last => 1)").head()
    assert(e.getInt(2) >= 4, s"deleted_files = ${e.getInt(2)}")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 40)
  }

  test("compact sort_by: a clustering rewrite turns an unprunable manifest prunable") {
    val (ss, c) = freshCatalog("cat_cluster")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE)")
    // round-robin scattered inserts: every file spans the whole id range
    // -> footer stats can prune nothing
    (0 until 4).foreach { i =>
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(2) */ id, CAST(id AS DOUBLE) " +
        s"FROM range(0, 400) WHERE id % 4 = $i")
    }
    ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 149").collect()
    val (keptPre, totalPre) = graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get
    assert(keptPre == totalPre && totalPre >= 4, s"scattered layout pruned? $keptPre/$totalPre")
    val r = ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 4, " +
      "sort_by => 'id')").head()
    assert(r.getInt(1) <= 4 && r.getLong(2) == 400L)
    val cnt = ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 149").head().getLong(0)
    assert(cnt == 50)
    val (keptPost, totalPost) = graft.catalog.SkipRecorder.lastFor(s"$c.ns.t").get
    assert(keptPost < totalPost, s"clustered layout did not prune: $keptPost/$totalPost")
    // content identical across the re-layout
    assert(ss.sql(s"SELECT sum(id), count(*) FROM $t").head().toSeq ==
      Seq(79800L, 400L))
    // unknown sort column is rejected before any rewrite
    intercept[Exception](ss.sql(
      s"CALL $c.system.compact(table => 'ns.t', target_files => 2, sort_by => 'nope')")
      .collect())
  }

  test("streaming sink: epochs append exactly-once; a replayed epoch is refused") {
    val (ss, c) = freshCatalog("cat_stream")
    val t = s"$c.ns.sink"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-catspec-streamsink-")
    out.toFile.deleteOnExit()
    ss.range(0, 40).selectExpr("id", "concat('v', id) AS v")
      .repartition(4).write.parquet(s"$out/in")
    def drain(): Unit = {
      val q = ss.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$out/in")
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    drain()
    assert(ss.sql(s"SELECT count(*), count(DISTINCT id) FROM $t").head().toSeq ==
      Seq(40L, 40L))
    val versionsAfterFirst = ss.sql(s"SHOW TBLPROPERTIES $t").collect()
      .find(_.getString(0) == "latest_version").get.getString(1).toInt
    assert(versionsAfterFirst == 2, s"expected 2 epoch commits, saw $versionsAfterFirst")
    // kill the newest checkpoint commit marker: the restart re-executes
    // that epoch with the same epochId -> the sink must refuse the replay
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(s"$out/_ckpt/commits")
    val listing = java.nio.file.Files.list(commits)
    val newest = try listing.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    finally listing.close()
    java.nio.file.Files.delete(newest)
    java.nio.file.Files.deleteIfExists(
      newest.resolveSibling(s".${newest.getFileName}.crc"))
    drain()
    assert(ss.sql(s"SELECT count(*), count(DISTINCT id) FROM $t").head().toSeq ==
      Seq(40L, 40L), "replayed epoch appended duplicate rows")
    val versionsAfterReplay = ss.sql(s"SHOW TBLPROPERTIES $t").collect()
      .find(_.getString(0) == "latest_version").get.getString(1).toInt
    assert(versionsAfterReplay == 2, "replayed epoch minted a new version")
    // each epoch is an independent, time-travelable commit: v1 holds a
    // proper non-empty prefix of the stream (the exact split is the file
    // source's batch packing, not a pinned property)
    val v1Rows = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0)
    assert(v1Rows > 0 && v1Rows < 40, s"v1 held $v1Rows rows")
    // batch writers interleave freely with the stream's commits
    ss.sql(s"INSERT INTO $t VALUES (100, 'batch')")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 41)
    // complete-mode streaming is rejected loudly, not silently truncated
    val err = intercept[Exception] {
      val q = ss.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
        .parquet(s"$out/in")
        .groupBy("v").count()
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$out/_ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    assert(err != null)
  }

  test("streaming source: opens with the snapshot, tails appends, skips compaction, fails on rewrite") {
    val (ss, c) = freshCatalog("cat_source")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('a', id) FROM range(0, 10)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('b', id) FROM range(10, 20)")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-catspec-streamsrc-")
    out.toFile.deleteOnExit()
    def drain(ckpt: String): Long = {
      val q = ss.readStream.table(t)
        .writeStream
        .option("checkpointLocation", s"$out/$ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$out/result")
        }
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    // fresh stream: one opening-snapshot batch with the current 20 rows
    assert(drain("ck1") == 20)
    // appends + a compaction land; the resumed stream reads ONLY the
    // append's 10 rows (the compaction's rewritten files are invisible)
    ss.sql(s"INSERT INTO $t SELECT id, concat('c', id) FROM range(20, 30)")
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)")
    assert(drain("ck1") == 10, "compaction leaked into the stream (or the append was lost)")
    val sunk = ss.read.parquet(s"$out/result")
    assert(sunk.count() == 30 &&
      sunk.select("id").distinct().count() == 30)
    // a COW rewrite poisons the tail: the resumed stream must fail...
    ss.sql(s"UPDATE $t SET v = 'x' WHERE id = 5")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain("ck1"))
    assert(err.getMessage.contains("rewrote") ||
      Option(err.getCause).exists(_.getMessage.contains("rewrote")))
    // ...while a FRESH stream re-opens with the post-rewrite snapshot
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/result"))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    assert(drain("ck2") == 30)
    assert(ss.read.parquet(s"$out/result")
      .filter(org.apache.spark.sql.functions.col("v") === "x").count() == 1)
  }

  test("streaming source admission control: max_versions_per_trigger bounds each batch") {
    val (ss, c) = freshCatalog("cat_admission")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 5)")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-catspec-admission-")
    out.toFile.deleteOnExit()
    def drain(maxV: Option[Int]): Seq[Long] = {
      val reader = ss.readStream
      maxV.foreach(k => reader.option("max_versions_per_trigger", k.toString))
      val q = reader.table(t)
        .writeStream
        .option("checkpointLocation", s"$out/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$out/result")
        }
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).toSeq
    }
    assert(drain(None).sum == 5) // opening snapshot
    // a 3-version backlog drains as 3 bounded batches, in order
    (1 to 3).foreach(i => ss.sql(s"INSERT INTO $t SELECT id FROM range(${i * 100}, ${i * 100 + i})"))
    val batches = drain(Some(1)).filter(_ > 0)
    assert(batches == Seq(1L, 2L, 3L), s"expected per-version batches, got $batches")
    assert(ss.read.parquet(s"$out/result").count() == 11)
  }

  test("MERGE with NOT MATCHED BY SOURCE deletes stale corpus rows") {
    val (ss, c) = freshCatalog("cat_mbs")
    val t = s"$c.ns.t"
    seed(ss, t)
    ss.sql("CREATE OR REPLACE TEMP VIEW cat_mbs_keep AS " +
      "SELECT * FROM VALUES (1,'a',0.5),(2,'b',1.5) AS s(id, v, x)")
    ss.sql(s"""MERGE INTO $t t USING cat_mbs_keep s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.x = s.x + 10
               WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(ss.sql(s"SELECT id, x FROM $t ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 10.5), (2L, 11.5)))
  }

  test("scans report EXACT manifest row counts to the planner, tombstones netted") {
    val (ss, c) = freshCatalog("cat_stats")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) FROM range(0, 1000)")
    ss.sql(s"DELETE FROM $t WHERE id < 100") // MOR: tombstones, no rewrite
    def reported(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }
      assert(scans.size == 1, s"expected one v2 scan, got ${scans.size}")
      (scans.head.numRows().orElse(-1L), scans.head.sizeInBytes().orElse(-1L))
    }
    val (rows, bytes) = reported(ss.table(t))
    assert(rows == 900L, s"planner must see live rows (1000 - 100 tombstoned), got $rows")
    assert(bytes > 0L, "size estimate must forward from the parquet delegate")
    // file pruning narrows the reported count: a pinned time-travel read
    // of the pre-delete version reports the full 1000
    val (rows1, _) = reported(ss.sql(s"SELECT * FROM $t VERSION AS OF 1"))
    assert(rows1 == 1000L, s"pre-delete snapshot reports all rows, got $rows1")
  }
}
