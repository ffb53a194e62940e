package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{GraftCatalog, Manifests}

/** Round-13 catalog contracts: FILE-GRANULAR copy-on-write (a targeted
  * UPDATE/DELETE rewrites a strict subset of a clustered table's manifest
  * and inherits the rest — VERDICT r12 #1), the two footer-stats
  * soundness fixes that pruning correctness now rides on (ADVICE r12:
  * large-binary stats omission must poison, non-micros timestamp stats
  * must yield no bounds), time-transform clustering (`days(ts)` /
  * `hours(ts)` hidden partitioning), and the stream-epoch dedup horizon
  * surviving snapshot retention. */
class CowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // keep the tiny test shuffles wide so clustering yields >1 file
  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Clustered table, 4 disjoint-range appends -> >=4 files with disjoint
    * id bounds (the takedown-friendly layout the COW granularity is for). */
  private def seedClustered(ss: SparkSession, t: String): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) PARTITIONED BY (id)")
    (0 until 4).foreach { k =>
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, id * 10 AS v " +
        s"FROM range(${k * 1000}, ${k * 1000 + 1000})")
    }
  }

  test("targeted UPDATE rewrites a STRICT SUBSET of files and inherits the rest") {
    val (ss, c) = freshCatalog("cow_upd")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    ss.sql(s"UPDATE $t SET v = v + 1 WHERE id >= 1000 AND id < 2000")
    val (prev, removed, added, inherited) = Manifests.commitFileDiff(ss, t, 5)
    assert(removed >= 1 && removed < prev,
      s"UPDATE did not rewrite a strict subset: removed $removed of $prev")
    assert(inherited >= 1, "UPDATE inherited no files")
    assert(added >= 1)
    // untouched ranges are byte-identical inherited files, touched range
    // is correct: full-content check
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq ==
      Seq(4000L, (0 until 4000).map(_.toLong * 10).sum + 1000L))
    // the rewrite is time-travel-invisible to earlier versions
    assert(ss.sql(s"SELECT sum(v) FROM $t VERSION AS OF 4").head().getLong(0) ==
      (0 until 4000).map(_.toLong * 10).sum)
  }

  test("one-row takedown DELETE rewrites only the file(s) that can hold the row") {
    val (ss, c) = freshCatalog("cow_del")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    val filesBefore = Manifests.files(ss, t, 4).size
    ss.sql(s"DELETE FROM $t WHERE id = 3500")
    val (prev, removed, _, inherited) = Manifests.commitFileDiff(ss, t, 5)
    assert(prev == filesBefore)
    // the seed wrote one file per 1000-id range commit, so exactly the
    // range-holding file set (here: 1 of >=4) is rewritten
    assert(removed < prev && removed >= 1,
      s"takedown DELETE rewrote $removed of $prev files")
    assert(inherited == prev - removed)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3999)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id = 3500").head().getLong(0) == 0)
  }

  test("inherited files keep their stats: skipping still prunes after a partial rewrite") {
    val (ss, c) = freshCatalog("cow_stats")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    ss.sql(s"UPDATE $t SET v = 0 WHERE id < 1000")
    // probe an INHERITED range: pruning must still work from inherited stats
    ss.sql(s"SELECT sum(v) FROM $t WHERE id >= 2000 AND id < 2500").collect()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept < total, s"inherited stats lost: kept $kept of $total")
  }

  test("stats-unpushable conditions still narrow via the runtime subquery, correctly") {
    val (ss, c) = freshCatalog("cow_cons")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    // modulo is not a SkipEval shape, so STATIC pruning keeps all files —
    // but the runtime group-filter subquery computes the _file values of
    // actually-matching rows (ids 7, 1007, 2007, 3007 -> one file per
    // range commit) and the rewrite touches only those
    ss.sql(s"UPDATE $t SET v = -1 WHERE id % 1000 = 7")
    val (prev, removed, _, inherited) = Manifests.commitFileDiff(ss, t, 5)
    assert(removed >= 1 && removed < prev,
      s"runtime subquery did not narrow the modulo UPDATE: removed $removed of $prev")
    assert(inherited >= 1)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = -1").head().getLong(0) == 4)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4000)
    // with the runtime filter disabled the same verb falls back to a
    // whole-table rewrite — conservative, still correct
    ss.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled", "false")
    try {
      ss.sql(s"UPDATE $t SET v = -2 WHERE id % 1000 = 8")
      val (prev2, removed2, _, _) = Manifests.commitFileDiff(ss, t, 6)
      assert(removed2 == prev2,
        s"filter disabled + stats-unpushable must rewrite every file: $removed2 of $prev2")
      assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = -2").head().getLong(0) == 4)
      assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4000)
    } finally ss.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled", "true")
  }

  // (the replace-commit conflict guard a COW rewrite rides on — fail on a
  // race rather than publish a stale rewrite — is pinned by CatalogSpec's
  // concurrent-commit tests; the scan-time base only tightens WHICH
  // version the guard compares against)

  // ---- runtime group filtering (the MERGE half of file granularity) ----

  test("MERGE rewrites only files holding MATCHED rows (runtime group filtering)") {
    val (ss, c) = freshCatalog("cow_merge")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    // source touches ids 3990..4009: matches live in ONE of the >=4
    // range files; 3990..3999 update, 4000..4009 insert
    ss.sql(s"""MERGE INTO $t x USING (SELECT id, -1L AS v FROM range(3990, 4010)) s
               ON x.id = s.id
               WHEN MATCHED THEN UPDATE SET v = s.v
               WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val (prev, removed, _, inherited) = Manifests.commitFileDiff(ss, t, 5)
    // footer stats can't bound the join condition; the runtime subquery
    // must narrow the group to the matched file(s)
    assert(removed >= 1 && removed < prev,
      s"MERGE did not rewrite a strict subset: removed $removed of $prev")
    assert(inherited >= 1)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4010)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = -1").head().getLong(0) == 20)
    // untouched mass intact
    assert(ss.sql(s"SELECT sum(v) FROM $t WHERE id < 3990").head().getLong(0) ==
      (0 until 3990).map(_.toLong * 10).sum)
  }

  test("MERGE with NOT MATCHED BY SOURCE touches every row, correctly (no narrowing)") {
    val (ss, c) = freshCatalog("cow_mbs")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    ss.sql(s"""MERGE INTO $t x USING (SELECT id, -1L AS v FROM range(100, 110)) s
               ON x.id = s.id
               WHEN MATCHED THEN UPDATE SET v = s.v
               WHEN NOT MATCHED BY SOURCE AND x.id >= 3995 THEN DELETE""")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3995)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = -1").head().getLong(0) == 10)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id >= 3995").head().getLong(0) == 0)
  }

  test("_file metadata column: one value per manifest file, selectable, shadowable") {
    val (ss, c) = freshCatalog("cow_file")
    val t = s"$c.ns.t"
    seedClustered(ss, t)
    val byFile = ss.sql(s"SELECT _file, count(*) AS n FROM $t GROUP BY _file").collect()
    val manifest = Manifests.files(ss, t, 4).toSet
    assert(byFile.map(_.getString(0)).toSet == manifest,
      "_file values must be exactly the manifest's relative paths")
    assert(byFile.map(_.getLong(1)).sum == 4000)
    // plain reads without _file are untouched (still prune via stats)
    ss.sql(s"SELECT sum(v) FROM $t WHERE id < 1000").collect()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept < total)
    // a table OWNING a _file data column shadows the metadata column and
    // keeps row-level verbs on the static path
    val t2 = s"$c.ns.shadow"
    ss.sql(s"CREATE TABLE $t2 (id BIGINT, _file STRING)")
    ss.sql(s"INSERT INTO $t2 SELECT id, concat('u', id) FROM range(0, 10)")
    ss.sql(s"UPDATE $t2 SET _file = 'x' WHERE id < 3")
    assert(ss.sql(s"SELECT count(*) FROM $t2 WHERE _file = 'x'").head().getLong(0) == 3)
    assert(ss.sql(s"SELECT count(*) FROM $t2").head().getLong(0) == 10)
  }

  // ---- footer-stats soundness the COW pruning rides on (ADVICE r12) ----

  test("a row group with omitted large-binary stats POISONS the column's file bounds") {
    val dir = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-cowspec-bigbin-")
    dir.toFile.deleteOnExit()
    val ss = spark.newSession()
    // force multiple SMALL row groups per file, size-checked every record,
    // so the leading groups hold only small strings (stats present) and a
    // later group holds >4KB strings (parquet-mr OMITS min/max above its
    // ~4KB statistics size limit while numNulls stays 0 — the exact shape
    // ADVICE r12 flagged: hasNonNullValue=false but NOT all-null)
    val hc = ss.sessionState.newHadoopConf()
    val out = s"$dir/f"
    val rows = (0 until 3000).map(i => (i.toLong, "a" * 10)) ++
      (0 until 8).map(i => (100000L + i, "z" * 5000))
    import ss.implicits._
    val df = rows.toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    df.write
      .option("parquet.block.size", "16384")
      .option("parquet.page.size.row.check.min", "1")
      .option("parquet.page.size.row.check.max", "1")
      .parquet(out)
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(out)).iterator()
    val parquetFile = {
      import scala.jdk.CollectionConverters._
      file.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val stats = graft.catalog.FooterStats.collect(
      dir, Seq(parquetFile), df.schema, hc)
    val st = stats(dir.relativize(parquetFile).toString)
    // precondition: the file really has >1 row group and the big strings
    // really lost their stats (otherwise this test proves nothing)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(parquetFile.toUri), hc))
    val blocks = try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.toSeq
    } finally reader.close()
    assume(blocks.size > 1, "need multiple row groups to exercise the poison path")
    // id bounds survive (every group has int stats); s bounds must be
    // ABSENT — with pre-fix code the small groups' 'a…' bounds leak
    // through and a WHERE s = 'zzz…' prunes the file (lost rows)
    assert(st.mins.contains("id") && st.maxs.contains("id"))
    assert(!st.mins.contains("s") && !st.maxs.contains("s"),
      s"omitted-stats group did not poison: bounds ${st.mins.get("s")}..${st.maxs.get("s")}")
    // and the pruning outcome: a predicate on s keeps the file
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val attr = AttributeReference("s", StringType)()
    val kept = graft.catalog.SkipEval.prune(df.schema,
      Seq("f"), Map("f" -> st),
      Seq(EqualTo(attr, Literal(org.apache.spark.unsafe.types.UTF8String.fromString("z" * 5000), StringType))))
    assert(kept == Seq("f"))
  }

  test("non-micros timestamp stats yield NO bounds: a MILLIS table never mis-prunes") {
    val (ss, c) = freshCatalog("cow_millis")
    val t = s"$c.ns.ts"
    ss.sql(s"CREATE TABLE $t (id BIGINT, ts TIMESTAMP)")
    val prior = ss.conf.get("spark.sql.parquet.outputTimestampType")
    ss.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try ss.sql(s"INSERT INTO $t SELECT id, timestamp_millis(1700000000000 + id * 1000) " +
      "FROM range(0, 100)")
    finally ss.conf.set("spark.sql.parquet.outputTimestampType", prior)
    // with millis stats wrongly decoded as micros, every bound is ~1000x
    // too small and this range predicate would prune the file (lost rows)
    val n = ss.sql(s"SELECT count(*) FROM $t " +
      "WHERE ts >= timestamp_millis(1700000000000)").head().getLong(0)
    assert(n == 100, s"MILLIS-written rows lost to a unit-mismatched prune: got $n")
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept == total, s"a MILLIS file must never be pruned on ts: $kept/$total")
  }

  // ---- time-transform clustering (hidden partitioning) ----

  test("days(ts) clustering: month window prunes a strict subset through raw ts stats") {
    val (ss, c) = freshCatalog("cow_days")
    val t = s"$c.ns.ev"
    ss.sql(s"CREATE TABLE $t (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    // 64 days of events, deliberately scattered before the write re-clusters
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id, " +
      "timestamp_micros(1700000000000000 + (id DIV 16) * 86400000000) AS ts FROM range(0, 1024)")
    val lo = 1700000000000000L + 16L * 86400000000L
    val hi = 1700000000000000L + 20L * 86400000000L
    val n = ss.sql(s"SELECT count(*) FROM $t WHERE ts >= timestamp_micros($lo) " +
      s"AND ts < timestamp_micros($hi)").head().getLong(0)
    assert(n == 64, s"day-window content wrong: $n")
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept < total && kept >= 1, s"days(ts) layout did not prune: $kept/$total")
    // partitioning() reports the transform
    val cat = ss.sessionState.catalogManager.catalog(c).asInstanceOf[GraftCatalog]
    val transforms = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "ev")).partitioning()
    assert(transforms.map(_.name).toSeq == Seq("days"))
  }

  test("months(ts) clustering: calendar months cluster, a quarter window prunes") {
    val (ss, c) = freshCatalog("cow_months")
    val t = s"$c.ns.ev"
    ss.sql(s"CREATE TABLE $t (id BIGINT, d DATE) PARTITIONED BY (months(d))")
    // two years of daily rows (DATE column exercises the date arm of the
    // months transform), scattered before the write re-clusters
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id, " +
      "date_add(DATE'2023-01-01', CAST(id AS INT)) AS d FROM range(0, 730)")
    val n = ss.sql(s"SELECT count(*) FROM $t " +
      "WHERE d >= DATE'2023-04-01' AND d < DATE'2023-07-01'").head().getLong(0)
    assert(n == 91, s"quarter-window content wrong: $n")
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept < total && kept >= 1, s"months(d) layout did not prune: $kept/$total")
    val cat = ss.sessionState.catalogManager.catalog(c).asInstanceOf[GraftCatalog]
    assert(cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "ev"))
      .partitioning().map(_.name).toSeq == Seq("months"))
  }

  test("hours(ts) accepted; days on a non-time column and unknown transforms stay rejected") {
    val (ss, c) = freshCatalog("cow_hours")
    ss.sql(s"CREATE TABLE $c.ns.h (id BIGINT, ts TIMESTAMP) PARTITIONED BY (hours(ts))")
    ss.sql(s"INSERT INTO $c.ns.h SELECT id, timestamp_micros(1700000000000000 + id * 3600000000) " +
      "FROM range(0, 48)")
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.h").head().getLong(0) == 48)
    val e1 = intercept[Exception](
      ss.sql(s"CREATE TABLE $c.ns.bad (id BIGINT, v STRING) PARTITIONED BY (days(v))"))
    assert(e1.getMessage.contains("timestamp"))
    // bucket is ACCEPTED since r14 (the SPJ write contract, SpjSpec);
    // transforms outside the supported set still refuse
    val e2 = intercept[Exception](
      ss.sql(s"CREATE TABLE $c.ns.bad2 (id BIGINT, ts TIMESTAMP) PARTITIONED BY (years(ts))"))
    assert(e2.getMessage.toLowerCase.contains("identity"))
  }

  // ---- TRUNCATE TABLE + CALL system.history (round-13 completions) ----

  test("TRUNCATE TABLE is a metadata-only replace commit; history reports the log") {
    val (ss, c) = freshCatalog("cow_trunc")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100)")
    val filesBefore = Manifests.files(ss, t, 1)
    ss.sql(s"TRUNCATE TABLE $t")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 0)
    // metadata-only: the pre-truncate version keeps reading its files
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 100)
    assert(filesBefore.forall(f =>
      java.nio.file.Files.exists(Manifests.tableDir(ss, t).resolve(f))))
    // restore undoes it; writes continue
    ss.sql(s"CALL $c.system.restore(table => 'ns.t', version => 1)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 110)")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 110)
    val hist = ss.sql(s"CALL $c.system.history(table => 'ns.t')").collect()
    assert(hist.map(r => (r.getInt(0), r.getString(2))).toSeq ==
      Seq((0, "create"), (1, "append"), (2, "truncate"), (3, "restore(v1)"), (4, "append")))
    assert(hist.map(_.getLong(5)).toSeq == Seq(0L, 100L, 0L, 100L, 110L)) // n_rows per version
    assert(hist.forall(_.getBoolean(3))) // all data-changing
    // branch arg reads the branch chain; unknown branch refuses
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'b')")
    ss.sql(s"DELETE FROM $t.branch_b WHERE id < 5")
    val bh = ss.sql(s"CALL $c.system.history(table => 'ns.t', branch => 'b')").collect()
    assert(bh.length == 6 && bh.last.getLong(5) == 105L)
    intercept[Exception](
      ss.sql(s"CALL $c.system.history(table => 'ns.t', branch => 'nope')").collect())
  }

  // ---- stream-epoch dedup horizon vs retention (ADVICE r12) ----

  test("epoch replay is refused even after expire_versions retired its commit") {
    val (ss, c) = freshCatalog("cow_epoch")
    val t = s"$c.ns.sink"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-cowspec-epoch-")
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
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 40)
    // retire the FIRST epoch's commit from history; the dedup horizon
    // must not shrink with it (pre-fix: the op-string check against
    // retained history re-admits the replayed epoch -> duplicates)
    ss.sql(s"CALL $c.system.expire_versions(table => 'ns.sink', keep_last => 1)")
    // delete ALL checkpoint commit markers -> restart replays every epoch
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(s"$out/_ckpt/commits")
    val listing = java.nio.file.Files.list(commits)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit)).toSeq
      .foreach { p =>
        java.nio.file.Files.delete(p)
        java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      }
    finally listing.close()
    drain()
    assert(ss.sql(s"SELECT count(*), count(DISTINCT id) FROM $t").head().toSeq ==
      Seq(40L, 40L), "replayed epoch re-admitted after expire_versions (horizon == retention)")
  }
}
