package graft.operators

import graft.{Artifacts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** X-SQL — the SQL-statement surface for the maintenance verbs, served by
  * the snapshot-versioned DSv2 catalog ([[graft.catalog.GraftCatalog]]):
  * `MERGE INTO`, `UPDATE`, `DELETE FROM`, `INSERT INTO/OVERWRITE`, and
  * `VERSION AS OF` time travel as plain `spark.sql(...)` text. The
  * DataFrame-side twins live in [[Curation]] (corpus MERGE, snapshot
  * versioning, deletion vectors); this module pins that a user who writes
  * the STATEMENTS a lakehouse user writes gets the same results, and that
  * every historical version stays readable afterwards.
  *
  * == The verb chain ==
  *
  * One deterministic maintenance story per (process, corpus), built once
  * and then read by every registered query (the staged-artifact pattern
  * of the dedup stores):
  *
  *  - v0 `CREATE TABLE` (doc_id, lang, source, n_chars)
  *  - v1 `INSERT INTO … SELECT` — docs with doc_id % 10 < 8 (the corpus)
  *  - v2 `UPDATE … SET lang='und' WHERE n_chars < 200` (lang-ID repair)
  *  - v3 `DELETE FROM … WHERE doc_id % 97 = 0` (a takedown batch)
  *  - v4 `MERGE INTO … USING` docs with doc_id % 10 >= 5 — re-ingest
  *    overlap updates n_chars (+1 marks the re-crawl), novel ids insert
  *
  * Every step is a COPY-ON-WRITE commit: immutable data files plus one
  * atomic manifest swap, so v1..v4 remain independently queryable — which
  * is exactly what the time-travel query pins against a DuckDB oracle
  * that replays the chain relationally.
  */
object SqlVerbs {

  /** n_chars threshold of the v2 UPDATE — shared with the oracle so the
    * two sides can never drift. */
  val ShortDocChars = 200
  /** doc_id modulus of the v3 DELETE — shared with the oracle. */
  val TakedownMod = 97

  private def catName(dir: String): String =
    Bucketing.taggedName("gcat", dir)

  /** An isolated session with the corpus-tagged graft catalog configured;
    * the catalog conf never leaks into the caller's other work. */
  private def catalogSession(spark: SparkSession, dir: String): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set(s"spark.sql.catalog.${catName(dir)}",
      classOf[graft.catalog.GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.${catName(dir)}.root",
      Artifacts.root.resolve(catName(dir)).toString)
    ss
  }

  /** Build catalog fixture `key` once per (process, corpus) — the
    * staged-artifact pattern, on [[Artifacts.once]]'s per-key latch, so
    * builds of different fixtures never block each other. `build` runs
    * in a catalog session of its own: the temp views and conf it sets
    * (AQE coalescing off for a multi-file layout) never reach the session
    * the caller reads through. */
  private def fixture(spark: SparkSession, dir: String, key: String)
                     (build: SparkSession => Unit): Unit =
    Artifacts.once(s"${catName(dir)}-$key")(build(catalogSession(spark, dir)))

  /** (min, max) doc_id of the corpus — the anchor of every doc_id window
    * the fixtures and queries derive (the oracles use the same formulas). */
  private def docIdBounds(ss: SparkSession, dir: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val Array(b) = Tables.documents(ss, dir).agg(min(col("doc_id")), max(col("doc_id"))).collect()
    (b.getLong(0), b.getLong(1))
  }

  /** Build the verb chain once per (process, corpus); returns a session
    * with the catalog configured and the fully-qualified table name. */
  def ensureVerbChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs"
    fixture(spark, dir, "chain") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
      ss.sql(s"""INSERT INTO $t
                 SELECT doc_id, lang, source, n_chars FROM documents_src
                 WHERE doc_id % 10 < 8""")
      ss.sql(s"UPDATE $t SET lang = 'und' WHERE n_chars < $ShortDocChars")
      ss.sql(s"DELETE FROM $t WHERE doc_id % $TakedownMod = 0")
      ss.sql(s"""MERGE INTO $t t
                 USING (SELECT doc_id, lang, source, n_chars FROM documents_src
                        WHERE doc_id % 10 >= 5) s
                 ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
                 WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars)
                   VALUES (s.doc_id, s.lang, s.source, s.n_chars)""")
    }
    (catalogSession(spark, dir), t)
  }

  /** X-SQLa — the post-MERGE table, row for row: the strongest check of
    * the whole verb chain (every UPDATE/DELETE/MERGE decision shows in
    * some row). */
  def sqlMergeResult(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureVerbChain(spark, dir)
    ss.sql(s"SELECT doc_id, lang, source, n_chars FROM $t")
  }

  /** The DuckDB replay of the verb chain as a CTE pipeline (v1 → v4). */
  private def oracleChainCtes: String =
    s"""v1 AS (SELECT doc_id, lang, source, n_chars FROM documents
              WHERE doc_id % 10 < 8),
       v2 AS (SELECT doc_id,
                     CASE WHEN n_chars < $ShortDocChars THEN 'und' ELSE lang END AS lang,
                     source, n_chars FROM v1),
       v3 AS (SELECT * FROM v2 WHERE doc_id % $TakedownMod <> 0),
       src AS (SELECT doc_id, lang, source, n_chars FROM documents
               WHERE doc_id % 10 >= 5),
       v4 AS (
         SELECT t.doc_id, t.lang, t.source, s.n_chars + 1 AS n_chars
         FROM v3 t JOIN src s USING (doc_id)
         UNION ALL
         SELECT t.* FROM v3 t ANTI JOIN src s USING (doc_id)
         UNION ALL
         SELECT s.* FROM src s ANTI JOIN v3 t USING (doc_id))"""

  def sqlMergeOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT doc_id, lang, source, n_chars FROM v4 ORDER BY doc_id"""

  /** X-SQLb — time travel: one aggregate row per historical version,
    * read back via `VERSION AS OF` AFTER all four commits — pins that
    * earlier manifests are untouched by later copy-on-write rewrites. */
  def sqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureVerbChain(spark, dir)
    ss.sql(
      (1 to 4).map(v =>
        s"""SELECT $v AS version, count(*) AS n_docs,
                   sum(n_chars) AS sum_chars,
                   count(DISTINCT lang) AS n_langs
            FROM $t VERSION AS OF $v""").mkString(" UNION ALL "))
  }

  /** X-SQLc — snapshot retention via `CALL system.expire_versions`: a
    * second table gets its own three-commit chain, the oldest two
    * versions (create + v1) are expired, and the output pins BOTH the
    * procedure's accounting and that the kept versions still read
    * correctly while the expired one is really gone. `deleted_files` is
    * deliberately NOT in the output — file counts depend on write task
    * parallelism; CatalogSpec pins `deleted_files > 0` instead. */
  def sqlExpire(spark: SparkSession, dir: String): DataFrame = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_exp"
    fixture(spark, dir, "expire") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_exp")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_exp WHERE doc_id % 10 < 8")
      ss.sql(s"INSERT OVERWRITE $t SELECT doc_id, n_chars FROM documents_src_exp WHERE doc_id % 10 >= 8")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_exp " +
        s"WHERE doc_id % $TakedownMod = 0 AND doc_id % 10 < 8")
      ss.sql(s"CALL $cat.system.expire_versions(table => 'main.docs_exp', keep_last => 2)")
    }
    val ss = catalogSession(spark, dir)
    val expiredReadable =
      try { ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect(); 1L }
      catch { case e: Exception if isExpiredVersion(e) => 0L }
    val versions = ss.sql(s"SELECT count(DISTINCT version) FROM " +
      s"(SELECT 2 AS version FROM $t VERSION AS OF 2 LIMIT 1)").head().getLong(0)
    import ss.implicits._
    Seq(
      ("v1_still_readable", expiredReadable),
      ("v2_rows", ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0)),
      ("v3_rows", ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 3").head().getLong(0)),
      ("latest_rows", ss.sql(s"SELECT count(*) FROM $t").head().getLong(0)),
      ("kept_v2_probe", versions))
      .toDF("metric", "value")
  }

  /** Is `e`, or an exception it wraps, the catalog's refusal to read an
    * expired version (`IllegalArgumentException("no version …")`)? */
  private def isExpiredVersion(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case i: IllegalArgumentException => Option(i.getMessage).exists(_.startsWith("no version "))
      case _ => false
    }

  def sqlExpireOracleSql: String =
    s"""WITH c1 AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 >= 8),
            c2 AS (SELECT count(*) AS n FROM documents
                   WHERE doc_id % $TakedownMod = 0 AND doc_id % 10 < 8)
        SELECT * FROM (
          SELECT 'v1_still_readable' AS metric, CAST(0 AS BIGINT) AS value
          UNION ALL SELECT 'v2_rows', (SELECT n FROM c1)
          UNION ALL SELECT 'v3_rows', (SELECT n FROM c1) + (SELECT n FROM c2)
          UNION ALL SELECT 'latest_rows', (SELECT n FROM c1) + (SELECT n FROM c2)
          UNION ALL SELECT 'kept_v2_probe', CAST(1 AS BIGINT))
        ORDER BY metric"""

  /** X-SQLd — OPTIMIZE via `CALL system.compact`: a third table is
    * fragmented by three range INSERTs, bin-packed to ONE file, and the
    * output pins the four properties that make compaction safe to run
    * against live ingest: the procedure's own accounting (`files_after`,
    * `rows` — both deterministic), row preservation (count at the latest
    * version), time-travel invisibility (the PRE-compact version still
    * reads the small files), and content identity (symmetric EXCEPT ALL
    * between the two versions is empty — compaction changed layout, not
    * one row). `files_before` stays out (write-parallelism-dependent;
    * CatalogSpec pins `> target`). */
  def sqlCompact(spark: SparkSession, dir: String): DataFrame = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_cmp"
    fixture(spark, dir, "compact") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_cmp")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      (0 until 3).foreach { third =>
        ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_cmp " +
          s"WHERE doc_id % 3 = $third")
      }
      val res = ss.sql(
        s"CALL $cat.system.compact(table => 'main.docs_cmp', target_files => 1)").head()
      compactReports.put(cat, (res.getInt(0), res.getInt(1), res.getLong(2)))
    }
    val ss = catalogSession(spark, dir)
    val (before, after, rowsReported) = compactReports.get(cat)
    val preVersion = 3 // v0 create, v1..v3 inserts, v4 = the compact commit
    val exceptDiff = ss.sql(
      s"""SELECT count(*) FROM (
            (SELECT doc_id, n_chars FROM $t
             EXCEPT ALL SELECT doc_id, n_chars FROM $t VERSION AS OF $preVersion)
            UNION ALL
            (SELECT doc_id, n_chars FROM $t VERSION AS OF $preVersion
             EXCEPT ALL SELECT doc_id, n_chars FROM $t))""").head().getLong(0)
    import ss.implicits._
    Seq(
      ("rows_latest", ss.sql(s"SELECT count(*) FROM $t").head().getLong(0)),
      ("rows_pre_compact", ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $preVersion")
        .head().getLong(0)),
      ("rows_reported", rowsReported),
      ("files_after", after.toLong),
      ("fragmented_before", if (before > 1) 1L else 0L),
      ("except_diff", exceptDiff))
      .toDF("metric", "value")
  }

  def sqlCompactOracleSql: String =
    """WITH n AS (SELECT count(*) AS c FROM documents)
       SELECT * FROM (
         SELECT 'rows_latest' AS metric, (SELECT c FROM n) AS value
         UNION ALL SELECT 'rows_pre_compact', (SELECT c FROM n)
         UNION ALL SELECT 'rows_reported', (SELECT c FROM n)
         UNION ALL SELECT 'files_after', CAST(1 AS BIGINT)
         UNION ALL SELECT 'fragmented_before', CAST(1 AS BIGINT)
         UNION ALL SELECT 'except_diff', CAST(0 AS BIGINT))
       ORDER BY metric"""

  /** Number of range-bucketed INSERTs the skipping table is built from —
    * shared with the spec so its "skipped most of the manifest" bound
    * tracks the build. */
  val SkipBuckets = 8

  /** The skipping table: `documents` re-ingested as [[SkipBuckets]]
    * doc_id-range INSERTs, so the manifest's per-file footer stats carry
    * disjoint doc_id bounds — the clustered-ingest layout (by date, by
    * tenant, by crawl) that manifest skipping exists for. */
  private[graft] def ensureSkipTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_skip"
    fixture(spark, dir, "skip") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_skip")
      val (mn, mx) = docIdBounds(ss, dir)
      val span = mx - mn + 1
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT)")
      (0 until SkipBuckets).foreach { i =>
        val lo = mn + i * span / SkipBuckets
        val hi = mn + (i + 1) * span / SkipBuckets
        // one file per bucket commit: the ingest shape the skipping
        // proof is about (a date/tenant-clustered drop, not confetti)
        ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ doc_id, lang, n_chars " +
          s"FROM documents_src_skip WHERE doc_id >= $lo AND doc_id < $hi")
      }
    }
    (catalogSession(spark, dir), t)
  }

  /** X-SQLe — manifest data skipping, end-to-end: a quartile doc_id
    * window over the range-ingested table. The aggregate is oracle-checked
    * (pruning must be lossless); `skipped_some` reads the scan's recorded
    * (kept, total) decision — the plan touched a strict subset of the
    * manifest before any data IO. Bounds derive from min/max by the SAME
    * integer formula the oracle's scalar subqueries use, so both sides
    * select the identical window at every scale factor. */
  def sqlSkipping(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureSkipTable(spark, dir)
    val (mn, mx) = docIdBounds(ss, dir)
    val lo = mn + (mx - mn) / 4
    val hi = lo + (mx - mn) / 8
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs,
                 sum(n_chars) AS sum_chars,
                 count(DISTINCT lang) AS n_langs
          FROM $t WHERE doc_id BETWEEN $lo AND $hi""").head()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse((Int.MaxValue, Int.MaxValue))
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
      kept < total, kept >= 1))
      .toDF("n_docs", "sum_chars", "n_langs", "skipped_some", "kept_some")
  }

  def sqlSkippingOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            w AS (SELECT mn + (mx - mn) // 4 AS lo,
                         mn + (mx - mn) // 4 + (mx - mn) // 8 AS hi FROM b)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(DISTINCT lang) AS n_langs,
              true AS skipped_some, true AS kept_some
       FROM documents, w WHERE doc_id BETWEEN w.lo AND w.hi"""

  /** X-SQLf — CLUSTERING rewrite (`compact … sort_by`), the write-side
    * half of manifest skipping: the table is ingested SCATTERED (modulus
    * inserts — every file spans the full doc_id range, so footer stats
    * can prune nothing), probed, re-laid-out by `CALL system.compact(…,
    * sort_by => 'doc_id')`, and probed again with the same window. The
    * output pins the before/after contrast from the scan recorder —
    * pre-cluster the manifest is unprunable (kept == total), post-cluster
    * the same predicate plans a strict subset — and the window aggregate
    * is oracle-checked, so the re-layout moved bytes, not rows. */
  def sqlCluster(spark: SparkSession, dir: String): DataFrame = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_clu"
    val (mn, mx) = docIdBounds(spark, dir)
    val lo = mn + (mx - mn) / 2
    val hi = lo + (mx - mn) / 8
    fixture(spark, dir, "cluster") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_clu")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      // round-robin REPARTITION scatters each slice across its files,
      // so every file spans the full doc_id range (nothing prunable —
      // the layout clustering exists to fix)
      (0 until 4).foreach { slice =>
        ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(2) */ doc_id, n_chars " +
          s"FROM documents_src_clu WHERE doc_id % 4 = $slice")
      }
      ss.sql(s"SELECT count(*) FROM $t WHERE doc_id BETWEEN $lo AND $hi").collect()
      val pre = graft.catalog.SkipRecorder.lastFor(t).getOrElse((-1, -1))
      ss.sql(s"CALL $cat.system.compact(table => 'main.docs_clu', " +
        "target_files => 4, sort_by => 'doc_id')")
      clusterProbes.put(cat, pre)
    }
    val ss = catalogSession(spark, dir)
    val (keptPre, totalPre) = clusterProbes.get(cat)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars
          FROM $t WHERE doc_id BETWEEN $lo AND $hi""").head()
    val (keptPost, totalPost) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse((Int.MaxValue, Int.MaxValue))
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1),
      keptPre == totalPre && totalPre >= 4, // scattered layout: unprunable
      keptPost < totalPost && keptPost >= 1)) // clustered: strict subset
      .toDF("n_docs", "sum_chars", "scattered_unprunable", "clustered_skips")
  }

  def sqlClusterOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            w AS (SELECT mn + (mx - mn) // 2 AS lo,
                         mn + (mx - mn) // 2 + (mx - mn) // 8 AS hi FROM b)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              true AS scattered_unprunable, true AS clustered_skips
       FROM documents, w WHERE doc_id BETWEEN w.lo AND w.hi"""

  private val compactReports =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Long)]()

  private val clusterProbes =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** The catalog-configured session + catalog name, for operators outside
    * this module that target the same per-corpus catalog (the streaming
    * sink). */
  private[graft] def sessionAndCatalog(spark: SparkSession, dir: String): (SparkSession, String) =
    (catalogSession(spark, dir), catName(dir))

  /** X-SQLg — CHANGE DATA FEED over the verb chain: every row-level
    * change the four commits made, reconstructed from the copy-on-write
    * manifests by [[graft.catalog.ChangeFeed]] (no change files are
    * written at commit time; the feed is derived on demand at
    * touched-file cost). The INSERT surfaces as plain inserts, the
    * UPDATE and the MERGE's matched arm as update_preimage/postimage
    * pairs (keyed on doc_id), the DELETE as deletes, and the MERGE's
    * not-matched arm as inserts — including the re-insert of doc_ids the
    * takedown removed. The DuckDB oracle derives the same feed
    * RELATIONALLY from the chain's CTE replay, so the manifest-diff
    * reconstruction is pinned against an independent derivation of what
    * each statement must have changed. */
  def sqlCdf(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureVerbChain(spark, dir)
    graft.catalog.ChangeFeed.tableChanges(ss, t, fromVersion = 1, toVersion = 4,
      keyCols = Seq("doc_id"))
  }

  def sqlCdfOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT * FROM (
          SELECT doc_id, lang, source, n_chars,
                 'insert' AS _change_type, 1 AS _commit_version FROM v1
          UNION ALL
          SELECT doc_id, lang, source, n_chars, 'update_preimage', 2 FROM v1
          WHERE n_chars < $ShortDocChars AND lang IS DISTINCT FROM 'und'
          UNION ALL
          SELECT doc_id, 'und', source, n_chars, 'update_postimage', 2 FROM v1
          WHERE n_chars < $ShortDocChars AND lang IS DISTINCT FROM 'und'
          UNION ALL
          SELECT doc_id, lang, source, n_chars, 'delete', 3 FROM v2
          WHERE doc_id % $TakedownMod = 0
          UNION ALL
          SELECT t.doc_id, t.lang, t.source, t.n_chars, 'update_preimage', 4
          FROM v3 t WHERE t.doc_id IN (SELECT doc_id FROM src)
          UNION ALL
          SELECT t.doc_id, t.lang, t.source, s.n_chars + 1, 'update_postimage', 4
          FROM v3 t JOIN src s USING (doc_id)
          UNION ALL
          SELECT s.doc_id, s.lang, s.source, s.n_chars, 'insert', 4
          FROM src s WHERE s.doc_id NOT IN (SELECT doc_id FROM v3))
        ORDER BY _commit_version, _change_type, doc_id"""

  /** Build the WAP (write-audit-publish) chain once per (process,
    * corpus): main gets the corpus, a zero-copy `audit` branch is forked,
    * the curation (quality takedown + re-crawl MERGE) lands on the
    * BRANCH via the `…docs_wap.branch_audit` suffix identifier, the
    * audit step verifies isolation (main still serves the fork-point
    * snapshot) and staging sanity, and only then does
    * `CALL system.publish_branch` fast-forward main — the Iceberg WAP
    * pattern, which is how a 100 TB corpus update ships without
    * consumers ever reading a half-curated state. */
  private[graft] def ensureWapChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_wap"
    val bt = s"$t.branch_audit"
    fixture(spark, dir, "wap") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_wap")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
      ss.sql(s"""INSERT INTO $t
                 SELECT doc_id, lang, source, n_chars FROM documents_src_wap
                 WHERE doc_id % 10 < 8""")
      val forkCount = ss.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      ss.sql(s"CALL $cat.system.create_branch(table => 'main.docs_wap', branch => 'audit')")
      // WRITE: staged curation, on the branch only
      ss.sql(s"DELETE FROM $bt WHERE n_chars < $ShortDocChars")
      ss.sql(s"""MERGE INTO $bt t
                 USING (SELECT doc_id, lang, source, n_chars FROM documents_src_wap
                        WHERE doc_id % 10 >= 5) s
                 ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
                 WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars)
                   VALUES (s.doc_id, s.lang, s.source, s.n_chars)""")
      // AUDIT: the gate that makes WAP worth the ceremony — staged
      // content is non-empty, main is UNTOUCHED by the staging, and the
      // reviewable artifact ("what will this publish change?") is the
      // branch chain's change feed from the fork, materialized here
      // while the branch is alive (it is dropped by the publish)
      val stagedCount = ss.sql(s"SELECT count(*) FROM $bt").head().getLong(0)
      val mainCount = ss.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      require(stagedCount > 0, "WAP audit failed: staged branch is empty")
      require(mainCount == forkCount,
        s"WAP audit failed: main moved during staging ($forkCount -> $mainCount)")
      graft.catalog.ChangeFeed
        .tableChanges(ss, bt, fromVersion = 2, toVersion = 3, keyCols = Seq("doc_id"))
        .write.mode("overwrite").parquet(wapDiffPath(dir))
      // PUBLISH: atomic fast-forward
      ss.sql(s"CALL $cat.system.publish_branch(table => 'main.docs_wap', branch => 'audit')")
    }
    (catalogSession(spark, dir), t)
  }

  /** X-SQLj — clustered-table DDL: `PARTITIONED BY (doc_id)` declares a
    * clustered layout (identity transforms = cluster columns, NOT hive
    * value-directories), and the WRITE PATH enforces it — the DSv2 Write
    * declares RequiresDistributionAndOrdering, so Catalyst range-
    * partitions + sorts even a deliberately scattered INSERT (the
    * REPARTITION hint here round-robins the input first). Files land
    * with tight, non-overlapping doc_id ranges, so the very first scan
    * prunes at partition strength with NO maintenance call — the DDL
    * twin of `q_sql_cluster`'s after-the-fact OPTIMIZE rewrite. The
    * window aggregate is oracle-checked; the recorder flags pin a strict
    * subset. */
  def sqlPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensurePartTable(spark, dir)
    val (mn, mx) = docIdBounds(ss, dir)
    val lo = mn + (mx - mn) / 2
    val hi = lo + (mx - mn) / 8
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs,
                 sum(n_chars) AS sum_chars,
                 count(DISTINCT lang) AS n_langs
          FROM $t WHERE doc_id BETWEEN $lo AND $hi""").head()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse((Int.MaxValue, Int.MaxValue))
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
      kept < total, kept >= 1))
      .toDF("n_docs", "sum_chars", "n_langs", "skipped_some", "kept_some")
  }

  /** The declared-clustering table: ONE scattered INSERT, no compact —
    * the layout comes entirely from the write-path distribution. AQE
    * partition coalescing is disabled only while BUILDING this fixture:
    * at test scale it would fold the tiny range shuffle into one file
    * (one file = nothing to skip); at real scale the data volume keeps
    * the range shuffle wide on its own. */
  private[graft] def ensurePartTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_decl"
    fixture(spark, dir, "decl") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_decl")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (doc_id)")
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ doc_id, lang, n_chars " +
        "FROM documents_src_decl")
    }
    (catalogSession(spark, dir), t)
  }

  /** X-SQLl — TIME-TRANSFORM clustering (`PARTITIONED BY (days(ts))`,
    * Iceberg's hidden partitioning): the events table ingested once,
    * scattered, into a days(ts)-clustered table — the write path range-
    * clusters on the DERIVED day (the catalog's FunctionCatalog side
    * resolves the transform), so each file covers a contiguous day range
    * and a month-window `WHERE ts >= … AND ts < …` predicate prunes
    * through the ordinary ts footer stats: no derived column in the
    * schema, no hive day-directories (86k files/table/year at 100 TB),
    * and consumers never have to know the partitioning exists. Window
    * bounds derive from min/max by the SAME day arithmetic the oracle's
    * scalar subqueries use. */
  def sqlDaysTable(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureDaysTable(spark, dir)
    val (loD, hiD) = daysWindow(ss, dir)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_events, sum(event_id) AS sum_event_id,
                 count(DISTINCT user_id) AS n_users
          FROM $t WHERE ts >= TIMESTAMP'${fmtDay(loD)}' AND ts < TIMESTAMP'${fmtDay(hiD)}'""")
      .head()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse((Int.MaxValue, Int.MaxValue))
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
      kept < total, kept >= 1))
      .toDF("n_events", "sum_event_id", "n_users", "skipped_some", "kept_some")
  }

  /** The shared window formula: a ~(span/8)-day window starting a quarter
    * into the observed day range, in whole days since epoch. */
  private def daysWindow(ss: SparkSession, dir: String): (Long, Long) = {
    val Array(b) = Tables.events(ss, dir).agg(
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("ts"))),
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("ts")))).collect()
    val day = 86400000000L
    val (mnd, mxd) = (Math.floorDiv(b.getLong(0), day), Math.floorDiv(b.getLong(1), day))
    val loD = mnd + (mxd - mnd) / 4
    (loD, loD + (mxd - mnd) / 8 + 1)
  }

  /** UTC midnight of day-number `d`, as a TZ-less literal both engines
    * parse identically (the session is pinned UTC). */
  private def fmtDay(d: Long): String =
    java.time.Instant.ofEpochSecond(d * 86400).toString.replace("T", " ").stripSuffix("Z")

  /** Micros-since-epoch as a full-precision TZ-less timestamp literal. */
  private def fmtMicros(us: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** The days(ts)-clustered events table: ONE scattered INSERT, layout
    * entirely from the write-path transform distribution (AQE coalescing
    * disabled while building, same rationale as [[ensurePartTable]]). */
  private[graft] def ensureDaysTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.events_days"
    fixture(spark, dir, "days") { ss =>
      Tables.events(ss, dir).createOrReplaceTempView("events_src_days")
      ss.sql(s"CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "value DOUBLE) PARTITIONED BY (days(ts))")
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ event_id, ts, user_id, value " +
        "FROM events_src_days")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlDaysTableOracleSql: String =
    """WITH b AS (SELECT epoch_us(min(ts)) // 86400000000 AS mnd,
                         epoch_us(max(ts)) // 86400000000 AS mxd FROM events),
            w AS (SELECT (mnd + (mxd - mnd) // 4) * 86400000000 AS lo,
                         (mnd + (mxd - mnd) // 4 + (mxd - mnd) // 8 + 1) * 86400000000 AS hi
                  FROM b)
       SELECT count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS sum_event_id,
              count(DISTINCT user_id) AS n_users,
              true AS skipped_some, true AS kept_some
       FROM events, w WHERE epoch_us(ts) >= w.lo AND epoch_us(ts) < w.hi"""

  /** X-SQLm — FILE-GRANULAR copy-on-write (VERDICT r12 #1): on a
    * clustered table, a targeted UPDATE and a one-row takedown DELETE
    * each rewrite a STRICT SUBSET of the manifest — the row-level scan
    * prunes the file list with the verb's condition against footer stats
    * and the commit inherits every pruned file, so rewrite cost tracks
    * the files the condition can touch, never the table (a takedown
    * DELETE at 100 TB rewrites one file, not the corpus). The final
    * content is oracle-checked relationally; the subset/inheritance
    * flags read the manifest diffs ([[graft.catalog.Manifests]]) the
    * same way `q_sql_skipping` reads the scan recorder. */
  def sqlCowSubset(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureCowTable(spark, dir)
    val agg = ss.sql(s"SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars FROM $t").head()
    // v0 create, v1 insert, v2 targeted UPDATE, v3 one-row DELETE
    val (updPrev, updRemoved, _, updInherited) =
      graft.catalog.Manifests.commitFileDiff(ss, t, 2)
    val (delPrev, delRemoved, _, delInherited) =
      graft.catalog.Manifests.commitFileDiff(ss, t, 3)
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1),
      updRemoved >= 1 && updRemoved < updPrev && updInherited >= 1,
      delRemoved >= 1 && delRemoved < delPrev && delInherited >= 1,
      delRemoved <= updRemoved))
      .toDF("n_docs", "sum_chars", "update_rewrote_subset", "delete_rewrote_subset",
        "delete_no_wider_than_update")
  }

  /** The COW-subset fixture: documents into a doc_id-clustered table
    * (one scattered INSERT, write-path layout), then the two targeted
    * verbs. Window = the sqlSkipping quartile formula; the DELETE
    * removes the corpus MIN doc_id — outside the update window, so the
    * two verbs touch different file ranges. */
  private[graft] def ensureCowTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_cow"
    fixture(spark, dir, "cow") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_cow")
      val (mn, mx) = docIdBounds(ss, dir)
      val lo = mn + (mx - mn) / 4
      val hi = lo + (mx - mn) / 8
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT) PARTITIONED BY (doc_id)")
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ doc_id, n_chars " +
        "FROM documents_src_cow")
      ss.sql(s"UPDATE $t SET n_chars = n_chars + 1 WHERE doc_id BETWEEN $lo AND $hi")
      ss.sql(s"DELETE FROM $t WHERE doc_id = $mn")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlCowSubsetOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            w AS (SELECT mn, mn + (mx - mn) // 4 AS lo,
                         mn + (mx - mn) // 4 + (mx - mn) // 8 AS hi FROM b),
            v AS (SELECT doc_id,
                         CASE WHEN doc_id BETWEEN w.lo AND w.hi THEN n_chars + 1
                              ELSE n_chars END AS n_chars
                  FROM documents, w WHERE doc_id <> w.mn)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              true AS update_rewrote_subset, true AS delete_rewrote_subset,
              true AS delete_no_wider_than_update
       FROM v"""

  /** X-SQLn — `CALL system.history` (DESCRIBE HISTORY): the verb chain's
    * commit log — version/op/data_change/n_rows per retained commit,
    * oldest first. The op sequence and per-version row counts are fully
    * determined by the chain's semantics (n_files is write-parallelism-
    * dependent and deliberately NOT in the output), so a DuckDB oracle
    * derives the same log relationally. The audit answer an operator
    * actually needs — "what happened to this table, and how many rows
    * did each version hold?" — from one manifest read, no data IO. */
  def sqlHistory(spark: SparkSession, dir: String): DataFrame = {
    val (ss, _) = ensureVerbChain(spark, dir)
    val cat = catName(dir)
    ss.sql(s"CALL $cat.system.history(table => 'main.docs')")
      .selectExpr("version", "op", "data_change", "n_rows")
  }

  def sqlHistoryOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT * FROM (
          SELECT 0 AS version, 'create' AS op, true AS data_change,
                 CAST(0 AS BIGINT) AS n_rows
          UNION ALL SELECT 1, 'append', true, (SELECT count(*) FROM v1)
          UNION ALL SELECT 2, 'replace', true, (SELECT count(*) FROM v2)
          UNION ALL SELECT 3, 'replace', true, (SELECT count(*) FROM v3)
          UNION ALL SELECT 4, 'replace', true, (SELECT count(*) FROM v4))
        ORDER BY version"""

  /** X-SQLo — `TRUNCATE TABLE`: a metadata-only replace commit (empty
    * file list; no data files move). The metrics pin the three contracts
    * that make it safe at 100 TB: emptiness after, the pre-truncate
    * version still readable (accidental truncate = one RESTORE away),
    * and writes continuing normally on the truncated table. */
  def sqlTruncate(spark: SparkSession, dir: String): DataFrame = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_trunc"
    fixture(spark, dir, "trunc") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_trunc")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_trunc WHERE doc_id % 10 < 8")
      ss.sql(s"TRUNCATE TABLE $t")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_trunc WHERE doc_id % 10 >= 8")
    }
    val ss = catalogSession(spark, dir)
    def rows(q: String): Long = ss.sql(q).head().getLong(0)
    import ss.implicits._
    Seq(
      ("pre_truncate_rows", rows(s"SELECT count(*) FROM $t VERSION AS OF 1")),
      ("post_truncate_rows", rows(s"SELECT count(*) FROM $t VERSION AS OF 2")),
      ("refilled_rows", rows(s"SELECT count(*) FROM $t")))
      .toDF("metric", "value")
  }

  def sqlTruncateOracleSql: String =
    """WITH c1 AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 < 8),
            c2 AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 >= 8)
       SELECT * FROM (
         SELECT 'pre_truncate_rows' AS metric, (SELECT n FROM c1) AS value
         UNION ALL SELECT 'post_truncate_rows', CAST(0 AS BIGINT)
         UNION ALL SELECT 'refilled_rows', (SELECT n FROM c2))
       ORDER BY metric"""

  /** X-SQLq — METADATA-ONLY DELETE (`SupportsDeleteV2`, Iceberg's
    * metadata delete): when footer stats PROVE every file is either
    * all-match (drop whole) or no-match (inherit), `DELETE FROM` commits
    * one manifest swap and writes NOTHING — the retention shape
    * (`DELETE … WHERE ts < cutoff` on a time-clustered table) that at
    * 100 TB must not cost even a file-granular rewrite. The fixture
    * makes alignment structural, not layout-lucky: two INSERTs split the
    * corpus at the quartile Q1, so every v1 file is provably below Q1
    * whatever the write parallelism did, and `DELETE WHERE doc_id < Q1`
    * drops exactly v1's files (manifest diff: removed ≥ 1, ADDED = 0).
    * The second DELETE (`doc_id % 7 = 3`) is unprovable from stats by
    * construction, so it pins the FALLBACK: the verb silently runs as an
    * ordinary COW rewrite (added ≥ 1) — slower, never wrong. Content
    * after both verbs is fully relational, so the oracle replays it. */
  def sqlMetadataDelete(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureMetaDeleteTable(spark, dir)
    val agg = ss.sql(s"SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars FROM $t").head()
    // v0 create, v1 insert (< Q1), v2 insert (>= Q1), v3 metadata DELETE,
    // v4 fallback COW DELETE
    val (_, d3removed, d3added, d3inherited) =
      graft.catalog.Manifests.commitFileDiff(ss, t, 3)
    val (_, _, d4added, _) =
      graft.catalog.Manifests.commitFileDiff(ss, t, 4)
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1),
      d3added == 0 && d3removed >= 1 && d3inherited >= 1,
      d4added >= 1))
      .toDF("n_docs", "sum_chars", "delete_was_metadata_only", "fallback_rewrote")
  }

  /** The metadata-delete fixture: the corpus split into two INSERTs at
    * the quartile, then the provable DELETE and the unprovable one. */
  private[graft] def ensureMetaDeleteTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_mdel"
    fixture(spark, dir, "mdel") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_mdel")
      val (mn, mx) = docIdBounds(ss, dir)
      val q1 = mn + (mx - mn) / 4
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_mdel WHERE doc_id < $q1")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_mdel WHERE doc_id >= $q1")
      ss.sql(s"DELETE FROM $t WHERE doc_id < $q1")
      ss.sql(s"DELETE FROM $t WHERE doc_id % 7 = 3")
    }
    (catalogSession(spark, dir), t)
  }

  /** X-SQLr — MERGE-ON-READ row-level verbs (`TBLPROPERTIES
    * ('write.row_level.mode'='merge-on-read')`, Delta's deletion
    * vectors / Iceberg v2 position deletes): the SAME verb chain the
    * copy-on-write table runs (UPDATE short-doc langs, takedown DELETE,
    * re-ingest MERGE), committed as per-row deltas — tombstone blobs +
    * appended inserts, ZERO data files rewritten (pinned per commit via
    * the manifest diff), with the tombstone count visible in the
    * manifest. Content converges to the identical relational result, so
    * the oracle is the same CTE replay as `q_sql_merge` — the mode is a
    * write-amplification knob, never a semantics one. The row that
    * matters at 100 TB: the takedown DELETE writes a few-KB blob where
    * COW rewrites file(s) and where even file-granular COW pays a full
    * file rewrite. */
  def sqlMor(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureMorChain(spark, dir)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars,
                 count(DISTINCT lang) AS n_langs FROM $t""").head()
    // v0 create, v1 insert, v2 MOR UPDATE, v3 MOR DELETE, v4 MOR MERGE
    val removedAcross = (2 to 4).map(v =>
      graft.catalog.Manifests.commitFileDiff(ss, t, v)._2).sum
    val tombstones = graft.catalog.Manifests.dvInfo(ss, t, 4).values.map(_._2).sum
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
      removedAcross == 0, tombstones >= 1L))
      .toDF("n_docs", "sum_chars", "n_langs", "no_files_rewritten", "wrote_tombstones")
  }

  /** The MOR twin of [[ensureVerbChain]]: same corpus, same verbs, same
    * expected content — only the commit mechanics differ. */
  private[graft] def ensureMorChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_mor"
    fixture(spark, dir, "mor") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_mor")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT) " +
        "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
      ss.sql(s"""INSERT INTO $t
                 SELECT doc_id, lang, source, n_chars FROM documents_src_mor
                 WHERE doc_id % 10 < 8""")
      ss.sql(s"UPDATE $t SET lang = 'und' WHERE n_chars < $ShortDocChars")
      ss.sql(s"DELETE FROM $t WHERE doc_id % $TakedownMod = 0")
      ss.sql(s"""MERGE INTO $t t
                 USING (SELECT doc_id, lang, source, n_chars FROM documents_src_mor
                        WHERE doc_id % 10 >= 5) s
                 ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
                 WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars)
                   VALUES (s.doc_id, s.lang, s.source, s.n_chars)""")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlMorOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               count(DISTINCT lang) AS n_langs,
               true AS no_files_rewritten, true AS wrote_tombstones
        FROM v4"""

  /** X-SQLs — parquet-native BLOOM FILTERS (`TBLPROPERTIES
    * ('write.bloom.columns'='doc_id')`, Delta's bloom filter index /
    * parquet's own column bloom): every data file the table writes
    * carries a per-row-group bloom on the declared columns, and the
    * parquet reader consults it on pushed EQUALITY predicates — row
    * groups provably missing the value are skipped without decoding a
    * page. The point-lookup complement to min/max skipping: on this
    * deliberately SCATTERED table (round-robin insert, every file spans
    * the id range) footer bounds prune nothing, and a takedown-by-id
    * `WHERE doc_id = X` would otherwise decode every row group of every
    * file. The verdict column pins presence structurally (every live
    * file's footer carries the bloom — absence would silently degrade
    * to full decode, the fast-path-quietly-off failure); correctness of
    * the lookup itself is relational. */
  def sqlBloom(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureBloomTable(spark, dir)
    val (mn, mx) = docIdBounds(ss, dir)
    val mid = mn + (mx - mn) / 2
    val target = ss.sql(
      s"SELECT max(doc_id) FROM documents_src_bloom WHERE doc_id <= $mid").head().getLong(0)
    val hit = ss.sql(s"SELECT doc_id, n_chars FROM $t WHERE doc_id = $target").head()
    import ss.implicits._
    Seq((hit.getLong(0), hit.getLong(1),
      graft.catalog.Manifests.allFilesHaveBloom(ss, t, "doc_id"),
      !graft.catalog.Manifests.allFilesHaveBloom(ss, t, "n_chars")))
      .toDF("doc_id", "n_chars", "bloom_on_doc_id", "no_bloom_on_undeclared")
  }

  /** The bloom fixture: documents scattered round-robin (worst case for
    * min/max pruning), blooms declared on doc_id only. */
  private[graft] def ensureBloomTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_bloom"
    fixture(spark, dir, "bloom") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_bloom")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT) " +
        "TBLPROPERTIES ('write.bloom.columns'='doc_id')")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(4) */ doc_id, n_chars " +
        "FROM documents_src_bloom")
    }
    val ss = catalogSession(spark, dir)
    Tables.documents(ss, dir).createOrReplaceTempView("documents_src_bloom")
    (ss, t)
  }

  def sqlBloomOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            t AS (SELECT max(doc_id) AS target FROM documents, b
                  WHERE doc_id <= b.mn + (b.mx - b.mn) // 2)
       SELECT d.doc_id, d.n_chars,
              true AS bloom_on_doc_id, true AS no_bloom_on_undeclared
       FROM documents d, t WHERE d.doc_id = t.target"""

  /** X-SQLt — Z-ORDER OPTIMIZE (`CALL system.compact(…, zorder_by =>
    * 'user_id,ts')`, Delta's OPTIMIZE ZORDER BY): the multi-dimensional
    * clustering rewrite. A linear `sort_by` layout prunes its leading
    * column perfectly and the others not at all; the Morton layout gives
    * every output file a compact z-square, so the manifest's footer
    * min/max stay tight on BOTH dimensions and [[graft.catalog.SkipEval]]
    * prunes the FILE LIST for a selective window on EITHER — pinned here
    * by running a user-band probe AND a time-band probe against the same
    * rewritten table and requiring each to scan a strict subset
    * (SkipRecorder, the `q_sql_skipping` idiom). Bucketing is by rank
    * (approximate percentiles), so a skewed dimension still spreads
    * across the curve. Both window aggregates are relational, so the
    * oracle replays them; the layout must be lossless by construction
    * (`dataChange = false` — streams skip the rewrite). */
  def sqlZorder(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureZorderTable(spark, dir)
    val Array(ub) = Tables.events(ss, dir).agg(
      org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("user_id")),
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("user_id")),
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("ts"))),
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("ts")))).collect()
    val (umn, umx) = (ub.getLong(0), ub.getLong(1))
    val (uLo, uHi) = (umn + (umx - umn) / 4, umn + (umx - umn) / 4 + (umx - umn) / 8)
    val (tmn, tmx) = (ub.getLong(2), ub.getLong(3))
    val (tLo, tHi) = (tmn + (tmx - tmn) / 4, tmn + (tmx - tmn) / 4 + (tmx - tmn) / 8)
    val uAgg = ss.sql(s"SELECT count(*), sum(event_id) FROM $t " +
      s"WHERE user_id BETWEEN $uLo AND $uHi").head()
    val (uKept, uTotal) = graft.catalog.SkipRecorder.lastFor(t).getOrElse((Int.MaxValue, 0))
    // the probe must push a RAW ts comparison (a function like
    // unix_micros(ts) is unboundable by footer stats); the literal is
    // the exact micros the oracle windows on, session pinned UTC
    val tAgg = ss.sql(s"SELECT count(*), sum(event_id) FROM $t " +
      s"WHERE ts >= TIMESTAMP'${fmtMicros(tLo)}' AND ts < TIMESTAMP'${fmtMicros(tHi)}'").head()
    val (tKept, tTotal) = graft.catalog.SkipRecorder.lastFor(t).getOrElse((Int.MaxValue, 0))
    import ss.implicits._
    Seq((uAgg.getLong(0), uAgg.getLong(1), tAgg.getLong(0), tAgg.getLong(1),
      uKept >= 1 && uKept < uTotal, tKept >= 1 && tKept < tTotal))
      .toDF("n_user_window", "sum_ev_user", "n_ts_window", "sum_ev_ts",
        "user_dim_skips", "ts_dim_skips")
  }

  /** The z-order fixture: events scattered round-robin (no dimension
    * clustered), then ONE z-order OPTIMIZE over (user_id, ts). */
  private[graft] def ensureZorderTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.events_zorder"
    fixture(spark, dir, "zorder") { ss =>
      Tables.events(ss, dir).createOrReplaceTempView("events_src_zorder")
      ss.sql(s"CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE)")
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ event_id, ts, user_id, value " +
        "FROM events_src_zorder")
      ss.sql(s"CALL $cat.system.compact(table => 'main.events_zorder', " +
        "target_files => 32, zorder_by => 'user_id,ts')")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlZorderOracleSql: String =
    """WITH ub AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
                          epoch_us(min(ts)) AS tmn, epoch_us(max(ts)) AS tmx
                   FROM events),
            w AS (SELECT umn + (umx - umn) // 4 AS ulo,
                         umn + (umx - umn) // 4 + (umx - umn) // 8 AS uhi,
                         tmn + (tmx - tmn) // 4 AS tlo,
                         tmn + (tmx - tmn) // 4 + (tmx - tmn) // 8 AS thi
                  FROM ub)
       SELECT (SELECT count(*) FROM events, w WHERE user_id BETWEEN w.ulo AND w.uhi) AS n_user_window,
              (SELECT CAST(sum(event_id) AS BIGINT) FROM events, w
               WHERE user_id BETWEEN w.ulo AND w.uhi) AS sum_ev_user,
              (SELECT count(*) FROM events, w
               WHERE epoch_us(ts) >= w.tlo AND epoch_us(ts) < w.thi) AS n_ts_window,
              (SELECT CAST(sum(event_id) AS BIGINT) FROM events, w
               WHERE epoch_us(ts) >= w.tlo AND epoch_us(ts) < w.thi) AS sum_ev_ts,
              true AS user_dim_skips, true AS ts_dim_skips"""

  /** X-SQLu — SNAPSHOT TAGS (`CALL system.tag`, Iceberg tags): the
    * reproducibility pin a training pipeline needs. The corpus is
    * tagged `baseline` right after ingest, later verbs mutate the live
    * table, and a rolling `expire_versions(keep_last => 2)` retires
    * everything older — EXCEPT the tagged version, which expire treats
    * as retention-pinned. `VERSION AS OF 'baseline'` then still reads
    * the exact ingest snapshot (relationally oracle-checked), which is
    * the whole point: the corpus snapshot a published model was trained
    * on can never be silently vacuumed. */
  def sqlTag(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureTagTable(spark, dir)
    val agg = ss.sql(
      s"""SELECT count(*) AS n, sum(n_chars) AS s FROM $t VERSION AS OF 'baseline'""").head()
    // v0 create (expired), v1 insert (tagged, pinned), v2 update, v3 delete
    val retained = graft.catalog.Manifests.latestVersion(ss, t)
    val v0Gone =
      try { ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 0").collect(); false }
      catch { case _: Exception => true }
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), retained == 3, v0Gone))
      .toDF("n_docs_at_tag", "sum_chars_at_tag", "live_chain_intact", "untagged_expired")
  }

  private[graft] def ensureTagTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_tag"
    fixture(spark, dir, "tag") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_tag")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_tag WHERE doc_id % 10 < 8")
      ss.sql(s"CALL $cat.system.tag(table => 'main.docs_tag', tag => 'baseline')")
      ss.sql(s"UPDATE $t SET n_chars = n_chars + 1 WHERE doc_id % 3 = 0")
      ss.sql(s"DELETE FROM $t WHERE doc_id % 5 = 0")
      ss.sql(s"CALL $cat.system.expire_versions(table => 'main.docs_tag', keep_last => 2)")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlTagOracleSql: String =
    """SELECT count(*) AS n_docs_at_tag, CAST(sum(n_chars) AS BIGINT) AS sum_chars_at_tag,
              true AS live_chain_intact, true AS untagged_expired
       FROM documents WHERE doc_id % 10 < 8"""

  /** X-SQLv — CLUSTERING EVOLUTION (`CALL system.set_clustering`,
    * Iceberg's partition-spec evolution): change a table's clustering
    * WITHOUT rewriting a byte. The events table starts unclustered
    * (scattered ingest — a month-window probe scans every file, pinned),
    * evolution declares `days(ts)` hidden partitioning, and the next
    * ingest range-clusters on the derived day — the same probe then
    * scans a strict subset. Possible precisely because the layout is a
    * write-path contract + stats-based skipping, not directory paths:
    * at 100 TB, re-deciding a table's clustering costs one metadata
    * call, with old files pruning however well their old layout allows
    * until OPTIMIZE rewrites them on the new keys. */
  def sqlEvolve(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureEvolveTable(spark, dir)
    val (loD, hiD) = daysWindow(ss, dir)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_events, sum(event_id) AS sum_event_id
          FROM $t WHERE ts >= TIMESTAMP'${fmtDay(loD)}' AND ts < TIMESTAMP'${fmtDay(hiD)}'""")
      .head()
    val (keptPost, totalPost) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse((Int.MaxValue, 0))
    val (keptPre, totalPre) = evolveProbes.getOrDefault(catName(dir), (0, Int.MaxValue))
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1),
      keptPre == totalPre && totalPre >= 2, // scattered: window prunes nothing
      keptPost >= 1 && keptPost < totalPost)) // evolved layout: strict subset
      .toDF("n_events", "sum_event_id", "scattered_unprunable", "evolved_skips")
  }

  private val evolveProbes = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** The evolution fixture: scattered ingest + pre-probe, THEN
    * set_clustering(days(ts)) and a re-ingest under the new contract. */
  private[graft] def ensureEvolveTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.events_evolve"
    fixture(spark, dir, "evolve") { ss =>
      Tables.events(ss, dir).createOrReplaceTempView("events_src_evolve")
      ss.sql(s"CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE)")
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ event_id, ts, user_id, value " +
        "FROM events_src_evolve")
      val (loD, hiD) = daysWindow(ss, dir)
      ss.sql(s"SELECT count(*) FROM $t WHERE ts >= TIMESTAMP'${fmtDay(loD)}' " +
        s"AND ts < TIMESTAMP'${fmtDay(hiD)}'").collect()
      evolveProbes.put(cat, graft.catalog.SkipRecorder.lastFor(t).getOrElse((0, 0)))
      ss.sql(s"CALL $cat.system.set_clustering(table => 'main.events_evolve', " +
        "cluster_by => 'days(ts)')")
      ss.sql(s"INSERT OVERWRITE $t SELECT /*+ REPARTITION(8) */ event_id, ts, user_id, value " +
        "FROM events_src_evolve")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlEvolveOracleSql: String =
    """WITH b AS (SELECT epoch_us(min(ts)) // 86400000000 AS mnd,
                         epoch_us(max(ts)) // 86400000000 AS mxd FROM events),
            w AS (SELECT (mnd + (mxd - mnd) // 4) * 86400000000 AS lo,
                         (mnd + (mxd - mnd) // 4 + (mxd - mnd) // 8 + 1) * 86400000000 AS hi
                  FROM b)
       SELECT count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS sum_event_id,
              true AS scattered_unprunable, true AS evolved_skips
       FROM events, w WHERE epoch_us(ts) >= w.lo AND epoch_us(ts) < w.hi"""

  def sqlMetadataDeleteOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            w AS (SELECT mn + (mx - mn) // 4 AS q1 FROM b),
            v AS (SELECT doc_id, n_chars FROM documents, w
                  WHERE doc_id >= w.q1 AND doc_id % 7 <> 3)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              true AS delete_was_metadata_only, true AS fallback_rewrote
       FROM v"""

  def sqlPartitionedOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            w AS (SELECT mn + (mx - mn) // 2 AS lo,
                         mn + (mx - mn) // 2 + (mx - mn) // 8 AS hi FROM b)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(DISTINCT lang) AS n_langs,
              true AS skipped_some, true AS kept_some
       FROM documents, w WHERE doc_id BETWEEN w.lo AND w.hi"""

  /** X-SQLk — RESTORE as a new commit: a bad deploy (INSERT OVERWRITE
    * with the wrong slice) is rolled back by `CALL system.restore`,
    * which re-references v1's immutable files under a NEW version —
    * history is preserved (the bad v2 stays time-travelable for
    * forensics) and the rollback is itself a versioned event. The
    * metric rows pin all four: pre-deploy content, bad content, restored
    * content, and that v2 is still addressable after the rollback. */
  def sqlRestore(spark: SparkSession, dir: String): DataFrame = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_res"
    fixture(spark, dir, "restore") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_res")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM documents_src_res WHERE doc_id % 10 < 8")
      // the bad deploy: overwrites the corpus with the wrong slice
      ss.sql(s"INSERT OVERWRITE $t SELECT doc_id, n_chars FROM documents_src_res WHERE doc_id % 10 >= 8")
      ss.sql(s"CALL $cat.system.restore(table => 'main.docs_res', version => 1)")
    }
    val ss = catalogSession(spark, dir)
    def rows(q: String): Long = ss.sql(q).head().getLong(0)
    import ss.implicits._
    Seq(
      ("v1_rows", rows(s"SELECT count(*) FROM $t VERSION AS OF 1")),
      ("bad_v2_rows", rows(s"SELECT count(*) FROM $t VERSION AS OF 2")),
      ("restored_rows", rows(s"SELECT count(*) FROM $t")),
      ("v2_still_travelable", rows(s"SELECT count(*) FROM $t VERSION AS OF 2")))
      .toDF("metric", "value")
  }

  def sqlRestoreOracleSql: String =
    """WITH c1 AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 < 8),
            c2 AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 >= 8)
       SELECT * FROM (
         SELECT 'v1_rows' AS metric, (SELECT n FROM c1) AS value
         UNION ALL SELECT 'bad_v2_rows', (SELECT n FROM c2)
         UNION ALL SELECT 'restored_rows', (SELECT n FROM c1)
         UNION ALL SELECT 'v2_still_travelable', (SELECT n FROM c2))
       ORDER BY metric"""

  private def wapDiffPath(dir: String): String =
    Artifacts.root.resolve(s"${catName(dir)}-wapdiff").toString

  /** X-SQLh — the published table, row for row: every branch decision
    * (takedown, matched re-crawl bump, novel insert, re-insert of a
    * taken-down short doc that the re-crawl brought back) must show in
    * main after the fast-forward. */
  def sqlWap(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureWapChain(spark, dir)
    ss.sql(s"SELECT doc_id, lang, source, n_chars FROM $t")
  }

  /** X-SQLi — the WAP audit artifact: the branch chain's change feed
    * from the fork ([[graft.catalog.ChangeFeed]] over the
    * `branch_audit` suffix), materialized by the audit step before the
    * publish dropped the branch. This is the reviewable "what will this
    * publish change?" report — takedown deletes at the branch's v2,
    * matched re-crawl bumps as update pairs and novel docs as inserts at
    * v3 — pinned against a relational derivation of the staged verbs. */
  def sqlWapDiff(spark: SparkSession, dir: String): DataFrame = {
    val (ss, _) = ensureWapChain(spark, dir)
    ss.read.parquet(wapDiffPath(dir))
  }

  def sqlWapDiffOracleSql: String =
    s"""WITH v1 AS (SELECT doc_id, lang, source, n_chars FROM documents
                    WHERE doc_id % 10 < 8),
            d AS (SELECT * FROM v1 WHERE n_chars >= $ShortDocChars),
            src AS (SELECT doc_id, lang, source, n_chars FROM documents
                    WHERE doc_id % 10 >= 5)
        SELECT * FROM (
          SELECT doc_id, lang, source, n_chars,
                 'delete' AS _change_type, 2 AS _commit_version FROM v1
          WHERE n_chars < $ShortDocChars
          UNION ALL
          SELECT t.doc_id, t.lang, t.source, t.n_chars, 'update_preimage', 3
          FROM d t WHERE t.doc_id IN (SELECT doc_id FROM src)
          UNION ALL
          SELECT t.doc_id, t.lang, t.source, s.n_chars + 1, 'update_postimage', 3
          FROM d t JOIN src s USING (doc_id)
          UNION ALL
          SELECT s.doc_id, s.lang, s.source, s.n_chars, 'insert', 3
          FROM src s WHERE s.doc_id NOT IN (SELECT doc_id FROM d))
        ORDER BY _commit_version, _change_type, doc_id"""

  def sqlWapOracleSql: String =
    s"""WITH v1 AS (SELECT doc_id, lang, source, n_chars FROM documents
                    WHERE doc_id % 10 < 8),
            d AS (SELECT * FROM v1 WHERE n_chars >= $ShortDocChars),
            src AS (SELECT doc_id, lang, source, n_chars FROM documents
                    WHERE doc_id % 10 >= 5)
        SELECT * FROM (
          SELECT t.doc_id, t.lang, t.source, s.n_chars + 1 AS n_chars
          FROM d t JOIN src s USING (doc_id)
          UNION ALL
          SELECT t.* FROM d t ANTI JOIN src s USING (doc_id)
          UNION ALL
          SELECT s.doc_id, s.lang, s.source, s.n_chars
          FROM src s ANTI JOIN d t USING (doc_id))
        ORDER BY doc_id"""

  def sqlTimeTravelOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT * FROM (
          SELECT 1 AS version, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 count(DISTINCT lang) AS n_langs FROM v1
          UNION ALL
          SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT), count(DISTINCT lang) FROM v2
          UNION ALL
          SELECT 3, count(*), CAST(sum(n_chars) AS BIGINT), count(DISTINCT lang) FROM v3
          UNION ALL
          SELECT 4, count(*), CAST(sum(n_chars) AS BIGINT), count(DISTINCT lang) FROM v4)
        ORDER BY version"""

  /** X-SQLv — incrementally-maintained MATERIALIZED VIEW (`CALL
    * system.create_mv` / `refresh_mv`): per-lang aggregates over the
    * standard verb-chain churn, maintained by AFFECTED-KEY recompute off
    * the change feed ([[graft.catalog.Mv]]) — refresh cost ∝ churn, never
    * table size, and sound for non-invertible aggregates (max) because
    * nothing is delta-adjusted. The chain replays the canonical
    * v1-insert / v2-update / v3-delete / v4-merge story, refreshes, then
    * lands a TARGETED v5 (one lang's even doc_ids) and refreshes again —
    * the second refresh's `changed_keys` pins that the feed narrowed the
    * work to exactly the touched group, and both `mode` columns pin that
    * neither refresh fell back to a full recompute. Content correctness
    * is fully relational: the oracle replays all five versions and
    * aggregates v5. */
  def sqlMv(spark: SparkSession, dir: String): DataFrame = {
    val (ss, mv) = ensureMvChain(spark, dir)
    val (mode1, mode2, changed2) = mvRefreshInfo.get(catName(dir))
    val agg = ss.sql(s"SELECT lang, n_docs, sum_chars, max_chars FROM $mv")
    import org.apache.spark.sql.functions.lit
    agg.withColumn("first_refresh_mode", lit(mode1))
      .withColumn("second_refresh_mode", lit(mode2))
      .withColumn("second_changed_keys", lit(changed2))
  }

  /** X-SQLu — the WHERE-filtered MV twin: same source and churn as
    * `q_sql_mv`, definition filtered to long docs. Both refreshes must
    * stay incremental, and the second one's +10 bump moves
    * near-threshold docs of the touched lang INTO the filter set — the
    * oracle replays the chain relationally and applies the filter to the
    * FINAL values, so enter/leave accounting has nowhere to hide. */
  def sqlMvWhere(spark: SparkSession, dir: String): DataFrame = {
    val (ss, _) = ensureMvChain(spark, dir)
    val (mode1, mode2, _) = mvRefreshInfo.get(s"${catName(dir)}#w")
    val agg = ss.sql(s"SELECT lang, n_docs, sum_chars FROM ${catName(dir)}.main.docs_mvw")
    import org.apache.spark.sql.functions.lit
    agg.withColumn("first_refresh_mode", lit(mode1))
      .withColumn("second_refresh_mode", lit(mode2))
  }

  def sqlMvWhereOracleSql: String =
    s"""WITH $oracleChainCtes,
        v5 AS (SELECT doc_id, lang, source,
                      CASE WHEN lang = (SELECT min(lang) FROM v4) AND doc_id % 2 = 0
                           THEN n_chars + 10 ELSE n_chars END AS n_chars
               FROM v4)
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               'incremental' AS first_refresh_mode,
               'incremental' AS second_refresh_mode
        FROM v5 WHERE n_chars >= $ShortDocChars GROUP BY lang"""

  private val mvRefreshInfo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, Long)]()

  /** Per-leg wall-clock of the MV chain build, keyed by catalog — Bench
    * reports each as a `sql_mv_chain:<leg>` store row so fixture-cost
    * growth names its leg in the artifact (VERDICT r14 #7). */
  private val mvPhases =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()

  private[graft] def mvPhaseTimings(dir: String): Seq[(String, Double)] =
    Option(mvPhases.get(catName(dir))).getOrElse(Nil)

  /** The MV fixture: source table clustered by the MV's group key (so
    * the affected-key recompute scan PRUNES — MvSpec pins that with the
    * recorder; here the bench chain just exercises the path end-to-end),
    * the canonical verb churn, two refreshes. */
  private[graft] def ensureMvChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_mvsrc"
    val mv = s"$cat.main.docs_mv"
    fixture(spark, dir, "mv") { ss =>
      val legs = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def leg[T](name: String)(work: => T): T = {
        val t0 = System.nanoTime()
        val out = work
        legs += name -> (System.nanoTime() - t0) / 1e9
        out
      }
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_mv")
      leg("src_ingest") {
        ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, " +
          "n_chars BIGINT) PARTITIONED BY (lang)")
        ss.sql(s"""INSERT INTO $t
                   SELECT doc_id, lang, source, n_chars FROM documents_src_mv
                   WHERE doc_id % 10 < 8""")
      }
      leg("create_mv")(
        ss.sql(s"CALL $cat.system.create_mv(view => 'main.docs_mv', " +
          "source => 'main.docs_mvsrc', keys => 'lang', " +
          "aggs => 'n_docs:count,sum_chars:sum(n_chars),max_chars:max(n_chars)')"))
      // the FILTERED twin (r13 #4): same source, a row filter — the
      // affected-key recompute re-applies it per refresh, so churn
      // moving rows across the threshold is exact
      leg("create_mvw")(
        ss.sql(s"CALL $cat.system.create_mv(view => 'main.docs_mvw', " +
          "source => 'main.docs_mvsrc', keys => 'lang', " +
          "aggs => 'n_docs:count,sum_chars:sum(n_chars)', " +
          s"where => 'n_chars >= $ShortDocChars')"))
      leg("verb_churn") {
        ss.sql(s"UPDATE $t SET lang = 'und' WHERE n_chars < $ShortDocChars")
        ss.sql(s"DELETE FROM $t WHERE doc_id % $TakedownMod = 0")
        ss.sql(s"""MERGE INTO $t t
                   USING (SELECT doc_id, lang, source, n_chars FROM documents_src_mv
                          WHERE doc_id % 10 >= 5) s
                   ON t.doc_id = s.doc_id
                   WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
                   WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars)
                     VALUES (s.doc_id, s.lang, s.source, s.n_chars)""")
      }
      val r1 = leg("refresh1_mv")(
        ss.sql(s"CALL $cat.system.refresh_mv(view => 'main.docs_mv')").head())
      val w1 = leg("refresh1_mvw")(
        ss.sql(s"CALL $cat.system.refresh_mv(view => 'main.docs_mvw')").head())
      // the targeted commit: one lang (deterministic: the smallest),
      // half its docs — the second refresh must narrow to that key.
      // The +10 also pushes near-threshold docs INTO the filtered
      // twin's set (the enter/leave case the filter must get right).
      leg("targeted_update") {
        val minLang = ss.sql(s"SELECT min(lang) FROM $t").head().getString(0)
        ss.sql(s"UPDATE $t SET n_chars = n_chars + 10 " +
          s"WHERE lang = '$minLang' AND doc_id % 2 = 0")
      }
      val r2 = leg("refresh2_mv")(
        ss.sql(s"CALL $cat.system.refresh_mv(view => 'main.docs_mv')").head())
      val w2 = leg("refresh2_mvw")(
        ss.sql(s"CALL $cat.system.refresh_mv(view => 'main.docs_mvw')").head())
      mvRefreshInfo.put(cat, (r1.getString(2), r2.getString(2), r2.getLong(3)))
      mvRefreshInfo.put(s"$cat#w", (w1.getString(2), w2.getString(2), w2.getLong(3)))
      mvPhases.put(cat, legs.toSeq)
    }
    (catalogSession(spark, dir), mv)
  }

  /** X-SQLw — persistent SQL VIEWS (`CREATE VIEW` / view-on-view /
    * `SHOW VIEWS`, served by [[graft.catalog.GraftViewStore]]): a
    * two-layer stack over the canonical verb chain — `docs_long` filters
    * the corpus, `docs_summary` aggregates THROUGH it — read after all
    * four row-level commits, so the output pins (a) DDL-as-SQL against a
    * v2 catalog (parser-intercepted; Spark 4.1 has no native path), (b)
    * layer-by-layer view resolution, (c) views are always-current
    * (reflect every commit), all relationally replayable. `n_views` pins
    * SHOW VIEWS enumeration. Views are metadata-only — the 100 TB cost
    * of this query is the aggregate itself, never a materialization. */
  def sqlView(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureVerbChain(spark, dir)
    val cat = catName(dir)
    fixture(spark, dir, "views") { vs =>
      vs.sql(s"CREATE OR REPLACE VIEW $cat.main.docs_long AS " +
        s"SELECT doc_id, lang, source, n_chars FROM $t WHERE n_chars >= $ShortDocChars")
      vs.sql(s"CREATE OR REPLACE VIEW $cat.main.docs_summary AS " +
        s"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars " +
        s"FROM $cat.main.docs_long GROUP BY lang")
    }
    // int32 literal to match the DuckDB oracle's integer constant
    val nViews = ss.sql(s"SHOW VIEWS IN $cat.main").count().toInt
    import org.apache.spark.sql.functions.lit
    ss.sql(s"SELECT lang, n_docs, sum_chars FROM $cat.main.docs_summary")
      .withColumn("n_views", lit(nViews))
  }

  def sqlViewOracleSql: String =
    s"""WITH $oracleChainCtes
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               2 AS n_views
        FROM v4 WHERE n_chars >= $ShortDocChars GROUP BY lang"""

  /** X-SQLy — `CALL system.analyze` + DSv2 column statistics: the CBO
    * feed for catalog tables. Per analyzed column the output carries the
    * EXACT distinct count (relational, hash-checked) plus three verdicts
    * computed against the scan's reported [[org.apache.spark.sql
    * .connector.read.colstats.ColumnStatistics]]: `ndv_ok` (the persisted
    * approx_count_distinct within 15% of exact — 3x the sketch's 5% rsd),
    * `bounds_ok` (manifest-aggregated min/max EQUAL the relational
    * min/max — these are free, no ANALYZE needed), `maxlen_ok` (string
    * length stats from the analysis). CboCatalogSpec separately pins the
    * BEHAVIOR these stats buy — dimension-first join reorder on catalog
    * tables. */
  def sqlAnalyze(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureAnalyzeTable(spark, dir)
    val rel = ss.table(t).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.getOrElse(throw new IllegalStateException(s"no v2 scan for $t"))
    val csJava = rel.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val cs = csJava.asScala.map { case (k, v) => k.fieldNames().mkString(".") -> v }.toMap
    val e = ss.sql(
      s"""SELECT count(DISTINCT doc_id), count(DISTINCT n_chars), count(DISTINCT lang),
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 max(length(lang)) FROM $t""").head()
    def ndvOk(col: String, exact: Long): Boolean =
      cs.get(col).exists(s => s.distinctCount().isPresent &&
        math.abs(s.distinctCount().getAsLong - exact.toDouble) / exact <= 0.15)
    def boundsOk(col: String, lo: Long, hi: Long): Boolean =
      cs.get(col).exists(s => s.min().isPresent && s.max().isPresent &&
        s.min().get() == java.lang.Long.valueOf(lo) &&
        s.max().get() == java.lang.Long.valueOf(hi))
    val maxlenOk = cs.get("lang").exists(s =>
      s.maxLen().isPresent && s.maxLen().getAsLong == e.getInt(7).toLong)
    import ss.implicits._
    Seq(
      ("doc_id", e.getLong(0), ndvOk("doc_id", e.getLong(0)),
        Some(boundsOk("doc_id", e.getLong(3), e.getLong(4))), Option.empty[Boolean]),
      ("n_chars", e.getLong(1), ndvOk("n_chars", e.getLong(1)),
        Some(boundsOk("n_chars", e.getLong(5), e.getLong(6))), Option.empty[Boolean]),
      ("lang", e.getLong(2), ndvOk("lang", e.getLong(2)),
        Option.empty[Boolean], Some(maxlenOk)))
      .toDF("col_name", "exact_distinct", "ndv_ok", "bounds_ok", "maxlen_ok")
  }

  /** The analyze fixture: the %10<8 corpus slice, one CALL analyze. */
  private[graft] def ensureAnalyzeTable(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_an"
    fixture(spark, dir, "analyze") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_an")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars FROM documents_src_an " +
        "WHERE doc_id % 10 < 8")
      ss.sql(s"CALL $cat.system.analyze(table => 'main.docs_an')").collect()
    }
    (catalogSession(spark, dir), t)
  }

  def sqlAnalyzeOracleSql: String =
    s"""WITH src AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 < 8)
        SELECT * FROM (
          SELECT 'doc_id' AS col_name, count(DISTINCT doc_id) AS exact_distinct,
                 true AS ndv_ok, true AS bounds_ok, CAST(NULL AS BOOLEAN) AS maxlen_ok
          FROM src
          UNION ALL
          SELECT 'n_chars', count(DISTINCT n_chars), true, true, NULL FROM src
          UNION ALL
          SELECT 'lang', count(DISTINCT lang), true, NULL, true FROM src)"""

  /** X-SQLs — STORAGE-PARTITIONED JOIN (VERDICT r13 #1): two catalog
    * tables co-bucketed by `PARTITIONED BY (bucket(16, doc_id))` join
    * with ZERO shuffle Exchange on either side — the write path fanned
    * every file bucket-pure (graft.catalog.Spj), the scan reports
    * KeyGroupedPartitioning, and Spark's v2 bucketing plans the
    * co-partitioned join directly. Broadcast is disabled while planning
    * so the Exchange-free flag measures SPJ, not a small-table
    * broadcast. The aggregate row is oracle-checked relationally; the
    * `exchange_free` / `bucket_grouped` flags are plan-derived and pin
    * the property in CI — at 100 TB this join is the system's largest
    * shuffle, and here it is no shuffle at all. */
  def sqlSpj(spark: SparkSession, dir: String): DataFrame = {
    val (ss, docsT, statsT) = ensureSpjTables(spark, dir)
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(
        s"""SELECT d.doc_id, d.lang, d.n_chars, f.fp
            FROM $docsT d JOIN $statsT f ON d.doc_id = f.doc_id""")
      val plan = j.queryExecution.executedPlan.toString
      val exchangeFree = "Exchange (hash|range)partitioning".r.findAllIn(plan).isEmpty
      val bucketGrouped = "bucket-grouped scan".r.findAllIn(plan).length == 2
      val agg = j.groupBy().agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_chars"),
        org.apache.spark.sql.functions.sum("fp"),
        org.apache.spark.sql.functions.countDistinct("lang")).head()
      import ss.implicits._
      Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
        exchangeFree, bucketGrouped))
        .toDF("n_joined", "sum_chars", "sum_fp", "n_langs",
          "exchange_free", "bucket_grouped")
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  /** The co-bucketed pair: both tables bucket(16, doc_id), loaded once
    * from overlapping document slices (so the join is selective on both
    * sides), each through the ordinary INSERT path — bucket purity and
    * manifest bucket ids come entirely from the write contract. */
  private[graft] def ensureSpjTables(spark: SparkSession, dir: String): (SparkSession, String, String) = {
    val cat = catName(dir)
    val docsT = s"$cat.main.docs_bkt"
    val statsT = s"$cat.main.stats_bkt"
    fixture(spark, dir, "spj") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_spj")
      ss.sql(s"CREATE TABLE $docsT (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id))")
      ss.sql(s"CREATE TABLE $statsT (doc_id BIGINT, fp BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id))")
      ss.sql(s"INSERT INTO $docsT SELECT doc_id, lang, n_chars " +
        "FROM documents_src_spj WHERE doc_id % 3 > 0")
      ss.sql(s"INSERT INTO $statsT SELECT doc_id, n_chars % 1000 " +
        "FROM documents_src_spj WHERE doc_id % 2 = 0")
    }
    (catalogSession(spark, dir), docsT, statsT)
  }

  /** X-SQLs2 — the bucket layout serving AGGREGATION too: a join +
    * GROUP BY on the bucket column runs as ONE fused stage — the scan's
    * KeyGroupedPartitioning satisfies the aggregate's clustered
    * distribution as well as the join's, so the whole
    * join-then-aggregate pipeline plans with ZERO Exchange (at 100 TB:
    * the per-document corpus rollup, historically the second-largest
    * shuffle after the join, disappears with it). Flags are
    * plan-derived; content is relational per doc_id. */
  def sqlSpjAgg(spark: SparkSession, dir: String): DataFrame = {
    val (ss, docsT, statsT) = ensureSpjTables(spark, dir)
    // The SHUFFLE_MERGE hint pins the sort-merge SPJ path — a broadcast
    // join would also be Exchange-free here but would measure nothing —
    // without session-conf fiddling, so the flag below AND the harness's
    // later timed execution exercise the same plan.
    val agg = ss.sql(
      s"""SELECT /*+ SHUFFLE_MERGE(d) */ d.doc_id, count(*) AS n,
                 CAST(sum(d.n_chars + f.fp) AS BIGINT) AS total
          FROM $docsT d JOIN $statsT f ON d.doc_id = f.doc_id
          GROUP BY d.doc_id""")
    // Plan-derived verdict folded in as a literal column (the
    // q_bloom_prune pattern; VERDICT r14 #8 — no driver-side collect of
    // the rollup). The pre-execution physical plan is authoritative for
    // exchange-freeness: AQE can only REMOVE or convert exchanges at
    // runtime, never introduce one.
    val exchangeFree = "Exchange (hash|range)partitioning".r
      .findAllIn(agg.queryExecution.executedPlan.toString).isEmpty
    agg.withColumn("exchange_free", org.apache.spark.sql.functions.lit(exchangeFree))
  }

  /** X-SQLs3 — SPJ × MERGE-ON-READ (VERDICT r14 #3): the continuous-
    * upsert corpus carries the bucket layout. A bucketed table in
    * merge-on-read mode takes a takedown DELETE (deletion vectors — no
    * data file moves) and a re-ingest MERGE (delta: vectors + bucket-pure
    * reinsert files via the same fanout writer as every other write),
    * then joins a co-bucketed stats table with ZERO Exchange — vectored
    * members served masked INSIDE their bucket groups. Flags are
    * plan-derived (`exchange_free`, `dv_masked`); content is relational
    * (the oracle replays the verb chain). Before r15 this table was the
    * one table that could NOT have the shuffle-free join. */
  def sqlMorSpj(spark: SparkSession, dir: String): DataFrame = {
    val (ss, morT, statsT) = ensureMorSpjTables(spark, dir)
    // SHUFFLE_MERGE pins the sort-merge SPJ path — the same hint pattern
    // sqlSpjAgg/sqlSpjDelta use, instead of toggling the session-global
    // autoBroadcastJoinThreshold around the query (VERDICT r15 #7: a
    // concurrently-planned query on the session saw the disabled
    // threshold during this harness's window).
    val j = ss.sql(
      s"""SELECT /*+ SHUFFLE_MERGE(d) */ d.doc_id, d.n_chars, f.fp
          FROM $morT d JOIN $statsT f ON d.doc_id = f.doc_id""")
    val plan = j.queryExecution.executedPlan.toString
    val exchangeFree = "Exchange (hash|range)partitioning".r.findAllIn(plan).isEmpty
    // the MOR side's scan must be the bucket-grouped one WITH masked
    // members (vectors in scope), not a fallback
    val dvMasked = plan.contains("dv-masked members")
    val agg = j.groupBy().agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum("n_chars"),
      org.apache.spark.sql.functions.sum("fp")).head()
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), exchangeFree, dvMasked))
      .toDF("n_joined", "sum_chars", "sum_fp", "exchange_free", "dv_masked")
  }

  /** The MOR×SPJ pair: a bucket(16, doc_id) merge-on-read docs table
    * taken through takedown DELETE (vectors) + re-ingest MERGE (delta
    * reinserts), and a co-bucketed copy-on-write stats table. */
  private[graft] def ensureMorSpjTables(spark: SparkSession, dir: String)
      : (SparkSession, String, String) = {
    val cat = catName(dir)
    val morT = s"$cat.main.docs_morb"
    val statsT = s"$cat.main.stats_morb"
    fixture(spark, dir, "morspj") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_morspj")
      ss.sql(s"CREATE TABLE $morT (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id)) " +
        "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
      ss.sql(s"CREATE TABLE $statsT (doc_id BIGINT, fp BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id))")
      ss.sql(s"INSERT INTO $morT SELECT doc_id, lang, n_chars " +
        "FROM documents_src_morspj WHERE doc_id % 10 < 8")
      ss.sql(s"INSERT INTO $statsT SELECT doc_id, n_chars % 1000 " +
        "FROM documents_src_morspj WHERE doc_id % 2 = 0")
      // takedown: deletion vectors only, no data file moves
      ss.sql(s"DELETE FROM $morT WHERE doc_id % $TakedownMod = 0")
      // re-ingest: updates become vector + bucket-pure reinsert files
      ss.sql(s"""MERGE INTO $morT t
                 USING (SELECT doc_id, lang, n_chars FROM documents_src_morspj
                        WHERE doc_id % 10 >= 5) s
                 ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
                 WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   VALUES (s.doc_id, s.lang, s.n_chars)""")
    }
    (catalogSession(spark, dir), morT, statsT)
  }

  def sqlMorSpjOracleSql: String =
    s"""WITH v1 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 < 8),
            v2 AS (SELECT * FROM v1 WHERE doc_id % $TakedownMod <> 0),
            src AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 >= 5),
            v3 AS (
              SELECT t.doc_id, t.lang, s.n_chars + 1 AS n_chars
              FROM v2 t JOIN src s USING (doc_id)
              UNION ALL
              SELECT t.* FROM v2 t ANTI JOIN src s USING (doc_id)
              UNION ALL
              SELECT s.* FROM src s ANTI JOIN v2 t USING (doc_id)),
            f AS (SELECT doc_id, n_chars % 1000 AS fp FROM documents WHERE doc_id % 2 = 0)
        SELECT count(*) AS n_joined, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(f.fp) AS BIGINT) AS sum_fp,
               true AS exchange_free, true AS dv_masked
        FROM v3 d JOIN f ON d.doc_id = f.doc_id"""

  def sqlSpjAggOracleSql: String =
    """SELECT d.doc_id, count(*) AS n, CAST(sum(d.n_chars + f.fp) AS BIGINT) AS total,
              true AS exchange_free
       FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 > 0) d
       JOIN (SELECT doc_id, n_chars % 1000 AS fp FROM documents WHERE doc_id % 2 = 0) f
         ON d.doc_id = f.doc_id
       GROUP BY d.doc_id"""

  /** X-SQLd2 — RUNTIME file skipping (DSv2 dynamic partition pruning,
    * RuntimeSkip.scala): a star probe with NO static fact predicate —
    * `fact JOIN dim ON doc_id WHERE dim.region = 5` — prunes the
    * clustered fact table's FILE LIST at execution time from the dim
    * side's surviving doc_id values, through the same footer-stats
    * evaluation static pushdown uses. The `dpp_pruned` flag is recorder-
    * derived (kept < total); content is relational (the oracle replays
    * the same region arithmetic). */
  def sqlDpp(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensurePartTable(spark, dir) // doc_id-clustered fact
    val (mn, mx) = docIdBounds(ss, dir)
    // the dim derives from the corpus on THIS session (temp views are
    // session-scoped; leaning on another fixture's view would make the
    // query order-dependent across harnesses)
    Tables.documents(ss, dir).createOrReplaceTempView("documents_src_dpp")
    ss.sql(s"SELECT doc_id, ((doc_id - $mn) * 16) DIV (($mx - $mn) + 1) AS region " +
      "FROM documents_src_dpp").createOrReplaceTempView("dim_dpp")
    graft.catalog.SkipRecorder.clear(s"$t#dpp")
    // BROADCAST(d) pins the DIM as the build side: the fact's size
    // estimate follows its file count, which follows the shuffle-partition
    // count at build time — at 4 partitions the fact (4 files, 8.5 KiB)
    // undercut the dim, was broadcast itself, and DPP degenerated to
    // dynamicpruningexpression(true) (the sqlDppBucket hazard)
    val agg = ss.sql(
      s"""SELECT /*+ BROADCAST(d) */ count(*) AS n_docs,
                 CAST(sum(f.n_chars) AS BIGINT) AS sum_chars
          FROM $t f JOIN dim_dpp d ON f.doc_id = d.doc_id
          WHERE d.region = 5""").head()
    val pruned = graft.catalog.SkipRecorder.lastFor(s"$t#dpp")
      .exists { case (kept, total) => kept < total && kept >= 1 }
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), pruned))
      .toDF("n_docs", "sum_chars", "dpp_pruned")
  }

  def sqlDppOracleSql: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
            d AS (SELECT doc_id, ((doc_id - b.mn) * 16) // ((b.mx - b.mn) + 1) AS region
                  FROM documents, b)
       SELECT count(*) AS n_docs, CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
              true AS dpp_pruned
       FROM documents f JOIN d ON f.doc_id = d.doc_id
       WHERE d.region = 5"""

  /** X-SQLs4 — ONE-SIDE-SHUFFLE SPJ (VERDICT r14 #5, SPARK-41471): the
    * daily-delta join. A bucketed corpus joining an UNBUCKETED relation
    * historically shuffled BOTH sides; with v2 bucketing shuffle the
    * delta side alone shuffles INTO the corpus's KeyGroupedPartitioning
    * (through the catalog's own bucket function), so the bucket layout
    * pays on every join, not only co-bucketed ones — at 100 TB that's
    * the difference between shuffling the corpus daily and shuffling
    * only the day's delta. `one_exchange` pins exactly one key-grouped
    * shuffle and zero hash/range shuffles; content is relational. */
  def sqlSpjDelta(spark: SparkSession, dir: String): DataFrame = {
    val (ss, docsT, _) = ensureSpjTables(spark, dir)
    Tables.documents(ss, dir).createOrReplaceTempView("documents_src_spjd")
    ss.sql("SELECT doc_id, n_chars % 1000 AS fp FROM documents_src_spjd " +
      "WHERE doc_id % 5 = 0").createOrReplaceTempView("delta_spjd")
    // SHUFFLE_MERGE pins the sort-merge path (a broadcast would hide the
    // one-side-shuffle property this query exists to pin)
    val j = ss.sql(
      s"""SELECT /*+ SHUFFLE_MERGE(d) */ d.doc_id, d.n_chars, f.fp
          FROM $docsT d JOIN delta_spjd f ON d.doc_id = f.doc_id""")
    val plan = j.queryExecution.executedPlan.toString
    val oneExchange =
      "Exchange (hash|range)partitioning".r.findAllIn(plan).isEmpty &&
        "Exchange keygroupedpartitioning".r.findAllIn(plan).length == 1
    import org.apache.spark.sql.functions.{count, lit, sum}
    j.groupBy().agg(
        count(lit(1)).as("n_joined"),
        sum("n_chars").as("sum_chars"),
        sum("fp").as("sum_fp"))
      .withColumn("one_exchange", lit(oneExchange))
  }

  def sqlSpjDeltaOracleSql: String =
    """SELECT count(*) AS n_joined, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
              CAST(sum(f.fp) AS BIGINT) AS sum_fp, true AS one_exchange
       FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 > 0) d
       JOIN (SELECT doc_id, n_chars % 1000 AS fp FROM documents WHERE doc_id % 5 = 0) f
         ON d.doc_id = f.doc_id"""

  /** X-SQLs5 — STATIC BUCKET PRUNING (r15): the 100 TB point lookup.
    * `WHERE doc_id IN (...)` on a bucketed corpus gets nothing from
    * footer min/max (a murmur-scattered key covers the whole range in
    * every file); hashing the literals through the write side's own
    * mixer drops every other bucket's files at plan time — fetch-by-id
    * touches one bucket group, not sixteen. `bucket_pruned` is
    * recorder-derived; content is relational. */
  def sqlSpjLookup(spark: SparkSession, dir: String): DataFrame = {
    val (ss, docsT, _) = ensureSpjTables(spark, dir)
    Tables.documents(ss, dir).createOrReplaceTempView("documents_src_spjl")
    val ids = ss.sql("SELECT doc_id FROM documents_src_spjl WHERE doc_id % 3 > 0 " +
      "ORDER BY doc_id LIMIT 2").collect().map(_.getLong(0))
    graft.catalog.SkipRecorder.clear(docsT)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM $docsT WHERE doc_id IN (${ids.mkString(",")})""").head()
    val pruned = graft.catalog.SkipRecorder.lastFor(docsT)
      .exists { case (kept, total) => kept < total && kept >= 1 }
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), pruned))
      .toDF("n_docs", "sum_chars", "bucket_pruned")
  }

  def sqlSpjLookupOracleSql: String =
    """WITH probe AS (SELECT doc_id FROM documents WHERE doc_id % 3 > 0
                      ORDER BY doc_id LIMIT 2)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              true AS bucket_pruned
       FROM documents
       WHERE doc_id % 3 > 0 AND doc_id IN (SELECT doc_id FROM probe)"""

  /** X-SQLd3 — RUNTIME BUCKET-GROUP PRUNING (VERDICT r14 #4): a point-
    * probe join against the bucketed corpus needs no footer stats — the
    * probe side's surviving doc_ids hash through the SAME murmur mixer
    * the write side used, and whole bucket GROUPS they can't land in
    * drop before any fact byte is read (Iceberg's bucket-partition
    * pruning, here at file-group granularity). The probe is the 4
    * smallest corpus ids, so at most 4 of 16 groups survive at every
    * sf. `bucket_pruned` is recorder-derived (kept < total); content is
    * relational. */
  def sqlDppBucket(spark: SparkSession, dir: String): DataFrame = {
    val (ss, docsT, _) = ensureSpjTables(spark, dir)
    Tables.documents(ss, dir).createOrReplaceTempView("documents_src_bdpp")
    // the dim must be OPAQUE to constraint inference AND survive as a
    // real filtered scan: a tag computed FROM doc_id folds back into a
    // static IN (the r15 static bucket pruning would preempt the runtime
    // path this query pins), and a local relation gets its filter folded
    // away at optimization (ConvertToLocalRelation), hiding the
    // selective predicate the DPP rule requires — so the probe rows go
    // through parquet
    val ids8 = ss.sql("SELECT doc_id FROM documents_src_bdpp WHERE doc_id % 3 > 0 " +
      "ORDER BY doc_id LIMIT 8").collect().map(_.getLong(0))
    val (probe, decoys) = ids8.splitAt(4)
    val dimPath = Artifacts.scratch(dir) + "/dim_bdpp"
    import ss.implicits._
    (probe.toSeq.map(_ -> 1) ++ decoys.toSeq.map(_ -> 0))
      .toDF("doc_id", "tag").write.mode("overwrite").parquet(dimPath)
    ss.read.parquet(dimPath).createOrReplaceTempView("dim_bdpp")
    graft.catalog.SkipRecorder.clear(s"$docsT#bucketdpp")
    // BROADCAST(d) pins the DIM as the build side at every sf: if AQE
    // broadcast the (locally tiny) fact instead, the fact's runtime
    // filter would have no broadcast to reuse and DPP degenerates to
    // dynamicpruningexpression(true)
    val agg = ss.sql(
      s"""SELECT /*+ BROADCAST(d) */ count(*) AS n_docs,
                 CAST(sum(f.n_chars) AS BIGINT) AS sum_chars
          FROM $docsT f JOIN dim_bdpp d ON f.doc_id = d.doc_id
          WHERE d.tag = 1""").head()
    val pruned = graft.catalog.SkipRecorder.lastFor(s"$docsT#bucketdpp")
      .exists { case (kept, total) => kept < total && kept >= 1 }
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), pruned))
      .toDF("n_docs", "sum_chars", "bucket_pruned")
  }

  def sqlDppBucketOracleSql: String =
    """WITH probe AS (SELECT doc_id FROM documents WHERE doc_id % 3 > 0
                      ORDER BY doc_id LIMIT 4)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              true AS bucket_pruned
       FROM documents
       WHERE doc_id % 3 > 0 AND doc_id IN (SELECT doc_id FROM probe)"""

  /** X-SQLa — AGGREGATE PUSHDOWN from manifest stats (VERDICT r16,
    * catalog/AggPush.scala): a bare COUNT(*)/COUNT(col)/MIN/MAX on a
    * catalog table is answered FROM the manifest's per-file footer
    * stats — the scan plans as a LocalTableScan and the query reads
    * ZERO data files. This is the reference's own data-quality check
    * shape (`SELECT COUNT(*) FROM korean`, dag-knlp.py:252) at metadata
    * cost: on a 100 TB corpus the nightly row-count audit becomes one
    * manifest read. `scanless` is plan- AND recorder-derived (no
    * BatchScan in the plan, zero files kept); content is relational. */
  def sqlAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensurePartTable(spark, dir)
    graft.catalog.SkipRecorder.clear(s"$t#agg")
    val q = ss.sql(
      s"""SELECT count(*) AS n_rows, min(doc_id) AS min_id, max(doc_id) AS max_id,
                 count(lang) AS n_lang, max(lang) AS max_lang,
                 min(n_chars) AS min_chars, max(n_chars) AS max_chars
          FROM $t""")
    val plan = q.queryExecution.executedPlan.toString
    val scanless = plan.contains("LocalTableScan") && !plan.contains("BatchScan") &&
      graft.catalog.SkipRecorder.lastFor(s"$t#agg").exists(_._1 == 0)
    q.withColumn("scanless", org.apache.spark.sql.functions.lit(scanless))
  }

  def sqlAggPushdownOracleSql: String =
    """SELECT count(*) AS n_rows, min(doc_id) AS min_id, max(doc_id) AS max_id,
              count(lang) AS n_lang, max(lang) AS max_lang,
              CAST(min(n_chars) AS BIGINT) AS min_chars,
              CAST(max(n_chars) AS BIGINT) AS max_chars,
              true AS scanless
       FROM documents"""

  /** X-SQLa2 — LIMIT PUSHDOWN as manifest-prefix planning (VERDICT r15
    * #8): a bare `LIMIT k` on a catalog table plans only the file-list
    * PREFIX whose cumulative live row count (footer rows net of
    * deletion-vector tombstones) covers k — at 100 TB a peek query
    * opens one file instead of listing the table. `limit_pruned` is
    * recorder-derived (kept < total); the row count is exact because
    * Spark keeps the Limit above the scan (partial pushdown). */
  def sqlLimitPrune(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensurePartTable(spark, dir)
    graft.catalog.SkipRecorder.clear(s"$t#limit")
    val n = ss.sql(s"SELECT doc_id, lang, n_chars FROM $t LIMIT 100").count()
    val pruned = graft.catalog.SkipRecorder.lastFor(s"$t#limit")
      .exists { case (kept, total) => kept < total && kept >= 1 }
    import ss.implicits._
    Seq((n, pruned)).toDF("n_rows", "limit_pruned")
  }

  def sqlLimitPruneOracleSql: String =
    """SELECT CAST(least(100, (SELECT count(*) FROM documents)) AS BIGINT) AS n_rows,
              true AS limit_pruned"""

  /** X-SQLa3 — `ADD COLUMN … DEFAULT` as METADATA (VERDICT r15 #5,
    * Iceberg v3 / DSv2 column defaults): the evolving-corpus shape. Half
    * the corpus is ingested, a `quality BIGINT DEFAULT 5` column lands
    * as ONE metadata commit (zero files written — `no_backfill` is
    * manifest-derived), old files SERVE the default on read, and the
    * post-evolution ingest writes real values; an INSERT omitting the
    * column gets the CURRENT default. At 100 TB this is the difference
    * between an ALTER and a full-corpus rewrite. Content is relational
    * (the oracle replays both eras); `n_pre` pins time travel under the
    * defaultless era. */
  def sqlDefault(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t, preAlter, alterV) = ensureDefaultChain(spark, dir)
    val diff = graft.catalog.Manifests.commitFileDiff(ss, t, alterV)
    val noBackfill = diff._2 == 0 && diff._3 == 0 // alter moved no files
    val nPre = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $preAlter").head().getLong(0)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, CAST(sum(quality) AS BIGINT) AS sum_q,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM $t""").head()
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), nPre, noBackfill))
      .toDF("n_docs", "sum_q", "sum_chars", "n_pre", "no_backfill")
  }

  private[graft] def ensureDefaultChain(spark: SparkSession, dir: String)
      : (SparkSession, String, Int, Int) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_default"
    fixture(spark, dir, "default") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_def")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars " +
        "FROM documents_src_def WHERE doc_id % 2 = 0")
      ss.sql(s"ALTER TABLE $t ADD COLUMN quality BIGINT DEFAULT 5")
      ss.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars, n_chars % 7 " +
        "FROM documents_src_def WHERE doc_id % 2 = 1")
    }
    val ss = catalogSession(spark, dir)
    val m = graft.catalog.Manifests
    val latest = m.latestVersion(ss, t)
    // the alter commit is the one whose op is 'alter' (metadata-only)
    val alterV = (1 to latest).find(v => m.opOf(ss, t, v) == "alter").getOrElse(
      throw new IllegalStateException(s"$t: no alter commit in history"))
    (ss, t, alterV - 1, alterV)
  }

  /** X-SQLa4 — NESTED STRUCT EVOLUTION (VERDICT r15 #4): struct fields
    * are first-class catalog citizens — stamped with their own parquet
    * field ids from birth, so `ALTER TABLE … ADD COLUMN meta.src` and
    * `RENAME COLUMN meta.n TO chars` are metadata-era commits like
    * their top-level twins: old files null-fill the added nested field
    * and resolve the renamed one BY ID (`no_backfill` is
    * manifest-derived — the alters moved zero files). At 100 TB a
    * struct-columned corpus (the common "metadata blob" shape) evolves
    * without rewrites. Content is relational across both eras + the
    * rename; `n_pre` pins time travel under the pre-evolution era. */
  def sqlNested(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t, preAlter, alterVs) = ensureNestedChain(spark, dir)
    val noBackfill = alterVs.forall { v =>
      val d = graft.catalog.Manifests.commitFileDiff(ss, t, v)
      d._2 == 0 && d._3 == 0
    }
    val nPre = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $preAlter").head().getLong(0)
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, CAST(sum(meta.chars) AS BIGINT) AS sum_chars,
                 count(meta.src) AS n_src, count(DISTINCT meta.lang) AS n_langs
          FROM $t""").head()
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3), nPre, noBackfill))
      .toDF("n_docs", "sum_chars", "n_src", "n_langs", "n_pre", "no_backfill")
  }

  private[graft] def ensureNestedChain(spark: SparkSession, dir: String)
      : (SparkSession, String, Int, Seq[Int]) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_nested"
    fixture(spark, dir, "nested") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_nst")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, " +
        "meta STRUCT<lang: STRING, n: BIGINT>)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, named_struct('lang', lang, 'n', n_chars) " +
        "FROM documents_src_nst WHERE doc_id % 2 = 0")
      ss.sql(s"ALTER TABLE $t ADD COLUMN meta.src STRING")
      ss.sql(s"INSERT INTO $t SELECT doc_id, " +
        "named_struct('lang', lang, 'n', n_chars, 'src', source) " +
        "FROM documents_src_nst WHERE doc_id % 2 = 1")
      ss.sql(s"ALTER TABLE $t RENAME COLUMN meta.n TO chars")
    }
    val ss = catalogSession(spark, dir)
    val m = graft.catalog.Manifests
    val latest = m.latestVersion(ss, t)
    val alterVs = (1 to latest).filter(v => m.opOf(ss, t, v) == "alter")
    (ss, t, alterVs.head - 1, alterVs)
  }

  def sqlNestedOracleSql: String =
    """WITH v AS (
         SELECT doc_id, lang, n_chars, NULL AS src FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars, source FROM documents WHERE doc_id % 2 = 1)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(src) AS n_src, count(DISTINCT lang) AS n_langs,
              (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_pre,
              true AS no_backfill
       FROM v"""

  def sqlDefaultOracleSql: String =
    """WITH v AS (
         SELECT doc_id, lang, n_chars, 5 AS quality FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars, n_chars % 7 FROM documents WHERE doc_id % 2 = 1)
       SELECT count(*) AS n_docs, CAST(sum(quality) AS BIGINT) AS sum_q,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_pre,
              true AS no_backfill
       FROM v"""

  def sqlSpjOracleSql: String =
    """SELECT count(*) AS n_joined, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
              CAST(sum(f.fp) AS BIGINT) AS sum_fp,
              count(DISTINCT d.lang) AS n_langs,
              true AS exchange_free, true AS bucket_grouped
       FROM (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 > 0) d
       JOIN (SELECT doc_id, n_chars % 1000 AS fp FROM documents WHERE doc_id % 2 = 0) f
         ON d.doc_id = f.doc_id"""

  /** X-SQLt — WAP REBASE (VERDICT r13 #6): the staging loop surviving a
    * concurrent ingest. Curation is staged on a branch (takedown
    * DELETE), main advances with a disjoint APPEND before the publish —
    * publish refuses (correct), `CALL system.rebase_branch` replays the
    * staged commit file-granularly atop the new main head, and the
    * publish then fast-forwards. Semantics pinned by the oracle: staged
    * decisions apply to the data they were staged AGAINST; the
    * concurrent ingest's rows — short docs included — ride through
    * untouched (a rebase never retroactively curates data the audit
    * never saw). */
  def sqlRebase(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureRebaseChain(spark, dir)
    ss.sql(s"SELECT doc_id, lang, source, n_chars FROM $t")
  }

  private[graft] def ensureRebaseChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_rb"
    val bt = s"$t.branch_audit"
    fixture(spark, dir, "rebase") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_rb")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
      ss.sql(s"""INSERT INTO $t
                 SELECT doc_id, lang, source, n_chars FROM documents_src_rb
                 WHERE doc_id % 10 < 8""")
      ss.sql(s"CALL $cat.system.create_branch(table => 'main.docs_rb', branch => 'audit')")
      ss.sql(s"DELETE FROM $bt WHERE n_chars < $ShortDocChars") // staged takedown
      ss.sql(s"""INSERT INTO $t
                 SELECT doc_id, lang, source, n_chars FROM documents_src_rb
                 WHERE doc_id % 10 = 8""") // concurrent ingest on main
      // publish must refuse on the diverged main, then rebase + publish
      val refused = scala.util.Try(ss.sql(
        s"CALL $cat.system.publish_branch(table => 'main.docs_rb', branch => 'audit')"))
      require(refused.isFailure, "publish on diverged main must refuse before rebase")
      ss.sql(s"CALL $cat.system.rebase_branch(table => 'main.docs_rb', branch => 'audit')")
      ss.sql(s"CALL $cat.system.publish_branch(table => 'main.docs_rb', branch => 'audit')")
    }
    (catalogSession(spark, dir), t)
  }

  def sqlRebaseOracleSql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
        WHERE (doc_id % 10 < 8 AND n_chars >= $ShortDocChars) OR doc_id % 10 = 8"""

  /** X-SQLv — column RENAME/DROP as metadata commits over parquet field
    * ids (VERDICT r13 #2): half the corpus lands before a RENAME, half
    * after (two parquet name eras, one field id), then a takedown DROP
    * removes a column without touching a file, and a destructive type
    * change stays refused. The metric rows pin: both eras resolve under
    * the new name, the pre-rename version still reads the OLD name, the
    * pre-drop version still serves the dropped column, and row/char
    * totals are relational. */
  def sqlRename(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureRenameChain(spark, dir)
    def n(q: String): Long = ss.sql(q).head().getLong(0)
    val typeRefused = scala.util.Try(
      ss.sql(s"ALTER TABLE $t ALTER COLUMN n_chars TYPE STRING")).isFailure
    import ss.implicits._
    Seq(
      ("rows_current", n(s"SELECT count(*) FROM $t")),
      ("langs_current", n(s"SELECT count(DISTINCT language) FROM $t")),
      ("sum_chars_both_eras", n(s"SELECT sum(n_chars) FROM $t")),
      ("pre_rename_via_old_name",
        n(s"SELECT count(*) FROM $t VERSION AS OF 1 WHERE lang IS NOT NULL")),
      ("pre_drop_sources",
        n(s"SELECT count(DISTINCT source) FROM $t VERSION AS OF 3")),
      ("type_change_refused", if (typeRefused) 1L else 0L))
      .toDF("metric", "value")
  }

  private[graft] def ensureRenameChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_rn"
    fixture(spark, dir, "rename") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_rn")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, lang, source, n_chars " +
        "FROM documents_src_rn WHERE doc_id % 2 = 0") // v1: the old-name era
      ss.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language") // v2: metadata only
      ss.sql(s"INSERT INTO $t SELECT doc_id, lang, source, n_chars " +
        "FROM documents_src_rn WHERE doc_id % 2 = 1") // v3: the new-name era
      ss.sql(s"ALTER TABLE $t DROP COLUMN source") // v4: takedown-by-column
    }
    (catalogSession(spark, dir), t)
  }

  def sqlRenameOracleSql: String =
    """SELECT * FROM (
         SELECT 'rows_current' AS metric,
                (SELECT count(*) FROM documents) AS value
         UNION ALL SELECT 'langs_current', (SELECT count(DISTINCT lang) FROM documents)
         UNION ALL SELECT 'sum_chars_both_eras',
                (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
         UNION ALL SELECT 'pre_rename_via_old_name',
                (SELECT count(*) FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL)
         UNION ALL SELECT 'pre_drop_sources',
                (SELECT count(DISTINCT source) FROM documents)
         UNION ALL SELECT 'type_change_refused', 1)
       ORDER BY metric"""

  /** X-SQLu — TYPE WIDENING as metadata schema evolution (VERDICT r14
    * #6): half the corpus lands as INT/FLOAT, the columns widen to
    * BIGINT/DOUBLE in one metadata commit (no file moves), the other
    * half lands wide — and both eras read under the widened type, old
    * files up-cast in the vectorized reader. Time travel serves the
    * pre-widen version under its own narrow schema, and narrowing stays
    * refused. Float values are whole numbers (exact in float), so the
    * cross-era sums are integer-exact and hash-checkable. */
  def sqlWiden(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureWidenChain(spark, dir)
    def n(q: String): Long = ss.sql(q).head().getLong(0)
    val narrowRefused = scala.util.Try(
      ss.sql(s"ALTER TABLE $t ALTER COLUMN n_chars TYPE INT")).isFailure
    val widenedTypes = {
      val sch = ss.table(t).schema
      sch("n_chars").dataType == org.apache.spark.sql.types.LongType &&
        sch("score").dataType == org.apache.spark.sql.types.DoubleType
    }
    import ss.implicits._
    Seq(
      ("rows_current", n(s"SELECT count(*) FROM $t")),
      ("sum_chars_both_eras", n(s"SELECT sum(n_chars) FROM $t")),
      ("sum_score_both_eras", n(s"SELECT CAST(sum(CAST(score AS BIGINT)) AS BIGINT) FROM $t")),
      // a value only representable AFTER the widening (> int range)
      ("wide_rows", n(s"SELECT count(*) FROM $t WHERE n_chars > ${Int.MaxValue.toLong}")),
      ("pre_widen_rows", n(s"SELECT count(*) FROM $t VERSION AS OF 1")),
      ("types_widened", if (widenedTypes) 1L else 0L),
      ("narrowing_refused", if (narrowRefused) 1L else 0L))
      .toDF("metric", "value")
  }

  /** The widening fixture: v1 narrow-era ingest (INT/FLOAT), v2+v3 the
    * two widening commits, v4 wide-era ingest including one row whose
    * n_chars exceeds Int range (provably stored wide). */
  private[graft] def ensureWidenChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_wd"
    fixture(spark, dir, "widen") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_wd")
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars INT, score FLOAT)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, CAST(n_chars AS INT), " +
        "CAST(CAST(n_chars % 1024 AS INT) AS FLOAT) " +
        "FROM documents_src_wd WHERE doc_id % 2 = 0") // v1: the narrow era
      ss.sql(s"ALTER TABLE $t ALTER COLUMN n_chars TYPE BIGINT") // v2: metadata only
      ss.sql(s"ALTER TABLE $t ALTER COLUMN score TYPE DOUBLE")   // v3: metadata only
      ss.sql(s"INSERT INTO $t SELECT doc_id, n_chars + ${Int.MaxValue.toLong} + 1, " +
        "CAST(CAST(n_chars % 1024 AS INT) AS DOUBLE) " +
        "FROM documents_src_wd WHERE doc_id % 2 = 1") // v4: the wide era
    }
    (catalogSession(spark, dir), t)
  }

  def sqlWidenOracleSql: String =
    s"""WITH narrow AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                               CAST(n_chars % 1024 AS BIGINT) AS score_i
                        FROM documents WHERE doc_id % 2 = 0),
            wide AS (SELECT doc_id, n_chars + ${Int.MaxValue.toLong} + 1 AS n_chars,
                            CAST(n_chars % 1024 AS BIGINT) AS score_i
                     FROM documents WHERE doc_id % 2 = 1),
            t AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide)
        SELECT * FROM (
          SELECT 'rows_current' AS metric, (SELECT count(*) FROM t) AS value
          UNION ALL SELECT 'sum_chars_both_eras', (SELECT CAST(sum(n_chars) AS BIGINT) FROM t)
          UNION ALL SELECT 'sum_score_both_eras', (SELECT CAST(sum(score_i) AS BIGINT) FROM t)
          UNION ALL SELECT 'wide_rows', (SELECT count(*) FROM t
                                         WHERE n_chars > ${Int.MaxValue.toLong})
          UNION ALL SELECT 'pre_widen_rows', (SELECT count(*) FROM narrow)
          UNION ALL SELECT 'types_widened', 1
          UNION ALL SELECT 'narrowing_refused', 1)
        ORDER BY metric"""

  /** X-SQLz — ATOMIC CTAS / RTAS (catalog/Staging.scala, r15): the
    * nightly full-refresh shape. A corpus lands via CREATE TABLE AS
    * SELECT (one atomic commit: schema + data), takes a takedown DELETE,
    * and is then REPLACED by its own per-lang rollup — REPLACE TABLE AS
    * SELECT is ONE versioned commit with a new schema era, so a failed
    * refresh would abort invisibly (the non-atomic fallback drops the
    * table first and loses it) and the pre-replace generation stays
    * readable under time travel, which `pre_rows` pins. */
  def sqlRtas(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = ensureRtasChain(spark, dir)
    val preRows = ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0)
    import org.apache.spark.sql.functions.lit
    ss.sql(s"SELECT lang, n_docs, sum_chars FROM $t")
      .withColumn("pre_rows", lit(preRows))
  }

  private[graft] def ensureRtasChain(spark: SparkSession, dir: String): (SparkSession, String) = {
    val cat = catName(dir)
    val t = s"$cat.main.docs_rt"
    fixture(spark, dir, "rtas") { ss =>
      Tables.documents(ss, dir).createOrReplaceTempView("documents_src_rt")
      ss.sql(s"CREATE TABLE $t AS SELECT doc_id, lang, n_chars " + // v0+v1 (ctas)
        "FROM documents_src_rt WHERE doc_id % 10 < 8")
      ss.sql(s"DELETE FROM $t WHERE doc_id % $TakedownMod = 0") // v2
      ss.sql(s"""REPLACE TABLE $t AS
                 SELECT lang, count(*) AS n_docs,
                        CAST(sum(n_chars) AS BIGINT) AS sum_chars
                 FROM $t GROUP BY lang""") // v3: new generation, new schema era
    }
    (catalogSession(spark, dir), t)
  }

  def sqlRtasOracleSql: String =
    s"""WITH v1 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 < 8),
            v2 AS (SELECT * FROM v1 WHERE doc_id % $TakedownMod <> 0)
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               (SELECT count(*) FROM v2) AS pre_rows
        FROM v2 GROUP BY lang"""

  def sqlMvOracleSql: String =
    s"""WITH $oracleChainCtes,
        v5 AS (SELECT doc_id, lang, source,
                      CASE WHEN lang = (SELECT min(lang) FROM v4) AND doc_id % 2 = 0
                           THEN n_chars + 10 ELSE n_chars END AS n_chars
               FROM v4)
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               max(n_chars) AS max_chars,
               'incremental' AS first_refresh_mode,
               'incremental' AS second_refresh_mode,
               (SELECT count(DISTINCT lang) FROM v4
                WHERE lang = (SELECT min(lang) FROM v4) AND doc_id % 2 = 0)
                 AS second_changed_keys
        FROM v5 GROUP BY lang"""
}
