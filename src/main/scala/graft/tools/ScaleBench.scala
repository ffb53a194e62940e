package graft.tools

import graft.{Sessions, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-headroom harness (VERDICT r11 #2): every 100 TB claim in
  * SURVEY §2.8 was a plan-shape argument asserted in specs, never a
  * measurement above bench scale. This main converts the claims into
  * measured time-vs-rows slopes: it synthesizes corpora at 3× and 10×
  * sf0.1 by TILING the three big tables, re-runs the most expensive
  * operators at each point, and prints one JSON line per (sf, unit) for
  * SCALE.md.
  *
  * == Why tiling, and why the tiles are vocabulary-disjoint ==
  *
  * A naive 10× copy would make every document 10-way EXACT-duplicate —
  * the near-dup pair count would scale ~100×, measuring a corpus shape no
  * real growth produces. Instead tile k > 0 prefixes every whitespace
  * token with `t<k>`, so shingle/token vocabularies are DISJOINT across
  * tiles: each tile reproduces sf0.1's internal dup/pair structure
  * exactly, cross-tile pairs are impossible, and the ideal reference
  * slope for pair-producing operators is exactly LINEAR in rows. (This is
  * the conservative vocabulary model too: token types grow linearly,
  * where real corpora grow sublinearly — Heaps' law — so vocabulary-
  * bounded operators are measured at their worst case.)
  *
  *  - documents: doc_id shifted per tile; text token-prefixed; n_chars
  *    recomputed from the rewritten text.
  *  - embeddings: vec_id shifted; the vector is ROTATED by k positions —
  *    norms and intra-tile geometry are preserved (cosine is rotation-
  *    invariant under a shared permutation), so per-tile neighbor
  *    structure matches sf0.1 while cross-tile vectors stay generic.
  *  - events: event_id/user_id shifted (10× users, same per-user session
  *    shape), ts shifted by k × (span + 1 h) — 10× the time range, so
  *    window/session counts scale linearly like a longer ingest history.
  *
  * TPC-H-shaped tables are not tiled (none of the measured operators
  * reads them); they are linked verbatim so table loads keep working.
  *
  * Usage: ScaleBench [baseSfDir] [workDir] [points]
  *   generates workDir/sfx{3,10,30} (skipped when already
  *   present — tiling is deterministic), then times the target queries at
  *   the selected points (comma list of x1/x3/x10/x30; default all).
  *
  * == Measurement validity: ONE JVM PER POINT, with the bench JVM flags ==
  *
  * The first r12 sweep ran all three points in one default-flag JVM and
  * measured store_pairs at 6.9 s / 14.6 s / 241 s — an apparent 35×
  * super-linearity that stage-level profiling (PairsDebug) dissolved into
  * JIT noise: the identical x10 build re-measured at 9.7-30.9 s in fresh
  * JVMs, and the composed plan's stage work was linear throughout
  * (8.8M candidates ≈ 9× the 1× point's 976k). Two confounds, both now
  * structural: (a) plain `java` runs don't inherit build.sbt's
  * `-XX:ReservedCodeCacheSize=2g`, so the default 240 MB code cache fills
  * mid-sweep and later plans run interpreted/recompiling; (b) a shared
  * JVM biases LATER points — and the points run in size order, so
  * accumulated JIT state always lands on the biggest corpus, reading as
  * super-linearity. Hence: launch one process per point (the `points`
  * arg exists for exactly this) and pass the build.sbt javaOptions.
  */
object ScaleBench {

  /** The measured set: the most expensive non-streaming operators of the
    * r11 bench (VERDICT r11 #2's list, with q_pipeline_dimension swapped
    * for q_ann_ivf_kmeans — the pipeline query's inputs are the TPC-H
    * tables, which this harness deliberately does not tile, so its
    * "slope" would be a constant; the IVF+k-means build is the next most
    * expensive operator and exercises the embeddings axis) plus
    * q_sessionize for the events/custom-state axis. */
  val targets: Seq[String] = Seq(
    "q_bigram_logprob", "q_cc_star", "q_ppjoin", "q_dedup_near",
    "q_containment_pairs", "q_winnow_pairs", "q_triangle_count",
    "q_opq_audit", "q_dup_spans", "q_pagerank", "q_kn_logprob",
    "q_ann_ivf_kmeans", "q_sessionize", "cdc_probe", "spj_probe", "eq_probe")

  /** The claim under measurement (round 13, file-granular COW): on a
    * CLUSTERED catalog table, a fixed-size UPDATE REWRITES a bounded
    * file set regardless of table size — the row-level scan prunes the
    * manifest with the verb's condition and the commit inherits every
    * other file — so both the rewrite and the change feed of that commit
    * ([[graft.catalog.ChangeFeed]], cost ∝ touched files) should be
    * ~FLAT across corpus scale while ingest grows linearly. The probe
    * ingests the point's documents WITH the text payload (so per-file
    * rewrite cost is real bytes, not metadata noise) into a
    * `PARTITIONED BY (doc_id)` table, updates the SAME ~500 base-tile
    * docs at every point (tile ids shift upward, so the base window
    * exists everywhere), and times the rewrite + the feed of just that
    * commit. The manifest diff of the UPDATE commit is reported
    * alongside (`cdc_files_rewritten` / `cdc_files_total`), so the
    * bounded-subset claim is printed per point, not asserted. */
  def cdcProbe(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val ss = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory(graft.Artifacts.root, "scale-cdc-")
    val cat = s"scdc${math.abs(dir.hashCode).toString.take(8)}"
    ss.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    // keep the small-scale range shuffle wide so the layout has >1 file
    // (at real scale data volume does this on its own)
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val t = s"$cat.main.docs"
    Tables.documents(ss, dir).createOrReplaceTempView("docs_cdc_src")
    val bound = ss.sql(
      "SELECT max(doc_id) FROM (SELECT doc_id FROM docs_cdc_src ORDER BY doc_id LIMIT 500)")
      .head().getLong(0)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val ingest = timed {
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (doc_id)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, text, lang, n_chars FROM docs_cdc_src")
    }
    // MATERIALIZED VIEW created between ingest and update (watermark =
    // the ingest commit), so the later refresh sees exactly the UPDATE's
    // churn; keyed on doc_id so the affected-key recompute is ~500 tiny
    // groups through an inlined IN over the clustered layout
    val mvBuild = timed {
      ss.sql(s"CALL $cat.system.create_mv(view => 'main.docs_stats', " +
        "source => 'main.docs', keys => 'doc_id', aggs => 'n:count,chars:max(n_chars)')")
    }
    val update = timed {
      ss.sql(s"UPDATE $t SET n_chars = n_chars + 1 WHERE doc_id <= $bound")
    }
    val (total, rewritten, _, _) = graft.catalog.Manifests.commitFileDiff(ss, t, 2)
    val feed = timed {
      graft.catalog.ChangeFeed.tableChanges(ss, t, 2, 2, keyCols = Seq("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
    // MATERIALIZED-VIEW refresh (round 13, Mv.scala): the MV watermark
    // is the ingest commit, so this refresh's affected-key recompute
    // covers exactly the UPDATE's ~500 touched keys — fed by the change
    // feed (∝ churn) and recomputed through an inlined IN that prunes
    // the clustered layout's file list (kept/total reported). The claim
    // under measurement: mv_refresh ~FLAT across corpus scale while
    // mv_build (the initial full load) grows linearly.
    val mvRefresh = timed {
      ss.sql(s"CALL $cat.system.refresh_mv(view => 'main.docs_stats')").collect()
    }
    val (mvKept, mvTotal) = graft.catalog.SkipRecorder
      .lastFor(s"$t@v${graft.catalog.Manifests.latestVersion(ss, t)}").getOrElse((-1, -1))
    // MERGE over the same fixed window: its ON condition is
    // source-dependent, so the bounded rewrite here is the RUNTIME
    // group-filter subquery at work (round 13), not footer stats —
    // cost = one pass over candidate files for the subquery + the
    // rewrite of matched files; both ∝ churn, never the table
    val merge = timed {
      ss.sql(s"""MERGE INTO $t x
                 USING (SELECT doc_id, n_chars FROM docs_cdc_src WHERE doc_id <= $bound) s
                 ON x.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 2""")
    }
    val (mTotal, mRewritten, _, _) = graft.catalog.Manifests.commitFileDiff(ss, t, 3)
    // MERGE-ON-READ takedown (round 13): switch the SAME table to
    // merge-on-read and delete one row — the commit is a few-KB
    // tombstone blob, so the time should be ~FLAT across corpus scale
    // and the moved-file count EXACTLY zero (printed per point). This
    // is the arm even file-granular COW can't match: COW's one-row
    // takedown rewrites the row's whole file, which GROWS with the
    // per-file data volume.
    val morDelete = timed {
      ss.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
      ss.sql(s"DELETE FROM $t WHERE doc_id = $bound")
    }
    val vMor = graft.catalog.Manifests.latestVersion(ss, t)
    val (_, morRemoved, morAdded, _) = graft.catalog.Manifests.commitFileDiff(ss, t, vMor)
    val morFeed = timed {
      graft.catalog.ChangeFeed.tableChanges(ss, t, vMor, vMor, keyCols = Seq("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
    // READ-SIDE COST OF A VECTORED TABLE (round 14): the table now holds
    // one deletion vector. The masked columnar remap (Dv.scala) keeps
    // the scan vectorized, so a full analytical pass over the DV'd live
    // table should cost ≈ the same pass over the immediately-pre-delete
    // version (same files, no vector) — the claim is the ratio, measured
    // in one JVM back-to-back, warmed once each.
    def scanTime(q: String): Double = { ss.sql(q).collect(); timed(ss.sql(q).collect()) }
    val dvScan = scanTime(s"SELECT sum(n_chars), count(*) FROM $t")
    val cleanScan = scanTime(
      s"SELECT sum(n_chars), count(*) FROM $t VERSION AS OF ${vMor - 1}")
    graft.Artifacts.deleteTree(root)
    Seq("cdc_ingest" -> ingest, "cdc_update" -> update, "cdc_feed" -> feed,
      "cdc_files_rewritten" -> rewritten.toDouble, "cdc_files_total" -> total.toDouble,
      "mv_build" -> mvBuild, "mv_refresh" -> mvRefresh,
      "mv_refresh_files_kept" -> mvKept.toDouble,
      "mv_refresh_files_total" -> mvTotal.toDouble,
      "cdc_merge" -> merge,
      "cdc_merge_files_rewritten" -> mRewritten.toDouble,
      "cdc_merge_files_total" -> mTotal.toDouble,
      "mor_takedown" -> morDelete,
      "mor_takedown_files_moved" -> (morRemoved + morAdded).toDouble,
      "mor_feed" -> morFeed,
      "mor_scan_dv" -> dvScan,
      "mor_scan_clean" -> cleanScan)
  }

  /** STORAGE-PARTITIONED JOIN at scale (round 14, Spj.scala): two
    * bucket(16, doc_id) catalog tables built from the corpus, joined
    * with broadcast disabled — once with v2 bucketing ON (the SPJ plan,
    * zero Exchange) and once OFF (both sides shuffle). The claim under
    * measurement: the ON/OFF gap WIDENS with corpus size (the shuffle
    * is the part that grows), and the ON plan stays Exchange-free at
    * every point. */
  def spjProbe(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val ss = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory(graft.Artifacts.root, "scale-spj-")
    val cat = s"sspj${math.abs(dir.hashCode).toString.take(8)}"
    ss.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    Tables.documents(ss, dir).createOrReplaceTempView("docs_spj_src")
    val build = timed {
      ss.sql(s"CREATE TABLE $cat.main.d (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id))")
      ss.sql(s"CREATE TABLE $cat.main.f (doc_id BIGINT, fp BIGINT) " +
        "PARTITIONED BY (bucket(16, doc_id))")
      ss.sql(s"INSERT INTO $cat.main.d SELECT doc_id, lang, n_chars FROM docs_spj_src")
      ss.sql(s"INSERT INTO $cat.main.f SELECT doc_id, n_chars % 1000 FROM docs_spj_src")
    }
    val joinSql =
      s"""SELECT count(*), sum(d.n_chars + f.fp) FROM $cat.main.d d
          JOIN $cat.main.f f ON d.doc_id = f.doc_id"""
    def exchanges(): Int = {
      val q = ss.sql(joinSql)
      q.collect()
      "Exchange (hash|range)partitioning".r
        .findAllIn(q.queryExecution.executedPlan.toString).length
    }
    val exOn = exchanges() // also warms
    val spjOn = timed(ss.sql(joinSql).collect())
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val exOff = exchanges()
    val spjOff = timed(ss.sql(joinSql).collect())
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // MOR × SPJ (r15): churn the fact side under merge-on-read (vectors +
    // bucket-pure reinsert deltas), then re-time the SAME join — the
    // masked bucket-grouped read's tax over the clean SPJ join, and the
    // plan properties (still zero Exchanges, masked groups present)
    val morChurn = timed {
      ss.sql(s"ALTER TABLE $cat.main.d SET TBLPROPERTIES " +
        "('write.row_level.mode'='merge-on-read')")
      ss.sql(s"DELETE FROM $cat.main.d WHERE doc_id % 97 = 0")
      ss.sql(s"UPDATE $cat.main.d SET n_chars = n_chars + 1 WHERE doc_id % 10 = 3")
    }
    val warm2 = ss.sql(joinSql)
    warm2.collect() // warm the masked plan
    val morPlan = warm2.queryExecution.executedPlan.toString
    val morEx = "Exchange (hash|range)partitioning".r.findAllIn(morPlan).length
    val morMasked = if (morPlan.contains("dv-masked members")) 1.0 else 0.0
    val morJoin = timed(ss.sql(joinSql).collect())
    graft.Artifacts.deleteTree(root)
    Seq("spj_build" -> build, "spj_join_on" -> spjOn, "spj_join_off" -> spjOff,
      "spj_exchanges_on" -> exOn.toDouble, "spj_exchanges_off" -> exOff.toDouble,
      "morspj_churn" -> morChurn, "morspj_join_masked" -> morJoin,
      "morspj_exchanges" -> morEx.toDouble, "morspj_masked" -> morMasked)
  }

  /** EQUALITY DELETES at scale (round 16, Eq.scala): the claim under
    * measurement is the zero-read write path — a FIXED ~500-key upsert
    * batch (the base-tile window, present at every point) should cost
    * ~FLAT across 30× corpus growth with ZERO files removed, because
    * `CALL system.eq_upsert` writes insert files + one tombstone blob
    * and never opens a fact file. The twin MOR MERGE of the SAME batch
    * pays the corpus-side (file, pos) resolution per batch — its slope
    * is the cost equality deletes exist to remove. The read-side tax
    * (`eq_scan_masked` vs the pre-upsert clean scan) and the nightly
    * repair (`eq_compact`, ∝ corpus by design) are printed alongside. */
  def eqProbe(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val ss = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory(graft.Artifacts.root, "scale-eq-")
    val cat = s"seq${math.abs(dir.hashCode).toString.take(8)}"
    ss.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val t = s"$cat.main.docs"
    val tm = s"$cat.main.docsmor"
    Tables.documents(ss, dir).createOrReplaceTempView("docs_eq_src")
    val bound = ss.sql(
      "SELECT max(doc_id) FROM (SELECT doc_id FROM docs_eq_src ORDER BY doc_id LIMIT 500)")
      .head().getLong(0)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val ingest = timed {
      ss.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (doc_id)")
      ss.sql(s"INSERT INTO $t SELECT doc_id, text, lang, n_chars FROM docs_eq_src")
      ss.sql(s"CREATE TABLE $tm (doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT) " +
        "PARTITIONED BY (doc_id) " +
        "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
      ss.sql(s"INSERT INTO $tm SELECT doc_id, text, lang, n_chars FROM docs_eq_src")
    }
    def scanTime(q: String): Double = { ss.sql(q).collect(); timed(ss.sql(q).collect()) }
    val cleanScan = scanTime(s"SELECT sum(n_chars), count(*) FROM $t")
    ss.sql(s"SELECT doc_id, text, lang, n_chars + 1 AS n_chars FROM docs_eq_src " +
      s"WHERE doc_id <= $bound").createOrReplaceTempView("eq_probe_batch")
    val upsert = timed {
      ss.sql(s"CALL $cat.system.eq_upsert(table => 'main.docs', " +
        "source => 'eq_probe_batch', key => 'doc_id')")
    }
    val vUp = graft.catalog.Manifests.latestVersion(ss, t)
    val (_, upRemoved, _, _) = graft.catalog.Manifests.commitFileDiff(ss, t, vUp)
    val merge = timed {
      ss.sql(s"""MERGE INTO $tm x USING eq_probe_batch s ON x.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
                 WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, n_chars)
                   VALUES (s.doc_id, s.text, s.lang, s.n_chars)""")
    }
    val maskedScan = scanTime(s"SELECT sum(n_chars), count(*) FROM $t")
    val compact = timed {
      ss.sql(s"CALL $cat.system.compact(table => 'main.docs', target_files => 8)").collect()
    }
    graft.Artifacts.deleteTree(root)
    Seq("eq_ingest" -> ingest, "eq_upsert_batch" -> upsert,
      "eq_files_removed" -> upRemoved.toDouble,
      "mor_merge_batch" -> merge,
      "eq_scan_clean" -> cleanScan, "eq_scan_masked" -> maskedScan,
      "eq_compact" -> compact)
  }

  /** Staged artifacts the targets read (the bench pre-builds the same
    * ones): timed separately so the one-time build cost — the "cold"
    * arm of q_dedup_near / q_ppjoin — gets its own slope row. */
  def storeBuilds(spark: SparkSession, dir: String): Seq[(String, () => Any)] = Seq(
    "store_sigs" -> (() => graft.operators.Dedup.ensureSignatureStore(spark, dir)),
    "store_pairs" -> (() => graft.operators.Dedup.nearDupPairs(spark, dir)),
    "store_ppjoin" -> (() => graft.operators.PrefixJoin.ensurePrefixIndex(spark, dir)))

  def tileDocuments(spark: SparkSession, src: String, dst: String, times: Int): Long = {
    val docs = Tables.documents(spark, src)
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until times).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(split(col("text"), " ", -1), x => concat(lit(s"t$k"), x)), " ")
      docs.select((col("doc_id") + lit(k * stride)).as("doc_id"), text.as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionAll _)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    stride * times
  }

  def tileEmbeddings(spark: SparkSession, src: String, dst: String, times: Int): Unit = {
    val e = Tables.embeddings(spark, src)
    val stride = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    (0 until times).map { k =>
      val rot = k % dim
      val emb =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      e.select((col("vec_id") + lit(k * stride)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  def tileEvents(spark: SparkSession, src: String, dst: String, times: Int): Unit = {
    val ev = Tables.events(spark, src)
    val b = ev.agg(unix_micros(min(col("ts"))).as("lo"), unix_micros(max(col("ts"))).as("hi"),
      max(col("event_id")).as("me"), max(col("user_id")).as("mu")).head()
    val spanUs = b.getLong(1) - b.getLong(0) + 3600L * 1000000L
    val (eStride, uStride) = (b.getLong(2) + 1, b.getLong(3) + 1)
    (0 until times).map { k =>
      ev.select((col("event_id") + lit(k * eStride)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + lit(k * spanUs)).as("ts"),
        (col("user_id") + lit(k * uStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
  }

  def generate(spark: SparkSession, src: String, dst: String, times: Int): Unit = {
    // deterministic tiling → an existing complete corpus is THE corpus;
    // skipping makes one-JVM-per-point sweeps pay generation once
    if (Seq("documents", "embeddings", "events").forall(t =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/$t.parquet/_SUCCESS"))))
      return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    tileDocuments(spark, src, dst, times)
    tileEmbeddings(spark, src, dst, times)
    tileEvents(spark, src, dst, times)
    // untiled tables: link verbatim (none of the targets reads them)
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")) {
      val to = java.nio.file.Paths.get(s"$dst/$t.parquet")
      if (!java.nio.file.Files.exists(to))
        java.nio.file.Files.createSymbolicLink(to,
          java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.drop(1).headOption.getOrElse("/root/repo/target/scale")
    val wanted = args.drop(2).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // optional 4th arg: subset of targets/builds to measure (re-sweeps of
    // one new operator shouldn't pay for the whole battery)
    val wantedTargets = args.drop(3).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def sel(name: String): Boolean = wantedTargets.forall(_.contains(name))
    val spark = Sessions.build("graft-scale")
    spark.range(1000000).selectExpr("sum(id) s").collect()

    val points: Seq[(String, Int, String)] = Seq(
      ("x1", 1, base),
      ("x3", 3, s"$work/sfx3"),
      ("x10", 10, s"$work/sfx10"),
      ("x30", 30, s"$work/sfx30"))
      .filter { case (name, _, _) => wanted.forall(_.contains(name)) }
    require(points.nonEmpty, s"no points selected from ${wanted.getOrElse(Set())}")
    points.filter(_._2 > 1).foreach { case (name, times, dst) =>
      val t0 = System.nanoTime()
      generate(spark, base, dst, times)
      System.err.println(f"[scale] generated $name at $dst in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    def clearState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val results = points.map { case (name, times, dir) =>
      val nDocs = Tables.documents(spark, dir).count()
      val builds = storeBuilds(spark, dir).filter(b => sel(b._1)).map { case (bn, b) =>
        clearState()
        val t0 = System.nanoTime()
        b()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scale] $name $bn $sec%.1f s")
        bn -> sec
      }
      val qs = targets.filter(sel).flatMap {
        case "cdc_probe" =>
          clearState()
          val rows = cdcProbe(spark, dir)
          rows.foreach { case (k, v) => System.err.println(f"[scale] $name $k $v%.1f s") }
          rows
        case "spj_probe" =>
          clearState()
          val rows = spjProbe(spark, dir)
          rows.foreach { case (k, v) => System.err.println(f"[scale] $name $k $v%.1f s") }
          rows
        case "eq_probe" =>
          clearState()
          val rows = eqProbe(spark, dir)
          rows.foreach { case (k, v) => System.err.println(f"[scale] $name $k $v%.1f s") }
          rows
        case q =>
          clearState()
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[scale] $name $q $sec%.1f s")
          Seq(q -> sec)
      }
      (name, times, nDocs, builds ++ qs)
    }
    results.foreach { case (name, times, nDocs, rows) =>
      val body = rows.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"point":"$name","tiles":$times,"n_docs":$nDocs,$body}""")
    }
    spark.stop()
  }
}
