package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.freshCatalog

/** Storage-partitioned joins over catalog `bucket(n, col)` tables
  * (Spj.scala): the write path produces bucket-pure files with recorded
  * bucket ids, the scan reports KeyGroupedPartitioning, and Spark plans
  * a co-bucketed equi-join with ZERO Exchange on either side — the one
  * remaining 100 TB shuffle of r13's verdict. Every arm also pins
  * CONTENT against a plain recompute: the join property must never cost
  * a row. */
class SpjSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def exchanges(plan: String): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(plan).length

  test("the synthetic split-id arithmetic stays inside Int for every legal layout") {
    import graft.catalog.GraftBucket
    // the DDL cap times the guard's max partition sits exactly at the
    // overflow boundary (ADVICE r14: a wrapped id could collide file
    // names within one job and mis-decode the bucket channel)
    val n = GraftBucket.MaxBuckets
    val maxPid = GraftBucket.maxSafePartition(n)
    assert(maxPid.toLong * n + (n - 1) <= Int.MaxValue.toLong)
    assert((maxPid + 1).toLong * n + (n - 1) > Int.MaxValue.toLong)
    // small layouts keep effectively unbounded write-task counts
    assert(GraftBucket.maxSafePartition(16) > 100000000)
  }

  test("co-bucketed catalog join plans with zero Exchange and exact content") {
    val (ss, c) = freshCatalog("spj_join")
    ss.sql(s"CREATE TABLE $c.ns.docs (doc_id BIGINT, score DOUBLE) " +
      "PARTITIONED BY (bucket(8, doc_id))")
    ss.sql(s"CREATE TABLE $c.ns.feats (doc_id BIGINT, toks BIGINT) " +
      "PARTITIONED BY (bucket(8, doc_id))")
    ss.sql(s"INSERT INTO $c.ns.docs SELECT id, id * 0.5 FROM range(0, 5000)")
    ss.sql(s"INSERT INTO $c.ns.feats SELECT id, id % 97 FROM range(0, 5000)")

    // broadcast off throughout: the claim is the SPJ plan, and at test
    // scale a broadcast join would be Exchange-free for the wrong reason
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = ss.sql(
      s"""SELECT d.doc_id, d.score, f.toks
          FROM $c.ns.docs d JOIN $c.ns.feats f ON d.doc_id = f.doc_id""")
    val plan = joined.queryExecution.executedPlan.toString
    assert(exchanges(plan) == 0,
      s"co-bucketed join must be Exchange-free on both sides:\n${plan.take(3000)}")
    // content: every row joins, values exact
    assert(joined.count() == 5000)
    val probe = joined.filter("doc_id = 4321").head()
    assert(probe.getDouble(1) == 2160.5 && probe.getLong(2) == 4321 % 97)

    // red arm: with v2 bucketing off, the same join shuffles both sides
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val shuffled = ss.sql(
        s"""SELECT d.doc_id, f.toks FROM $c.ns.docs d
            JOIN $c.ns.feats f ON d.doc_id = f.doc_id""")
      val redPlan = shuffled.queryExecution.executedPlan.toString
      assert(exchanges(redPlan) >= 1,
        s"disabling v2 bucketing must restore the shuffle:\n${redPlan.take(2000)}")
      assert(shuffled.count() == 5000)
    } finally {
      ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    }
  }

  test("GROUP BY on the bucket column aggregates with zero Exchange too") {
    val (ss, c) = freshCatalog("spj_agg")
    ss.sql(s"CREATE TABLE $c.ns.t (doc_id BIGINT, v BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    // repeated keys so groups are non-trivial
    ss.sql(s"INSERT INTO $c.ns.t SELECT id % 500, id FROM range(0, 5000)")
    val q = ss.sql(s"SELECT doc_id, count(*) AS n, sum(v) AS s FROM $c.ns.t GROUP BY doc_id")
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(exchanges(plan) == 0,
      s"bucket-column aggregation must be Exchange-free:\n${plan.take(2500)}")
    assert(rows.length == 500)
    val probe = rows.find(_.getLong(0) == 7L).get
    assert(probe.getLong(1) == 10 &&
      probe.getLong(2) == (0 until 10).map(k => 7L + 500L * k).sum)
  }

  test("every written file is bucket-pure with its id in the manifest; appends too") {
    val (ss, c) = freshCatalog("spj_pure")
    ss.sql(s"CREATE TABLE $c.ns.t (k STRING, v BIGINT) PARTITIONED BY (bucket(4, k))")
    ss.sql(s"INSERT INTO $c.ns.t SELECT concat('key', CAST(id AS STRING)), id FROM range(0, 2000)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT concat('more', CAST(id AS STRING)), id FROM range(0, 500)")
    val v = graft.catalog.Manifests.latestVersion(ss, s"$c.ns.t")
    val ids = graft.catalog.Manifests.bucketIds(ss, s"$c.ns.t", v)
    assert(ids.nonEmpty)
    // every file has a recorded bucket id
    assert(ids.values.forall(_.isDefined), ids.toString)
    // purity: re-derive each row's bucket and compare to its file's id
    val perFile = ss.sql(s"SELECT _file, k FROM $c.ns.t").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    perFile.foreach { case (file, keys) =>
      val declared = ids(file).get
      val derived = keys.map(k => graft.catalog.GraftBucket.bucketOfString(
        org.apache.spark.unsafe.types.UTF8String.fromString(k), 4)).distinct
      assert(derived == Seq(declared),
        s"$file declared bucket $declared but holds buckets $derived")
    }
    // at least two distinct buckets materialized (the mixer spreads keys)
    assert(ids.values.flatten.toSeq.distinct.size >= 2)
  }

  test("COW verbs and compaction preserve the layout; the join stays Exchange-free") {
    val (ss, c) = freshCatalog("spj_verbs")
    ss.sql(s"CREATE TABLE $c.ns.a (doc_id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    ss.sql(s"CREATE TABLE $c.ns.b (doc_id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    ss.sql(s"INSERT INTO $c.ns.a SELECT id, id FROM range(0, 3000)")
    ss.sql(s"INSERT INTO $c.ns.b SELECT id, id * 2 FROM range(0, 3000)")
    // churn side a: update + delete + merge (file-granular COW rewrites)
    ss.sql(s"UPDATE $c.ns.a SET v = v + 1 WHERE doc_id % 10 = 3")
    ss.sql(s"DELETE FROM $c.ns.a WHERE doc_id >= 2900")
    ss.sql(s"MERGE INTO $c.ns.a t USING (SELECT id AS doc_id, id * 5 AS v " +
      "FROM range(2950, 3050)) s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    // then compact side a down (bucket-pure rewrite path)
    ss.sql(s"CALL $c.system.compact(table => 'ns.a', target_files => 4)")
    val v = graft.catalog.Manifests.latestVersion(ss, s"$c.ns.a")
    val ids = graft.catalog.Manifests.bucketIds(ss, s"$c.ns.a", v)
    assert(ids.values.forall(_.isDefined),
      s"post-verb manifest lost bucket ids: ${ids.filter(_._2.isEmpty).keys}")
    // the labels must also be TRUE: re-derive each row's bucket
    val perFile = ss.sql(s"SELECT _file, doc_id FROM $c.ns.a").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    perFile.foreach { case (file, keys) =>
      val derived = keys.map(graft.catalog.GraftBucket.bucketOfLong(_, 4)).distinct
      assert(derived == Seq(ids(file).get),
        s"$file labeled bucket ${ids(file).get} but holds buckets $derived")
    }

    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = ss.sql(s"SELECT a.doc_id, a.v, b.w FROM $c.ns.a a " +
      s"JOIN $c.ns.b b ON a.doc_id = b.doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    assert(exchanges(plan) == 0, s"post-churn join regained a shuffle:\n${plan.take(3000)}")
    // content equals the same verb sequence replayed relationally
    val expect = (0L until 3000L).filterNot(_ >= 2900)
      .map(id => (id, if (id % 10 == 3) id + 1 else id)) ++
      (2950L until 3050L).map(id => (id, id * 5))
    val expectJoined = expect.filter(_._1 < 3000).map { case (id, v) => (id, v, id * 2) }.sorted
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == expectJoined, s"join content diverged (got ${got.length} rows, " +
      s"want ${expectJoined.length})")
  }

  test("guard rails: bucket re-layout refused on non-empty, bad types refused") {
    val (ss, c) = freshCatalog("spj_guards")
    val e2 = intercept[Exception](ss.sql(
      s"CREATE TABLE $c.ns.f (x DOUBLE) PARTITIONED BY (bucket(4, x))"))
    assert(e2.getMessage.contains("bucket"), e2.getMessage)
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, id FROM range(0, 100)")
    val e4 = intercept[Exception](ss.sql(
      s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => 'bucket(8,id)')"))
    assert(e4.getMessage.contains("bucket layout"), e4.getMessage)
    // dropping the bucket spec is always allowed (stale ids are ignored)
    ss.sql(s"CALL $c.system.set_clustering(table => 'ns.t', cluster_by => 'id')")
    assert(ss.sql(s"SELECT count(*) FROM $c.ns.t").head().getLong(0) == 100)
  }

  test("merge-on-read composes with the bucket layout: pure deltas, masked SPJ") {
    // VERDICT r14 #3: the continuous-upsert corpus was the one table that
    // could not carry the shuffle-free join. Now: deletes write vectors
    // (no data file moves), MERGE/UPDATE reinserts fan out bucket-pure,
    // and the SPJ scan serves vectored members masked INSIDE their
    // bucket groups.
    val (ss, c) = freshCatalog("spj_mor")
    ss.sql(s"CREATE TABLE $c.ns.m (id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"CREATE TABLE $c.ns.dim (id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.m SELECT id, id * 10 FROM range(0, 400)")
    ss.sql(s"INSERT INTO $c.ns.dim SELECT id, id FROM range(0, 400)")
    // takedown DELETE: a vector blob, zero data files rewritten
    val before = graft.catalog.Manifests.files(ss, s"$c.ns.m",
      graft.catalog.Manifests.latestVersion(ss, s"$c.ns.m"))
    ss.sql(s"DELETE FROM $c.ns.m WHERE id % 7 = 0")
    val afterDel = graft.catalog.Manifests.files(ss, s"$c.ns.m",
      graft.catalog.Manifests.latestVersion(ss, s"$c.ns.m"))
    assert(afterDel == before, "a MOR DELETE must not move data files")
    // UPDATE = vector + bucket-pure reinsert delta files
    ss.sql(s"UPDATE $c.ns.m SET v = v + 1 WHERE id % 5 = 1")
    // delta-file BUCKET PURITY: every live row's file holds exactly the
    // bucket its id hashes to, reinserts included (_file + recompute)
    import graft.catalog.GraftBucket
    val byFile = ss.sql(s"SELECT _file, id FROM $c.ns.m").collect()
      .map(r => (r.getString(0), GraftBucket.bucketOfLong(r.getLong(1), 4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byFile.nonEmpty && byFile.values.forall(_.length == 1),
      s"impure files: ${byFile.filter(_._2.length > 1).keys.mkString(", ")}")
    // and each file's recorded manifest bucket equals its rows' bucket
    byFile.foreach { case (f, bs) =>
      val named = GraftBucket.bucketFromFileName(
        java.nio.file.Paths.get(f).getFileName.toString, 4)
      assert(named.contains(bs.head), s"$f: name says $named, rows say ${bs.head}")
    }
    // the join stays Exchange-free WITH vectors in scope, masked grouping
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT m.id, m.v, d.w FROM $c.ns.m m JOIN $c.ns.dim d ON m.id = d.id")
      val plan = j.queryExecution.executedPlan.toString
      assert(exchanges(plan) == 0, s"MOR SPJ join shuffled:\n${plan.take(3000)}")
      assert(plan.contains("dv-masked members"), s"expected masked bucket groups:\n${plan.take(3000)}")
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val want = (0L until 400L).filter(_ % 7 != 0)
        .map(id => (id, if (id % 5 == 1) id * 10 + 1 else id * 10))
      assert(got.toSeq == want, s"content diverged: got ${got.length}, want ${want.length}")
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // compaction materializes the vectors away; the layout and join survive
    ss.sql(s"CALL $c.system.compact(table => 'ns.m', target_files => 4)")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j2 = ss.sql(s"SELECT count(*) FROM $c.ns.m m JOIN $c.ns.dim d ON m.id = d.id")
      assert(exchanges(j2.queryExecution.executedPlan.toString) == 0)
      assert(j2.head().getLong(0) == (0L until 400L).count(_ % 7 != 0))
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("static point predicates prune bucket groups; non-key and range stay whole") {
    // r15: footer min/max bound nothing on a hash-scattered key — the
    // point lookup's pruning IS the bucket hash. Lossless at every prune
    // site (read scans, COW scopes, MOR scopes share pruneFilesFor).
    val (ss, c) = freshCatalog("spj_static")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) PARTITIONED BY (bucket(8, id))")
    ss.sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(0, 4000)")
    def kept(): (Int, Int) = graft.catalog.SkipRecorder.lastFor(t)
      .getOrElse(fail("no skip record"))
    graft.catalog.SkipRecorder.clear(t)
    val one = ss.sql(s"SELECT v FROM $t WHERE id = 1234").collect()
    assert(one.toSeq.map(_.getLong(0)) == Seq(2468L))
    val (k1, t1) = kept()
    assert(k1 < t1, s"point lookup kept $k1 of $t1 files")
    graft.catalog.SkipRecorder.clear(t)
    val two = ss.sql(s"SELECT sum(v) FROM $t WHERE id IN (3, 257)").head().getLong(0)
    assert(two == (3L + 257L) * 2)
    val (k2, t2) = kept()
    assert(k2 < t2 && k2 <= (t2 * 2 + 7) / 8 * 2, s"IN lookup kept $k2 of $t2")
    // a RANGE predicate on the bucket column says nothing a hash can use;
    // a predicate on a NON-key column says nothing either — both stay
    // conservative and exact
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE id < 100").head().getLong(0) == 100)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v = 88").head().getLong(0) == 1)
    // the COW scope shares the pruning: a point DELETE rewrites a strict
    // file subset
    graft.catalog.SkipRecorder.clear(s"$t#cow")
    ss.sql(s"DELETE FROM $t WHERE id = 77")
    graft.catalog.SkipRecorder.lastFor(s"$t#cow").foreach { case (kc, tc) =>
      assert(kc < tc, s"point DELETE rewrote $kc of $tc files")
    }
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3999)
    // IS NULL prunes to bucket 0 (the fanout's null route) and stays exact
    ss.sql(s"INSERT INTO $t VALUES (NULL, -1)")
    assert(ss.sql(s"SELECT v FROM $t WHERE id IS NULL").head().getLong(0) == -1L)
  }

  test("streaming appends into a bucketed MOR table stay bucket-pure; SPJ survives") {
    // the continuous-upsert pipeline end to end: stream epochs fan out
    // bucket-pure (GraftStreamingWrite rides the same fanout), a takedown
    // DELETE adds vectors, and the join still plans Exchange-free with
    // masked bucket groups.
    val (ss, c) = freshCatalog("spj_stream")
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-spjstream-").toString
    ss.range(0, 500).selectExpr("id", "id * 2 AS v").repartition(4)
      .write.mode("overwrite").parquet(s"$out/in")
    ss.sql(s"CREATE TABLE $c.ns.m (id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    ss.sql(s"CREATE TABLE $c.ns.dim (id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.dim SELECT id, id FROM range(0, 500)")
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val q = ss.readStream.schema(inSchema).option("maxFilesPerTrigger", "2")
      .parquet(s"$out/in")
      .writeStream.option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$c.ns.m")
    q.awaitTermination()
    ss.sql(s"DELETE FROM $c.ns.m WHERE id % 9 = 0") // vectors over streamed files
    import graft.catalog.GraftBucket
    val byFile = ss.sql(s"SELECT _file, id FROM $c.ns.m").collect()
      .map(r => (r.getString(0), GraftBucket.bucketOfLong(r.getLong(1), 4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byFile.nonEmpty && byFile.values.forall(_.length == 1),
      s"streamed files not bucket-pure: ${byFile.filter(_._2.length > 1).keys.mkString(", ")}")
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT m.id, m.v, d.w FROM $c.ns.m m JOIN $c.ns.dim d ON m.id = d.id")
      val plan = j.queryExecution.executedPlan.toString
      assert(exchanges(plan) == 0, s"streamed SPJ join shuffled:\n${plan.take(2500)}")
      assert(plan.contains("dv-masked members"))
      assert(j.count() == (0L until 500L).count(_ % 9 != 0))
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("widening the bucket key keeps the layout: old files' buckets stay valid") {
    // int->bigint widening is murmur-consistent (the int path already
    // mixed the widened long), so a bucket(4, id INT) table widened to
    // BIGINT keeps every recorded bucket id correct — the join stays
    // Exchange-free across both eras.
    val (ss, c) = freshCatalog("spj_widen")
    ss.sql(s"CREATE TABLE $c.ns.t (id INT, v BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.t SELECT CAST(id AS INT), id FROM range(0, 200)")
    ss.sql(s"ALTER TABLE $c.ns.t ALTER COLUMN id TYPE BIGINT")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, id FROM range(200, 400)")
    ss.sql(s"CREATE TABLE $c.ns.d (id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.d SELECT id, id * 7 FROM range(0, 400)")
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT t.id, t.v, d.w FROM $c.ns.t t JOIN $c.ns.d d ON t.id = d.id")
      assert(exchanges(j.queryExecution.executedPlan.toString) == 0,
        "widened bucket key must keep the SPJ layout")
      val got = j.collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(got.length == 400 && got.forall { case (id, w) => w == id * 7 },
        s"content diverged across the widening (got ${got.length})")
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed x unbucketed: only the unbucketed side shuffles (one-side SPJ)") {
    // VERDICT r14 #5 (SPARK-41471): the daily-delta join. The bucketed
    // corpus reads in place; the delta shuffles INTO the corpus's
    // KeyGroupedPartitioning through the catalog's own bucket function.
    val (ss, c) = freshCatalog("spj_oneside")
    ss.sql(s"CREATE TABLE $c.ns.corpus (id BIGINT, v BIGINT) PARTITIONED BY (bucket(8, id))")
    ss.sql(s"INSERT INTO $c.ns.corpus SELECT id, id FROM range(0, 4000)")
    ss.sql("SELECT id, id * 3 AS w FROM range(0, 4000)").createOrReplaceTempView("delta_in")
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT c.id, c.v, d.w FROM $c.ns.corpus c JOIN delta_in d ON c.id = d.id")
      val plan = j.queryExecution.executedPlan.toString
      assert(exchanges(plan) == 0, s"no hash/range shuffle allowed:\n${plan.take(2500)}")
      assert("Exchange keygroupedpartitioning".r.findAllIn(plan).length == 1,
        s"expected exactly the delta side's key-grouped shuffle:\n${plan.take(2500)}")
      assert(plan.contains("bucket-grouped scan"), "corpus must read in place")
      assert(j.count() == 4000)
      val spot = j.where("id = 1234").collect()
      assert(spot.length == 1 && spot(0).getLong(2) == 3702L)
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a bucket present on one side only still joins right (pushPartValues)") {
    val (ss, c) = freshCatalog("spj_lopsided")
    ss.sql(s"CREATE TABLE $c.ns.big (id BIGINT, v BIGINT) PARTITIONED BY (bucket(8, id))")
    ss.sql(s"CREATE TABLE $c.ns.small (id BIGINT, w BIGINT) PARTITIONED BY (bucket(8, id))")
    ss.sql(s"INSERT INTO $c.ns.big SELECT id, id FROM range(0, 4000)")
    // the small side holds a handful of ids — most buckets empty
    ss.sql(s"INSERT INTO $c.ns.small VALUES (3, 30), (17, 170), (3999, 39990)")
    // disable broadcast so the SPJ path (not a broadcast join) is exercised
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT b.id, b.v, s.w FROM $c.ns.big b " +
        s"JOIN $c.ns.small s ON b.id = s.id")
      val plan = j.queryExecution.executedPlan.toString
      assert(exchanges(plan) == 0, s"lopsided SPJ join shuffled:\n${plan.take(3000)}")
      assert(j.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq ==
        Seq((3L, 30L), (17L, 170L), (3999L, 39990L)))
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
