package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Manifests
import graft.TestSpark.freshCatalog

/** ATOMIC CTAS / RTAS (catalog/Staging.scala, r15): CREATE/REPLACE TABLE
  * AS SELECT stage their data into a commit subdir and publish with ONE
  * manifest swap — a failed write aborts invisibly (non-atomic RTAS
  * would have dropped the table first and LOST it), REPLACE is a
  * versioned commit with its own schema era, and time travel works
  * across the replace. */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CTAS publishes schema + data in one commit; collision refuses") {
    val (ss, c) = freshCatalog("stg_ctas")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t AS SELECT id, id * 2 AS v FROM range(0, 100)")
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq == Seq(100L, 9900L))
    // one data-bearing commit (v1), created atomically
    assert(Manifests.latestVersion(ss, t) == 1)
    val e = intercept[Exception](
      ss.sql(s"CREATE TABLE $t AS SELECT id FROM range(0, 5)"))
    assert(e.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS") ||
      e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    // verbs work on the CTAS table like any other
    ss.sql(s"DELETE FROM $t WHERE id % 10 = 0")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 90)
  }

  test("REPLACE TABLE is a versioned commit: new schema era, time travel across it") {
    val (ss, c) = freshCatalog("stg_rtas")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, lang STRING, n BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('l', CAST(id % 3 AS STRING)), id " +
      "FROM range(0, 90)")
    val preReplace = Manifests.latestVersion(ss, t)
    val oldIdOfId = ss.table(t).schema("id").metadata.getLong("parquet.field.id")
    // the nightly full-refresh shape: recompute as a ROLLUP (new schema)
    ss.sql(s"REPLACE TABLE $t AS SELECT lang, count(*) AS n_docs, sum(n) AS sum_n " +
      s"FROM $t VERSION AS OF $preReplace GROUP BY lang")
    val got = ss.sql(s"SELECT lang, n_docs, sum_n FROM $t ORDER BY lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 3 && got.forall(_._2 == 30L), got.mkString(","))
    // the previous generation is STILL a readable version, old schema
    val old = ss.sql(s"SELECT count(*), sum(n) FROM $t VERSION AS OF $preReplace").head()
    assert(old.getLong(0) == 90 && old.getLong(1) == (0L until 90L).sum)
    // a surviving column name keeps its field id across the replace
    val newIdOfLang = ss.table(t).schema("lang").metadata.getLong("parquet.field.id")
    val oldLangId = 2L // (id=1, lang=2, n=3 at CREATE)
    assert(newIdOfLang == oldLangId, s"lang id changed: $newIdOfLang")
    assert(oldIdOfId == 1L)
    // and a later CREATE OR REPLACE works on both present and missing
    ss.sql(s"CREATE OR REPLACE TABLE $t AS SELECT 1 AS one")
    assert(ss.sql(s"SELECT one FROM $t").head().getInt(0) == 1)
    ss.sql(s"CREATE OR REPLACE TABLE $c.ns.fresh AS SELECT 2 AS two")
    assert(ss.sql(s"SELECT two FROM $c.ns.fresh").head().getInt(0) == 2)
  }

  test("a failing RTAS leaves the original table fully intact (atomicity)") {
    val (ss, c) = freshCatalog("stg_atomic")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 50)")
    val failed = scala.util.Try(ss.sql(
      s"REPLACE TABLE $t AS SELECT id, CAST(raise_error('boom') AS BIGINT) AS v " +
        "FROM range(0, 10)"))
    assert(failed.isFailure)
    // non-atomic RTAS would have DROPPED the table before writing — here
    // the original generation is untouched
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq ==
      Seq(50L, (0L until 50L).sum))
  }

  test("bucketed CTAS: staged files are bucket-pure and SPJ-ready") {
    val (ss, c) = freshCatalog("stg_bucket")
    ss.sql(s"CREATE TABLE $c.ns.cb PARTITIONED BY (bucket(4, id)) AS " +
      "SELECT id, id * 2 AS v FROM range(0, 400)")
    ss.sql(s"CREATE TABLE $c.ns.dim (id BIGINT, w BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $c.ns.dim SELECT id, id FROM range(0, 400)")
    import graft.catalog.GraftBucket
    val byFile = ss.sql(s"SELECT _file, id FROM $c.ns.cb").collect()
      .map(r => (r.getString(0), GraftBucket.bucketOfLong(r.getLong(1), 4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byFile.nonEmpty && byFile.values.forall(_.length == 1),
      s"CTAS files not bucket-pure: ${byFile.filter(_._2.length > 1).keys.mkString(",")}")
    val saved = ss.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = ss.sql(s"SELECT b.id, b.v, d.w FROM $c.ns.cb b JOIN $c.ns.dim d ON b.id = d.id")
      assert("Exchange (hash|range)partitioning".r
        .findAllIn(j.queryExecution.executedPlan.toString).isEmpty,
        "CTAS-bucketed join must be Exchange-free")
      assert(j.count() == 400)
    } finally ss.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("guard rails: layout change on retained files and open WAP branches refuse") {
    val (ss, c) = freshCatalog("stg_guards")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) PARTITIONED BY (bucket(4, id))")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100)")
    val e1 = intercept[Exception](ss.sql(
      s"REPLACE TABLE $t PARTITIONED BY (bucket(8, id)) AS SELECT id, id AS v FROM range(0, 10)"))
    assert(e1.getMessage.contains("bucket layout"), e1.getMessage)
    // keeping the SAME layout is fine — everything re-fans anyway
    ss.sql(s"REPLACE TABLE $t PARTITIONED BY (bucket(4, id)) AS " +
      "SELECT id, id * 3 AS v FROM range(0, 10)")
    assert(ss.sql(s"SELECT sum(v) FROM $t").head().getLong(0) == (0L until 10L).map(_ * 3).sum)
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    val e2 = intercept[Exception](ss.sql(
      s"REPLACE TABLE $t AS SELECT 1 AS one"))
    assert(e2.getMessage.contains("WAP"), e2.getMessage)
  }

  test("a DROP + CREATE racing a staged REPLACE refuses at commit (ABA, ADVICE r15)") {
    val (ss, c) = freshCatalog("stg_aba")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 20)") // latest = v1
    // stage a REPLACE against this generation via the public staging API
    import org.apache.spark.sql.connector.catalog.{Identifier, StagingTableCatalog, TableInfo}
    val cat = ss.sessionState.catalogManager.catalog(c).asInstanceOf[StagingTableCatalog]
    val staged = cat.stageReplace(Identifier.of(Array("ns"), "t"),
      new TableInfo.Builder()
        .withColumns(Array(org.apache.spark.sql.connector.catalog.Column.create(
          "id", org.apache.spark.sql.types.LongType)))
        .withProperties(java.util.Map.of())
        .build())
    // interleave a DROP + CREATE + INSERT that lands the recreated table
    // on the SAME latest version number (v1) — the pure version-number
    // guard would pass; the generation (commit-ts) check must refuse
    ss.sql(s"DROP TABLE $t")
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id * 7 FROM range(0, 5)")
    assert(Manifests.latestVersion(ss, t) == 1) // same number, new generation
    val e = intercept[Exception](staged.commitStagedChanges())
    assert(e.getMessage.contains("generation"), e.getMessage)
    // the recreated generation is untouched by the refused publish
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq ==
      Seq(5L, (0L until 5L).map(_ * 7).sum))
  }
}
