package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.GraftCatalog

/** Clustered-table DDL (`PARTITIONED BY` identity columns = a clustered
  * layout contract enforced by the write path via
  * RequiresDistributionAndOrdering): the write plans a range shuffle +
  * sort, files land with tight non-overlapping ranges, scans prune with
  * no maintenance call, COW rewrites preserve the contract, and
  * non-identity transforms are rejected. */
class ClusteredTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // keep the tiny test shuffle wide so clustering yields >1 file
  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def seedWide(ss: SparkSession, t: String): Unit = {
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (id)")
    // deliberately scattered input: round-robin repartition destroys any
    // incidental ordering before the declared distribution re-imposes it
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id, CAST(id AS STRING) AS v " +
      "FROM range(0, 1000)")
  }

  test("the write plans the declared range distribution + sort") {
    val (ss, c) = freshCatalog("clu_plan")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (id)")
    val plan = ss.sql(s"INSERT INTO $t SELECT id, 'x' AS v FROM range(0, 100)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(id"), s"no range exchange in:\n$plan")
    assert(plan.contains("Sort [id"), s"no write-side sort in:\n$plan")
  }

  test("a scattered INSERT lands skippable: first scan prunes, values intact") {
    val (ss, c) = freshCatalog("clu_skip")
    val t = s"$c.ns.t"
    seedWide(ss, t)
    val n = ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 149").head().getLong(0)
    assert(n == 50)
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(total >= 4, s"expected a multi-file layout, got $total files")
    assert(kept < total && kept >= 1, s"expected a strict subset, got $kept/$total")
  }

  test("partitioning() reports the identity transforms; non-identity is rejected") {
    val (ss, c) = freshCatalog("clu_meta")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (id)")
    val cat = ss.sessionState.catalogManager.catalog(c).asInstanceOf[GraftCatalog]
    val transforms = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "t")).partitioning()
    assert(transforms.length == 1 && transforms(0).name == "identity" &&
      transforms(0).references()(0).fieldNames().toSeq == Seq("id"))
    // bucket reports its transform too (accepted since r14, SpjSpec);
    // transforms outside the supported set still refuse
    val e = intercept[Exception](
      ss.sql(s"CREATE TABLE $c.ns.t2 (id BIGINT, ts TIMESTAMP) PARTITIONED BY (years(ts))"))
    assert(e.getMessage.contains("identity"))
  }

  test("streaming epochs honor the clustered contract too") {
    val (ss, c) = freshCatalog("clu_stream")
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (id)")
    val src = java.nio.file.Files.createTempDirectory(Artifacts.root, "cluspec-src")
    ss.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS v")
      .repartition(8) // scattered input files
      .write.mode("overwrite").parquet(src.toString)
    val q = ss.readStream.schema("id BIGINT, v STRING").parquet(src.toString)
      .writeStream.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(Artifacts.root, "cluspec-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1000)
    ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 149").collect()
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(total >= 4 && kept < total,
      s"streaming epoch did not land range-clustered: $kept/$total")
  }

  test("COW rewrites preserve the clustered contract") {
    val (ss, c) = freshCatalog("clu_cow")
    val t = s"$c.ns.t"
    seedWide(ss, t)
    ss.sql(s"UPDATE $t SET v = 'touched' WHERE id BETWEEN 100 AND 149")
    // the rewrite went through the same distribution-declaring write:
    // the post-rewrite scan still prunes and the data is right
    val n = ss.sql(s"SELECT count(*) FROM $t WHERE id BETWEEN 100 AND 149 AND v = 'touched'")
      .head().getLong(0)
    assert(n == 50)
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(t).get
    assert(kept < total, s"post-rewrite scan lost pruning: $kept/$total")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1000)
  }
}
