package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Runtime (DPP-style) file skipping on catalog scans
  * (RuntimeSkip.scala): a star probe with NO static predicate on the
  * fact side prunes fact files at execution time from the dimension
  * side's join-key values, through the same footer-stats evaluation
  * static pushdown uses. */
class DppSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // keep the clustered layout multi-file at test scale
  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  test("a selective dim filter prunes fact FILES at runtime; content exact") {
    val (ss, c) = freshCatalog("dpp_star")
    val t = s"$c.ns.fact"
    ss.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    // scattered ingest; the declared layout range-clusters it into
    // k-disjoint files
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ id % 1000, id FROM range(0, 50000)")
    // dim: 1000 keys, region selects 10 CONTIGUOUS keys (a prunable range)
    ss.sql("SELECT id AS k, CAST(id / 10 AS BIGINT) AS region FROM range(0, 1000)")
      .createOrReplaceTempView("dim")
    graft.catalog.SkipRecorder.clear(s"$t#dpp")
    val q = ss.sql(
      s"""SELECT sum(f.v) AS s, count(*) AS n
          FROM $t f JOIN dim d ON f.k = d.k
          WHERE d.region = 3""")
    val row = q.collect()(0)
    // content: keys 30..39, each with 50 rows of v = k + 1000*j
    val expect = (30L until 40L).flatMap(k => (0 until 50).map(j => k + 1000L * j))
    assert(row.getLong(1) == expect.size && row.getLong(0) == expect.sum,
      s"got (${row.getLong(0)}, ${row.getLong(1)})")
    // the runtime filter fired and pruned a strict file subset
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(s"$t#dpp")
      .getOrElse(fail("runtime filter never reached the scan (no #dpp record)"))
    assert(kept < total && kept >= 1, s"runtime skipping kept $kept of $total")
  }

  test("unclustered tables and untranslatable filters stay whole (conservative)") {
    val (ss, c) = freshCatalog("dpp_cons")
    val t = s"$c.ns.plain"
    ss.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)") // no clustering: no filter attrs
    ss.sql(s"INSERT INTO $t SELECT id % 100, id FROM range(0, 5000)")
    ss.sql("SELECT id AS k FROM range(0, 5)").createOrReplaceTempView("dim_small")
    graft.catalog.SkipRecorder.clear(s"$t#dpp")
    val n = ss.sql(s"SELECT count(*) FROM $t f JOIN dim_small d ON f.k = d.k")
      .head().getLong(0)
    assert(n == 250)
    // no cluster columns -> the scan declared no runtime-filter attributes
    assert(graft.catalog.SkipRecorder.lastFor(s"$t#dpp").isEmpty)
  }

  test("bucket-GROUP pruning: a point probe scans a strict subset of groups") {
    // VERDICT r14 #4: footer stats can never bound a hash, but the probe
    // side's runtime join-key VALUES hash through the write side's own
    // mixer — bucket groups they can't land in drop whole.
    val (ss, c) = freshCatalog("dpp_bucket")
    val t = s"$c.ns.fact"
    ss.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
    ss.sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(0, 4000)")
    // an OPAQUE dim (no expression linking tag to k — a derived tag
    // would fold into a static IN and the r15 static bucket pruning
    // would preempt the runtime path under test), routed through
    // parquet so the selective filter survives optimization (a local
    // relation's filter folds away and the DPP rule sees none)
    val dimPath = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-dpp-dim-").toString
    ss.sql("SELECT k, tag FROM VALUES (3L, 1), (257L, 1), (1000L, 0), (2000L, 0) " +
      "AS t(k, tag)").write.mode("overwrite").parquet(dimPath)
    ss.read.parquet(dimPath).createOrReplaceTempView("dim_probe")
    graft.catalog.SkipRecorder.clear(s"$t#bucketdpp")
    val got = ss.sql(
      s"""SELECT /*+ BROADCAST(d) */ f.k, f.v FROM $t f JOIN dim_probe d ON f.k = d.k
          WHERE d.tag = 1""").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((3L, 6L), (257L, 514L)), got.mkString(","))
    val (kept, total) = graft.catalog.SkipRecorder.lastFor(s"$t#bucketdpp")
      .getOrElse(fail("runtime bucket filter never reached the scan"))
    assert(kept < total && kept >= 1 && kept <= 2,
      s"bucket-group pruning kept $kept of $total groups")

    // conservative arm: a broad probe (keys landing in every bucket)
    // keeps every group, content stays exact
    ss.sql("SELECT id AS k, CASE WHEN id < 200 THEN 1 ELSE 0 END AS tag " +
      "FROM range(0, 4000)").createOrReplaceTempView("dim_broad")
    graft.catalog.SkipRecorder.clear(s"$t#bucketdpp")
    val n = ss.sql(
      s"""SELECT /*+ BROADCAST(d) */ count(*) FROM $t f JOIN dim_broad d ON f.k = d.k
          WHERE d.tag = 1""").head().getLong(0)
    assert(n == 200)
    graft.catalog.SkipRecorder.lastFor(s"$t#bucketdpp").foreach { case (k2, t2) =>
      assert(k2 == t2, s"a bucket-covering probe must keep every group ($k2 of $t2)")
    }
  }
}
