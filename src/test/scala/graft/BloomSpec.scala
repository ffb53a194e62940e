package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Manifests

/** Parquet-native bloom filters (`TBLPROPERTIES
  * ('write.bloom.columns'='…')`): declared columns get a per-row-group
  * bloom in EVERY data file the table writes — plain inserts, streaming
  * epochs aside (same write path), MOR insert files, and maintenance
  * rewrites (compaction must not silently shed the index) — and the
  * property is schema-validated at DDL time. Presence is pinned from the
  * footers (the failure mode is silent: a missing bloom just decodes
  * every page), correctness relationally. */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  test("declared columns carry blooms in every written file; undeclared don't") {
    val (ss, c) = freshCatalog("bloom_write")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.bloom.columns'='id')")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(3) */ id, id * 10 FROM range(0, 3000)")
    assert(Manifests.allFilesHaveBloom(ss, t, "id"))
    assert(!Manifests.allFilesHaveBloom(ss, t, "v"))
    // point lookup correct on the scattered layout
    assert(ss.sql(s"SELECT v FROM $t WHERE id = 1234").head().getLong(0) == 12340L)
  }

  test("compaction and MOR insert files keep the bloom index") {
    val (ss, c) = freshCatalog("bloom_maint")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'write.bloom.columns'='id', 'write.row_level.mode'='merge-on-read')")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(3) */ id, id * 10 FROM range(0, 3000)")
    // MOR UPDATE appends reinsert files — they must carry the bloom too
    ss.sql(s"UPDATE $t SET v = 0 WHERE id < 10")
    assert(Manifests.allFilesHaveBloom(ss, t, "id"))
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 2)")
    assert(Manifests.allFilesHaveBloom(ss, t, "id"),
      "compaction shed the bloom index")
    assert(ss.sql(s"SELECT count(*), sum(v) FROM $t").head().toSeq ==
      Seq(3000L, (10 until 3000).map(_.toLong * 10).sum))
  }

  test("the property is schema-validated at CREATE and ALTER") {
    val (ss, c) = freshCatalog("bloom_ddl")
    intercept[Exception] {
      ss.sql(s"CREATE TABLE $c.ns.bad (id BIGINT) " +
        "TBLPROPERTIES ('write.bloom.columns'='nope')")
    }
    ss.sql(s"CREATE TABLE $c.ns.ok (id BIGINT, v BIGINT)")
    intercept[Exception] {
      ss.sql(s"ALTER TABLE $c.ns.ok SET TBLPROPERTIES ('write.bloom.columns'='missing')")
    }
    ss.sql(s"ALTER TABLE $c.ns.ok SET TBLPROPERTIES ('write.bloom.columns'='v')")
    ss.sql(s"INSERT INTO $c.ns.ok SELECT id, id FROM range(0, 100)")
    assert(Manifests.allFilesHaveBloom(ss, s"$c.ns.ok", "v"))
  }
}
