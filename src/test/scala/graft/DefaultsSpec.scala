package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Manifests
import graft.TestSpark.freshCatalog

/** `ADD COLUMN … DEFAULT` as metadata (VERDICT r15 #5): no backfill —
  * the folded constant lands in EXISTS_DEFAULT field metadata and files
  * that predate the column serve it on read; CURRENT_DEFAULT feeds
  * INSERTs that omit the column. SET DEFAULT changes future inserts
  * only (the existence default stays frozen — SQL standard). */
class DefaultsSpec extends AnyFunSuite {
  test("old files serve the default with zero backfill; inserts fill CURRENT_DEFAULT") {
    val (ss, c) = freshCatalog("def_basic")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 40)")
    val pre = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t ADD COLUMN tag STRING DEFAULT 'legacy'")
    val alterV = Manifests.latestVersion(ss, t)
    // metadata-only: the alter commit moved no files
    assert(Manifests.commitFileDiff(ss, t, alterV) ==
      (Manifests.files(ss, t, pre).size, 0, 0, Manifests.files(ss, t, pre).size))
    // every pre-evolution row serves the default
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE tag = 'legacy'").head().getLong(0) == 40)
    // an INSERT omitting the column gets the CURRENT default
    ss.sql(s"INSERT INTO $t (id, v) VALUES (100, 100)")
    // an INSERT with an explicit value keeps it
    ss.sql(s"INSERT INTO $t VALUES (101, 101, 'fresh')")
    val got = ss.sql(s"SELECT tag, count(*) FROM $t GROUP BY tag ORDER BY tag").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("legacy" -> 41L, "fresh" -> 1L), got.toString)
    // time travel to the defaultless era: no such column
    val e = intercept[Exception](
      ss.sql(s"SELECT tag FROM $t VERSION AS OF $pre").collect())
    assert(e.getMessage != null)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF $pre").head().getLong(0) == 40)
  }

  test("SET DEFAULT changes future inserts only; existence default stays frozen") {
    val (ss, c) = freshCatalog("def_set")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    ss.sql(s"ALTER TABLE $t ADD COLUMN n BIGINT DEFAULT 7")
    ss.sql(s"ALTER TABLE $t ALTER COLUMN n SET DEFAULT 9")
    ss.sql(s"INSERT INTO $t (id) VALUES (50)")
    // pre-column rows still serve the ADD-time (existence) default 7;
    // the new insert got the current default 9
    val bySrc = ss.sql(s"SELECT n, count(*) FROM $t GROUP BY n ORDER BY n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bySrc == Map(7L -> 10L, 9L -> 1L), bySrc.toString)
  }

  test("default-then-drop: the column drops like any other; old eras still serve it") {
    val (ss, c) = freshCatalog("def_drop")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 20)")
    ss.sql(s"ALTER TABLE $t ADD COLUMN q BIGINT DEFAULT 3")
    val withCol = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t DROP COLUMN q")
    assert(!ss.table(t).schema.fieldNames.contains("q"))
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 20)
    // the defaulted era still serves the default under time travel
    assert(ss.sql(s"SELECT sum(q) FROM $t VERSION AS OF $withCol").head().getLong(0) == 60)
  }

  test("CREATE TABLE with a declared default honors it on omitted inserts") {
    val (ss, c) = freshCatalog("def_create")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, flag STRING DEFAULT 'on')")
    ss.sql(s"INSERT INTO $t (id) VALUES (1)")
    ss.sql(s"INSERT INTO $t VALUES (2, 'off')")
    val got = ss.sql(s"SELECT id, flag FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "on"), (2L, "off")), got.toString)
  }
}
