package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Manifests
import graft.TestSpark.freshCatalog

/** Column RENAME/DROP as metadata-only commits over parquet FIELD IDS
  * (FieldIds in GraftCatalog.scala): every catalog column carries a
  * stable id from birth, every data file embeds the ids, reads resolve
  * by id — so a rename re-reads every old file (written under the old
  * parquet name) through the new name with zero data movement, a drop
  * is one metadata commit, and time travel serves each version under
  * the schema it was committed with. */
class RenameSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rename re-reads old files through the new name; time travel keeps the old one") {
    val (ss, c) = freshCatalog("rn_basic")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, body STRING, n BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('doc', CAST(id AS STRING)), id * 2 " +
      "FROM range(0, 100)")
    val preRename = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t RENAME COLUMN body TO text")
    // metadata-only: the rename moved ZERO data files
    val v = Manifests.latestVersion(ss, t)
    assert(Manifests.files(ss, t, v) == Manifests.files(ss, t, preRename),
      "rename must be a metadata-only commit")
    // new writes land under the new name; old files resolve by field id
    ss.sql(s"INSERT INTO $t SELECT id, concat('doc', CAST(id AS STRING)), id * 2 " +
      "FROM range(100, 150)")
    val got = ss.sql(s"SELECT id, text FROM $t WHERE id IN (5, 120)").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((5L, "doc5"), (120L, "doc120")), got.mkString(","))
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE text IS NOT NULL").head().getLong(0) == 150,
      "old files' column must resolve by id, not null-fill")
    // the pre-rename version reads through the OLD name
    val old = ss.sql(s"SELECT body FROM $t VERSION AS OF $preRename WHERE id = 5").head()
    assert(old.getString(0) == "doc5")
    assert(!ss.table(t).schema.fieldNames.contains("body"))
    // verbs keep working on the renamed column
    ss.sql(s"UPDATE $t SET text = 'redacted' WHERE id = 7")
    assert(ss.sql(s"SELECT text FROM $t WHERE id = 7").head().getString(0) == "redacted")
    // a session WITHOUT field-id reads must refuse the scan loudly — old
    // files would otherwise name-match and silently null-fill `text`
    ss.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    try {
      val e = intercept[Exception](ss.sql(s"SELECT text FROM $t").collect())
      assert(e.getMessage.contains("fieldId"), e.getMessage)
    } finally ss.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  }

  test("drop is one metadata commit; pre-drop versions still serve the column") {
    val (ss, c) = freshCatalog("rn_drop")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, pii STRING, n BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('ssn', CAST(id AS STRING)), id FROM range(0, 50)")
    val preDrop = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t DROP COLUMN pii")
    assert(Manifests.files(ss, t, Manifests.latestVersion(ss, t)) ==
      Manifests.files(ss, t, preDrop), "drop must be a metadata-only commit")
    // current schema no longer carries it; selecting it fails
    assert(!ss.table(t).schema.fieldNames.contains("pii"))
    assert(scala.util.Try(ss.sql(s"SELECT pii FROM $t").collect()).isFailure)
    assert(ss.sql(s"SELECT sum(n) FROM $t").head().getLong(0) == (0L until 50L).sum)
    // forensics/time travel: the pre-drop version still serves it
    val tr = ss.sql(s"SELECT pii FROM $t VERSION AS OF $preDrop WHERE id = 3").head()
    assert(tr.getString(0) == "ssn3")
    // writes after the drop carry only the surviving columns
    ss.sql(s"INSERT INTO $t SELECT id, id FROM range(50, 60)")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 60)
    // and an ADD after a DROP never reuses the dropped column's id: the
    // new column reads NULL everywhere, not the old bytes
    ss.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE note IS NOT NULL").head().getLong(0) == 0,
      "a reused field id would resurrect the dropped column's bytes")
  }

  test("rename chains survive compaction and repeated renames") {
    val (ss, c) = freshCatalog("rn_chain")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, a STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, concat('x', CAST(id AS STRING)) FROM range(0, 30)")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN a TO b")
    ss.sql(s"INSERT INTO $t SELECT id, concat('x', CAST(id AS STRING)) FROM range(30, 60)")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN b TO cc")
    ss.sql(s"INSERT INTO $t SELECT id, concat('x', CAST(id AS STRING)) FROM range(60, 90)")
    // three name eras, one id: all 90 rows resolve
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE cc IS NOT NULL").head().getLong(0) == 90)
    // compaction rewrites under the CURRENT name, ids preserved (the
    // commit-time id check would refuse otherwise)
    ss.sql(s"CALL $c.system.compact(table => 'ns.t', target_files => 1)")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE cc IS NOT NULL").head().getLong(0) == 90)
    assert(ss.sql(s"SELECT cc FROM $t WHERE id = 10").head().getString(0) == "x10")
  }

  test("guard rails: type changes, collisions, cluster/bloom columns, open branches") {
    val (ss, c) = freshCatalog("rn_guards")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v STRING, ts TIMESTAMP) PARTITIONED BY (id)")
    ss.sql(s"INSERT INTO $t VALUES (1, 'a', TIMESTAMP'2026-01-01 00:00:00')")
    // type change stays refused
    assert(scala.util.Try(
      ss.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")).isFailure)
    // rename onto an existing name refused
    val e1 = intercept[Exception](ss.sql(s"ALTER TABLE $t RENAME COLUMN v TO id"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    // dropping a declared cluster key refused
    val e2 = intercept[Exception](ss.sql(s"ALTER TABLE $t DROP COLUMN id"))
    assert(e2.getMessage.contains("cluster"), e2.getMessage)
    // renaming a cluster key FOLLOWS into the declared layout
    ss.sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    ss.sql(s"INSERT INTO $t VALUES (2, 'b', TIMESTAMP'2026-01-02 00:00:00')")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE doc_id >= 1").head().getLong(0) == 2)
    // schema changes refuse while a WAP branch is open
    ss.sql(s"CALL $c.system.create_branch(table => 'ns.t', branch => 'wap')")
    val e3 = intercept[Exception](ss.sql(s"ALTER TABLE $t RENAME COLUMN v TO w"))
    assert(e3.getMessage.contains("branches"), e3.getMessage)
    ss.sql(s"CALL $c.system.drop_branch(table => 'ns.t', branch => 'wap')")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    assert(ss.sql(s"SELECT w FROM $t WHERE doc_id = 1").head().getString(0) == "a")
  }

  test("type widening: old files up-cast, time travel keeps the narrow era") {
    // VERDICT r14 #6: int->bigint, float->double, decimal precision
    // growth are metadata-only versioned-schema commits over the
    // field-id substrate; reads up-cast old files' columns.
    val (ss, c) = freshCatalog("rn_widen")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, n INT, x FLOAT, d DECIMAL(9,2))")
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS INT), CAST(id AS FLOAT), " +
      "CAST(id AS DECIMAL(9,2)) FROM range(0, 100)")
    val preWiden = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT")
    ss.sql(s"ALTER TABLE $t ALTER COLUMN x TYPE DOUBLE")
    ss.sql(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(19,2)")
    // metadata-only: no data file moved across the three commits
    assert(Manifests.files(ss, t, Manifests.latestVersion(ss, t)) ==
      Manifests.files(ss, t, preWiden), "widening must be metadata-only commits")
    // wide-era ingest with values only the wide types can hold
    ss.sql(s"INSERT INTO $t SELECT id, id + ${Int.MaxValue.toLong} + 1, " +
      "CAST(id AS DOUBLE), CAST(id AS DECIMAL(19,2)) + 9999999999.00 FROM range(100, 110)")
    val sch = ss.table(t).schema
    assert(sch("n").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("x").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sch("d").dataType == org.apache.spark.sql.types.DecimalType(19, 2))
    // both eras read under the wide type; filters work across the eras
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 110)
    assert(ss.sql(s"SELECT sum(n) FROM $t WHERE n <= 99").head().getLong(0) ==
      (0L until 100L).sum)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE n > ${Int.MaxValue.toLong}")
      .head().getLong(0) == 10)
    assert(ss.sql(s"SELECT CAST(sum(x) AS BIGINT) FROM $t").head().getLong(0) ==
      (0L until 100L).sum + (100L until 110L).sum)
    // time travel: the pre-widen version serves its own NARROW schema
    val tt = ss.sql(s"SELECT n, x, d FROM $t VERSION AS OF $preWiden WHERE id = 7").head()
    assert(tt.get(0).isInstanceOf[Int] && tt.get(1).isInstanceOf[Float],
      s"pre-widen era must read under its own types, got ${tt.get(0).getClass}")
    // verbs keep working on the widened column
    ss.sql(s"UPDATE $t SET n = n + 1 WHERE id = 7")
    assert(ss.sql(s"SELECT n FROM $t WHERE id = 7").head().getLong(0) == 8L)
  }

  test("type widening guard rails: narrowing, reinterpretation, bloom keys refuse") {
    val (ss, c) = freshCatalog("rn_widen_guards")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, n INT, s STRING, d DECIMAL(9,2)) " +
      "TBLPROPERTIES ('write.bloom.columns'='n')")
    ss.sql(s"INSERT INTO $t VALUES (1, 1, 'a', 1.00)")
    def refused(sql: String, needle: String): Unit = {
      val e = intercept[Exception](ss.sql(sql))
      assert(e.getMessage.contains(needle), s"$sql -> ${e.getMessage}")
    }
    // narrowing / non-up-castable changes: Spark's analyzer refuses these
    // before the catalog is consulted (Cast.canUpCast gate)
    refused(s"ALTER TABLE $t ALTER COLUMN id TYPE INT", "NOT_SUPPORTED_CHANGE_COLUMN")
    refused(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(5,2)", "NOT_SUPPORTED_CHANGE_COLUMN")
    // up-castable but NOT metadata-safe: these reach the catalog's gate
    // (int->string/double reinterpret physical bytes; a scale change
    // moves the decimal point)
    refused(s"ALTER TABLE $t ALTER COLUMN n TYPE STRING", "widening")
    refused(s"ALTER TABLE $t ALTER COLUMN n TYPE DOUBLE", "widening")
    refused(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(19,4)", "widening")
    // a declared bloom column refuses even a legal widening: probes hash
    // the files' PHYSICAL type, so an int32-era bloom would wrongly skip
    // files holding the probed value
    refused(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT", "bloom")
    ss.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('write.bloom.columns')")
    ss.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT") // now fine
    assert(ss.table(t).schema("n").dataType == org.apache.spark.sql.types.LongType)
  }

  test("retired names are reusable (id-keyed stats): DROP+ADD is legal, poison impossible") {
    // Since r16 manifest file stats are keyed by FIELD ID, not name
    // (FieldIds.statKey) — so DROP c + ADD c is legal like Iceberg: the
    // new column's id finds NO stats in old files (conservative), and
    // the r14 hazard — old files' stats for the retired column answering
    // for the new one, letting SkipEval's IsNull arm prune files whose
    // rows all read NULL — is impossible by construction.
    val (ss, c) = freshCatalog("rn_retired")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, score BIGINT, v STRING)")
    ss.sql(s"INSERT INTO $t SELECT id, id * 3, concat('x', CAST(id AS STRING)) FROM range(0, 40)")
    ss.sql(s"ALTER TABLE $t DROP COLUMN score")
    // DROP c + ADD c — the exact shape the r14/r15 refusal blocked
    ss.sql(s"ALTER TABLE $t ADD COLUMN score BIGINT")
    // the POISON case: old files recorded nulls=0 for the RETIRED score
    // (every row had a value); if those stats answered for the NEW score,
    // `score IS NULL` would prune every old file and return 0 rows. The
    // id-keyed lookup misses instead, the files stay, and every old row
    // reads NULL under the fresh field id.
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE score IS NULL").head().getLong(0) == 40)
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE score IS NOT NULL").head().getLong(0) == 0)
    // new writes fill the reborn column; both generations coexist
    ss.sql(s"INSERT INTO $t VALUES (100, 'y', 7)") // schema is (id, v, score) post-evolution
    assert(ss.sql(s"SELECT sum(score) FROM $t").head().getLong(0) == 7)
    // a swap: v -> tmp, then a NEW column renamed onto v's old name —
    // also legal now; the renamed column carries no old stats
    ss.sql(s"ALTER TABLE $t RENAME COLUMN v TO tmp")
    ss.sql(s"ALTER TABLE $t ADD COLUMN fresh STRING")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN fresh TO v")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE v IS NULL").head().getLong(0) == 41)
    // tmp (the original v, same field id) still serves its data AND its
    // id-keyed stats still prune under the new name
    assert(ss.sql(s"SELECT tmp FROM $t WHERE id = 3").head().getString(0) == "x3")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE tmp IS NOT NULL").head().getLong(0) == 41)
  }

  test("nested struct fields: ids from birth, nested ADD/RENAME/DROP as metadata (r16)") {
    val (ss, c) = freshCatalog("rn_nested")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, meta STRUCT<a: STRING, n: BIGINT>)")
    ss.sql(s"INSERT INTO $t SELECT id, named_struct('a', concat('v', CAST(id AS STRING)), " +
      "'n', id * 2) FROM range(0, 20)")
    val pre = Manifests.latestVersion(ss, t)
    // nested ADD: metadata-only, old rows null-fill the new field
    ss.sql(s"ALTER TABLE $t ADD COLUMN meta.extra BIGINT")
    assert(Manifests.files(ss, t, Manifests.latestVersion(ss, t)) ==
      Manifests.files(ss, t, pre), "nested ADD must move no files")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE meta.extra IS NULL").head().getLong(0) == 20)
    // nested RENAME: old files resolve the renamed field BY ID
    ss.sql(s"ALTER TABLE $t RENAME COLUMN meta.n TO m")
    assert(ss.sql(s"SELECT sum(meta.m) FROM $t").head().getLong(0) ==
      (0L until 20L).map(_ * 2).sum)
    // post-evolution writes fill all three nested fields
    ss.sql(s"INSERT INTO $t SELECT id, named_struct('a', 'w', 'm', id, 'extra', 9L) " +
      "FROM range(100, 105)")
    assert(ss.sql(s"SELECT count(*) FROM $t WHERE meta.extra = 9").head().getLong(0) == 5)
    // nested DROP: current schema loses it; time travel still serves it
    val preDrop = Manifests.latestVersion(ss, t)
    ss.sql(s"ALTER TABLE $t DROP COLUMN meta.a")
    assert(!ss.table(t).schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("a"))
    assert(ss.sql(s"SELECT meta.a FROM $t VERSION AS OF $preDrop WHERE id = 3")
      .head().getString(0) == "v3")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 25)
    // row-level verbs keep working on the evolved struct table (the COW
    // rewrite re-stamps nested ids — the commit-time check would refuse
    // an id-less rewrite)
    ss.sql(s"DELETE FROM $t WHERE id = 101")
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 24)
    assert(ss.sql(s"SELECT sum(meta.m) FROM $t").head().getLong(0) ==
      (0L until 20L).map(_ * 2).sum + (100L until 105L).filterNot(_ == 101).sum)
    // guard rails: dropping the struct's last field and rename collisions refuse
    val e1 = intercept[Exception](ss.sql(s"ALTER TABLE $t RENAME COLUMN meta.m TO extra"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    ss.sql(s"ALTER TABLE $t DROP COLUMN meta.extra")
    val e2 = intercept[Exception](ss.sql(s"ALTER TABLE $t DROP COLUMN meta.m"))
    assert(e2.getMessage.contains("last field"), e2.getMessage)
  }
}
