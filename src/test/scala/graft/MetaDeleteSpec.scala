package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.connector.expressions.{Expressions, GeneralScalarExpression}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{FileStats, Manifests, SkipEval, V2Preds}

/** METADATA-ONLY DELETE (SupportsDeleteV2): the three-way contract —
  * provable predicates drop whole files in one manifest swap (zero files
  * written), unprovable ones fall back to the copy-on-write rewrite, and
  * the proof obligations themselves ([[SkipEval.mustMatchAll]]: the dual
  * of mightMatch, plus the v2→catalyst predicate translation in
  * [[V2Preds]]) are unit-pinned in the conservative direction: `true`
  * only on proof, because a wrong `true` silently drops live rows. */
class MetaDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): (SparkSession, String) =
    TestSpark.freshCatalog(name, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  test("aligned range DELETE is metadata-only: drops whole files, writes none") {
    val (ss, c) = freshCatalog("mdel_aligned")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    // two inserts split at 1000: every v1 file is provably < 1000 from
    // its own stats, WHATEVER the write parallelism did with the rows
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(3) */ id, id * 10 FROM range(0, 1000)")
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(3) */ id, id * 10 FROM range(1000, 2000)")
    val lowFiles = Manifests.files(ss, t, 1).size
    val allFiles = Manifests.files(ss, t, 2).size
    ss.sql(s"DELETE FROM $t WHERE id < 1000")
    val (prev, removed, added, inherited) = Manifests.commitFileDiff(ss, t, 3)
    assert(added == 0, s"metadata delete wrote $added files")
    assert(removed == lowFiles && prev == allFiles && inherited == allFiles - lowFiles)
    assert(ss.sql(s"SELECT count(*), min(id) FROM $t").head().toSeq == Seq(1000L, 1000L))
    // the delete is a first-class commit: history logs it, time travel
    // still reads the pre-delete snapshot
    val ops = ss.sql(s"CALL $c.system.history(table => 'ns.t')")
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "delete"))
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 2000)
  }

  test("full-table DELETE without WHERE is metadata-only too") {
    val (ss, c) = freshCatalog("mdel_all")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT)")
    ss.sql(s"INSERT INTO $t SELECT id FROM range(0, 500)")
    ss.sql(s"DELETE FROM $t")
    val (_, removed, added, _) = Manifests.commitFileDiff(ss, t, 2)
    assert(added == 0 && removed >= 1)
    assert(ss.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 0)
    assert(ss.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 500)
  }

  test("straddling files refuse the metadata path: DELETE falls back to COW, stays correct") {
    val (ss, c) = freshCatalog("mdel_straddle")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    // one ROUND-ROBIN-scattered insert: every file spans ~the whole id
    // range, so `id < 2000` is provable for no file
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(4) */ id, id * 10 FROM range(0, 4000)")
    ss.sql(s"DELETE FROM $t WHERE id < 2000")
    val (_, removed, added, _) = Manifests.commitFileDiff(ss, t, 2)
    assert(added >= 1, "expected the COW fallback to write rewritten files")
    assert(removed >= 1)
    assert(ss.sql(s"SELECT count(*), min(id) FROM $t").head().toSeq == Seq(2000L, 2000L))
  }

  test("nulls block the proof: a null row survives a range DELETE via the COW fallback") {
    val (ss, c) = freshCatalog("mdel_nulls")
    val t = s"$c.ns.t"
    ss.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    // one file whose every NON-NULL v matches the predicate — if the
    // metadata path fired here it would drop the null row with the file
    ss.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(1L, 5L), (2L, CAST(NULL AS BIGINT)), (3L, 7L) AS x(id, v)")
    ss.sql(s"DELETE FROM $t WHERE v < 100")
    val (_, _, added, _) = Manifests.commitFileDiff(ss, t, 2)
    assert(added >= 1, "null-carrying file must take the rewrite path")
    assert(ss.sql(s"SELECT id FROM $t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  // ---- SkipEval.mustMatchAll: the proof rules themselves ----

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))
  private def stats(lo: Long, hi: Long, rows: Long = 10, nulls: Long = 0) =
    FileStats(rows, Map("id" -> lo.toString), Map("id" -> hi.toString),
      Map("id" -> nulls))
  private val id = AttributeReference("id", LongType)()
  private def l(v: Long) = Literal(v)

  test("mustMatchAll: comparison proofs need zero nulls and whole-interval bounds") {
    val st = stats(100, 200)
    assert(SkipEval.mustMatchAll(schema, st, LessThan(id, l(201))))
    assert(!SkipEval.mustMatchAll(schema, st, LessThan(id, l(200))))
    assert(SkipEval.mustMatchAll(schema, st, LessThanOrEqual(id, l(200))))
    assert(SkipEval.mustMatchAll(schema, st, GreaterThanOrEqual(id, l(100))))
    assert(!SkipEval.mustMatchAll(schema, st, GreaterThan(id, l(100))))
    assert(SkipEval.mustMatchAll(schema, st, GreaterThan(id, l(99))))
    // literal-first shapes flip
    assert(SkipEval.mustMatchAll(schema, st, GreaterThan(l(201), id))) // 201 > id ⇔ id < 201
    assert(SkipEval.mustMatchAll(schema, st, LessThanOrEqual(l(100), id)))
    // single-valued file: equality and IN prove
    val point = stats(42, 42)
    assert(SkipEval.mustMatchAll(schema, point, EqualTo(id, l(42))))
    assert(!SkipEval.mustMatchAll(schema, point, EqualTo(id, l(43))))
    assert(SkipEval.mustMatchAll(schema, point, In(id, Seq(l(7), l(42)))))
    assert(!SkipEval.mustMatchAll(schema, st, EqualTo(id, l(150))))
  }

  test("mustMatchAll: unknown or nonzero nulls refuse every comparison proof") {
    assert(!SkipEval.mustMatchAll(schema, stats(100, 200, nulls = 1), LessThan(id, l(500))))
    assert(!SkipEval.mustMatchAll(schema, stats(100, 200, nulls = -1), LessThan(id, l(500))))
    // but IS NULL / IS NOT NULL read the null count directly
    assert(SkipEval.mustMatchAll(schema, stats(1, 1, rows = 5, nulls = 5), IsNull(id)))
    assert(SkipEval.mustMatchAll(schema, stats(1, 9, rows = 5, nulls = 0), IsNotNull(id)))
    assert(!SkipEval.mustMatchAll(schema, stats(1, 9, rows = 5, nulls = 2), IsNotNull(id)))
  }

  test("mustMatchAll: boolean structure — AND needs both, OR needs one arm covering") {
    val st = stats(100, 200)
    assert(SkipEval.mustMatchAll(schema, st,
      And(GreaterThanOrEqual(id, l(100)), LessThan(id, l(300)))))
    assert(!SkipEval.mustMatchAll(schema, st,
      And(GreaterThanOrEqual(id, l(100)), LessThan(id, l(150)))))
    assert(SkipEval.mustMatchAll(schema, st,
      Or(LessThan(id, l(50)), GreaterThanOrEqual(id, l(100)))))
    assert(!SkipEval.mustMatchAll(schema, st,
      Or(LessThan(id, l(150)), GreaterThan(id, l(150)))))
    // zero-row files vacuously satisfy anything; unknown shapes never prove
    assert(SkipEval.mustMatchAll(schema, stats(0, 0, rows = 0), EqualTo(id, l(-1))))
    assert(!SkipEval.mustMatchAll(schema, st,
      EqualTo(org.apache.spark.sql.catalyst.expressions.Remainder(id, l(7)), l(3))))
    // a column with no recorded bounds can never prove a comparison
    assert(!SkipEval.mustMatchAll(schema, FileStats(10, Map.empty, Map.empty, Map.empty),
      LessThan(id, l(10))))
  }

  // ---- V2Preds: the connector→catalyst predicate translation ----

  private def vcol(n: String) = Expressions.column(n)
  private def vlit(v: Long) = Expressions.literal(v)

  test("V2Preds translates the SkipEval shapes and refuses everything else") {
    def tr(p: VPred) = V2Preds.toCatalyst(p, schema)
    assert(tr(new VPred("=", Array(vcol("id"), vlit(3)))).exists {
      case EqualTo(_: AttributeReference, Literal(3L, LongType)) => true; case _ => false })
    assert(tr(new VPred("<", Array(vcol("id"), vlit(3)))).exists(_.isInstanceOf[LessThan]))
    // literal-first keeps the literal first (SkipEval owns the flip)
    assert(tr(new VPred(">", Array(vlit(3), vcol("id")))).exists {
      case GreaterThan(_: Literal, _: AttributeReference) => true; case _ => false })
    assert(tr(new VPred("IN", Array(vcol("id"), vlit(1), vlit(2)))).exists(_.isInstanceOf[In]))
    assert(tr(new VPred("IS_NULL", Array[org.apache.spark.sql.connector.expressions.Expression](vcol("id"))))
      .exists(_.isInstanceOf[IsNull]))
    assert(tr(new org.apache.spark.sql.connector.expressions.filter.And(
      new VPred("<", Array(vcol("id"), vlit(9))),
      new VPred(">=", Array(vcol("id"), vlit(1))))).exists(_.isInstanceOf[And]))
    assert(tr(new VPred("ALWAYS_TRUE", Array.empty[org.apache.spark.sql.connector.expressions.Expression]))
      .contains(Literal.TrueLiteral))
    // arithmetic (the `doc_id % 7 = 3` shape) must refuse
    assert(tr(new VPred("=", Array(
      new GeneralScalarExpression("%", Array(vcol("id"), vlit(7))), vlit(3)))).isEmpty)
    // unknown columns must refuse (never fabricate an attribute)
    assert(tr(new VPred("=", Array(vcol("nope"), vlit(3)))).isEmpty)
  }
}
