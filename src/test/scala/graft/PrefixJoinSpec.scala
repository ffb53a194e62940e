package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PrefixJoin
import graft.Tables

/** Exact prefix-filtered set-similarity join: losslessness vs brute
  * force, and the no-all-pairs plan shape. */
class PrefixJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("ppJoin equals Spark-side brute-force all-pairs Jaccard (lossless filter)") {
    val got = PrefixJoin.ppJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(split(col("text"), " ", -1)).as("ts"))
      .withColumn("sz", size(col("ts")))
    val a = docs.select(col("doc_id").as("a"), col("ts").as("tsa"), col("sz").as("sza"))
    val b = docs.select(col("doc_id").as("b"), col("ts").as("tsb"), col("sz").as("szb"))
    val brute = a.join(b, col("a") < col("b"))
      .withColumn("ni", expr("array_intersect_count(tsa, tsb)").cast("long"))
      .withColumn("nu", col("sza") + col("szb") - col("ni"))
      .filter(col("ni").cast("double") / col("nu") >= 0.95)
      .select(col("a"), col("b"), col("ni"),
        round(col("ni").cast("double") / col("nu"), 6).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == brute, s"prefix filter dropped or invented pairs: " +
      s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(got.nonEmpty, "fixture should contain near-dup pairs at 0.95")
  }

  test("ppJoin plan never forms a cartesian/nested-loop product") {
    val plan = PrefixJoin.ppJoin(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(5).mkString("\n"))
  }

  test("prefix arithmetic: p = sz - ceil(tau*sz) + 1, always >= 1, shrinks with tau") {
    def p(sz: Int, tau: Double) = sz - math.ceil(tau * sz).toInt + 1
    assert(p(10, 0.9) == 2 && p(10, 0.5) == 6 && p(1, 0.9) == 1)
    for (sz <- 1 to 50; tau <- Seq(0.5, 0.8, 0.9, 0.99))
      assert(p(sz, tau) >= 1 && p(sz, tau) <= sz)
  }

  test("every reported pair really clears the threshold; symmetry and ordering hold") {
    val rows = PrefixJoin.ppJoin(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(3) >= 0.95 - 5e-7 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) >= 1)
    }
  }

  test("float-boundary threshold: tau=0.55 subset pair at exactly J=0.55 is kept") {
    // 0.55*460 = 253.00000000000003 in doubles: without the -1e-9 guards
    // the length filter drops this pair and the ceil shortens the prefix
    // below the theorem's requirement. A is the first 253 of B's 460
    // distinct tokens, so J = 253/460 = 0.55 exactly (rational).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ppjoin-boundary-").toString
    try {
      val bToks = (1 to 460).map(i => f"t$i%04d")
      val aToks = bToks.take(253)
      Seq(
        (1L, aToks.mkString(" "), "en", "s", aToks.mkString(" ").length.toLong),
        (2L, bToks.mkString(" "), "en", "s", bToks.mkString(" ").length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = PrefixJoin.ppJoin(spark, dir, threshold = 0.55).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 2L, 253L)),
        s"boundary pair J=253/460=0.55 must survive the filters, got $got")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
  }

  test("randomized corpora: ppJoin equals brute force across thresholds (seeded)") {
    // seeded property sweep: small random corpora over a tiny alphabet
    // (forces heavy token sharing, boundary Jaccards, duplicate sets,
    // singleton docs) across three thresholds including a float-hostile
    // one. Brute force is recomputed per corpus in plain Scala.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (tau <- Seq(0.5, 0.7, 0.85)) {
      val dir = java.nio.file.Files.createTempDirectory(s"ppjoin-prop-").toString
      try {
        val vocab = (1 to 12).map(i => s"w$i")
        val docs = (0 until 60).map { id =>
          val n = 1 + rnd.nextInt(10)
          val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
          (id.toLong, words.mkString(" "), "en", "s", words.mkString(" ").length.toLong)
        }
        docs.toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = PrefixJoin.ppJoin(spark, dir, threshold = tau).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // plain-Scala brute force
        val sets = docs.map { case (id, text, _, _, _) =>
          id -> text.split(" ", -1).distinct.toSet
        }
        val brute = (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          ni = (sa & sb).size
          nu = sa.size + sb.size - ni
          if nu > 0 && ni.toDouble / nu >= tau
        } yield (a, b, ni.toLong)).toSet
        assert(got == brute,
          s"tau=$tau: missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
      } finally {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(dir)
        val st = java.nio.file.Files.walk(p)
        try st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
        finally st.close()
      }
    }
  }

  test("incremental probe equals brute-force new-batch x corpus; store is reused") {
    val got = PrefixJoin.ppJoinIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val splitFrom = Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(split(col("text"), " ", -1)).as("ts"))
      .withColumn("sz", size(col("ts")))
    val brute = docs.filter(col("doc_id") >= splitFrom)
      .select(col("doc_id").as("new_doc"), col("ts").as("tsa"), col("sz").as("sza"))
      .join(docs.filter(col("doc_id") < splitFrom)
        .select(col("doc_id").as("corpus_doc"), col("ts").as("tsb"), col("sz").as("szb")),
        col("new_doc") =!= col("corpus_doc"))
      .withColumn("ni", expr("array_intersect_count(tsa, tsb)").cast("long"))
      .withColumn("nu", col("sza") + col("szb") - col("ni"))
      .filter(col("ni").cast("double") / col("nu") >= 0.95)
      .select(col("new_doc"), col("corpus_doc"), col("ni"),
        round(col("ni").cast("double") / col("nu"), 6).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == brute, s"incremental probe diverged: missing=${(brute -- got).take(3)} " +
      s"extra=${(got -- brute).take(3)}")
    assert(got.nonEmpty)
    // second invocation must reuse the persisted index (same path back)
    val p1 = PrefixJoin.ensurePrefixIndex(spark, sf)
    val p2 = PrefixJoin.ensurePrefixIndex(spark, sf)
    assert(p1 == p2)
    assert(new java.io.File(s"$p1/prefix").exists && new java.io.File(s"$p1/sets").exists
      && new java.io.File(s"$p1/df").exists)
  }
}
